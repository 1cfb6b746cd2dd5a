#!/usr/bin/env python3
"""Run the benchmark over several seeds and append each result to a
JSON-lines file, the input of compare.py and jobs_repeat.py.

    python3 perfbench/sweep.py --out runs.jsonl [--workloads a,b]
        [--seeds 1-10] [--trace 0|1] [--seconds S]

Run from the repository root. Workloads and run length default to
BENCHMARK.json. Each line holds the workload, seed, trace flag, the
run's wall time and its result object (or the error of a failed run).
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            r = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s),
                                    "--seconds", "%g" % a.seconds,
                                    "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True)
            wall = time.monotonic() - t0
            rec = {"workload": w, "seed": s, "trace": a.trace, "wall_s": wall}
            lines = r.stdout.strip().splitlines()
            if r.returncode == 0 and lines:
                rec["result"] = json.loads(lines[-1])
                rec["notes"] = [x for x in lines[:-1]
                                if x.startswith("[perfbench]")]
            else:
                rec["error"] = (r.stderr or r.stdout)[-2000:]
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            res = rec.get("result", {})
            print("%-12s seed %3d  %6.1f s  attempted %s failed %s%s" % (
                w, s, wall, res.get("attempted"), res.get("failed"),
                "" if "result" in rec else "  RUN FAILED"), flush=True)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Job-count repeatability report from repeated traced runs.

    python3 perfbench/jobs_repeat.py --workload W [--seed S] [--runs N]
    python3 perfbench/jobs_repeat.py SPANS.json SPANS.json ...

The first form makes N traced runs of one workload with one seed (so
every run gets the same inputs) and reads their span files; the second
reads span files already written. For each operation it lines up the
calls of every run by call number and lists each operation whose Spark
job count differs between runs at the same call. A count that varies
with identical inputs comes from timing inside the program -- a bounded
wait that sometimes falls back to another job, for instance -- and
cannot carry a claim that rests on job counts.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def traced_runs(workload, seed, runs, seconds):
    paths = []
    for _ in range(runs):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", str(seed), "--seconds", "%g" % seconds,
             "--trace", "1"], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit("traced run failed")
        for line in r.stdout.splitlines():
            if line.startswith("[perfbench] span file: "):
                paths.append(os.path.join(ROOT, line.split(": ", 1)[1]))
    return paths


def calls(path):
    """op name -> [jobs of call 1, jobs of call 2, ...] in call order."""
    with open(path) as f:
        d = json.load(f)
    out = {}
    for s in d["spans"]:
        if s["parent"] is None:
            out.setdefault(s["name"], []).append(s["jobs"])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("spans", nargs="*")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seconds", type=float, default=None)
    a = ap.parse_args()
    paths = a.spans
    if a.workload:
        seconds = a.seconds
        if seconds is None:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                seconds = json.load(f)["run_seconds"]
        paths = traced_runs(a.workload, a.seed, a.runs, seconds)
    if len(paths) < 2:
        ap.error("need two or more traced runs")
    per_run = [calls(p) for p in paths]
    names = []
    for c in per_run:
        names += [n for n in c if n not in names]
    varying = 0
    print("%d traced runs: %s" % (len(paths), ", ".join(
        os.path.basename(p) for p in paths)))
    for n in names:
        seqs = [c.get(n, []) for c in per_run]
        common = min(len(s) for s in seqs)
        diffs = [(i + 1, sorted({s[i] for s in seqs}))
                 for i in range(common) if len({s[i] for s in seqs}) > 1]
        counts = sorted({j for s in seqs for j in s})
        if diffs:
            varying += 1
            print("VARIES  %-12s calls %s; jobs differ at %s" % (
                n, [len(s) for s in seqs],
                "; ".join("call %d: %s" % d for d in diffs)))
        else:
            print("same    %-12s calls %s; jobs per call %s" % (
                n, [len(s) for s in seqs], counts))
    print("%d operation(s) with job counts that vary between runs" % varying)


if __name__ == "__main__":
    main()

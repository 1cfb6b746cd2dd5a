#!/usr/bin/env python3
"""Summarise one set of benchmark runs, or compare two.

    python3 perfbench/compare.py BASE.jsonl [CHANGE.jsonl]

Inputs are sweep.py output. For every workload and end-to-end metric of
BENCHMARK.json the table gives the median and quartiles of each set
(statistics.quantiles(values, n=4)) and the spread, (q3 - q1) / median.
A metric whose spread exceeds its bound is flagged `unresolved`: the
runs cannot tell a change of that size from noise. With two sets, a
metric whose change median is worse than the base median by more than
the bound is flagged `REGRESSION`, one better by more than the bound
`better`, unless a spread exceeds the bound; a spread beyond the bound
still reads `better` when every change run beats every base run. The
exit code is 1 when any run failed, any metric regressed or a metric
is unresolved.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    bad = 0
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("trace"):
                continue
            res = rec.get("result")
            if res is None or not res.get("correct") or res.get("failed"):
                bad += 1
            if res is not None:
                runs.setdefault(rec["workload"], []).append(res)
    return runs, bad


def stats(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def values(runs, metric):
    return [r["metrics"][metric]["value"] for r in runs
            if metric in r["metrics"]]


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = [load(p) for p in argv[1:]]
    status = 0
    for i, (_, bad) in enumerate(sets):
        if bad:
            print("%s: %d run(s) failed or answered wrong" % (argv[1 + i], bad))
            status = 1
    for w in (x["name"] for x in bench["workloads"]):
        print("\n== %s" % w)
        print("%-18s %5s %-36s %-36s %8s  %s" % (
            "metric", "bound", "base median [q1, q3] spread",
            "change median [q1, q3] spread" if len(sets) > 1 else "",
            "change" if len(sets) > 1 else "", "verdict"))
        for m in bench["end_to_end"]:
            cols = [values(s[0].get(w, []), m["name"]) for s in sets]
            if not cols[0]:
                continue
            st = [stats(c) for c in cols if c]
            cells = ["%.4g [%.4g, %.4g] %5.1f%% n=%d" % (s[0], s[1], s[2],
                                                        100 * s[3], len(c))
                     for s, c in zip(st, cols)]
            unresolved = [s[3] > m["bound"] for s in st]
            # setup_s is measured once per run; its spread is reported,
            # but only its median is held to the bound
            spread_checked = m["name"] != "setup_s"
            verdict = "ok"
            change = ""
            if len(st) == 2:
                sign = 1 if m["better"] == "lower" else -1
                rel = sign * (st[1][0] - st[0][0]) / st[0][0]
                change = "%+.1f%%" % (100 * (st[1][0] - st[0][0]) / st[0][0])
                all_better = (max(cols[1]) < min(cols[0]) if sign > 0
                              else min(cols[1]) > max(cols[0]))
                if spread_checked and any(unresolved) and not all_better:
                    verdict = "unresolved"
                elif rel > m["bound"]:
                    verdict = "REGRESSION"
                elif rel < -m["bound"] or all_better:
                    verdict = "better"
                else:
                    verdict = "within bound"
            elif spread_checked and unresolved[0]:
                verdict = "unresolved"
            elif spread_checked and st[0][3] > m["bound"] / 3:
                verdict = "ok (spread above a third of the bound)"
            if verdict in ("unresolved", "REGRESSION"):
                status = 1
            print("%-18s %5.2f %-36s %-36s %8s  %s" % (
                m["name"], m["bound"], cells[0],
                cells[1] if len(cells) > 1 else "", change, verdict))
    return status


if __name__ == "__main__":
    sys.exit(main(sys.argv))

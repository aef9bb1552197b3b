#!/usr/bin/env python3
"""Compare two result sets of the benchmark, workload by workload.

    python3 perfbench/compare.py <dir A> <dir B> [--bench BENCHMARK.json]

A result set is a directory of run records (`run.py --record <file>`, as
written by series.py). For every workload and end-to-end metric of
BENCHMARK.json it prints both medians and quartiles, the spread of each set
(interquartile distance over the median), the share of alternating pairs B
won, and a verdict against the metric's bound:

  improved     B wins at least 9 in 10 pairs and the medians differ by more
               than A's interquartile distance, in the better direction
  worse        B's median is worse than A's by more than the bound
  within_bound neither, and both spreads are inside the bound
  unresolved   a spread is wider than the bound, unless every run of B
               reads better than every run of A (then improved)

Pairs are formed in run order (the i-th run of A with the i-th of B), so
alternate the two sides while collecting them. Exit code 1 when any verdict
is `worse`.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace"):
            continue
        runs.setdefault(r["workload"], []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r.get("started_unix", 0))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(a, b, better, bound):
    sign = 1 if better == "higher" else -1
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    won = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (ma - mb) / ma if ma else 0.0
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if won >= 0.9 and sign * (mb - ma) > (qa3 - qa1):
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif max(spread(a), spread(b)) > bound:
        v = "improved" if all_better else "unresolved"
    else:
        v = "within_bound"
    return v, won


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--bench", default="BENCHMARK.json")
    args = ap.parse_args()
    with open(args.bench) as fh:
        spec = json.load(fh)
    ra, rb = load(args.a), load(args.b)
    worse = False
    hdr = (f"{'workload':9} {'metric':14} {'A median':>12} {'A q1..q3':>23} "
           f"{'B median':>12} {'B q1..q3':>23} {'sprA':>6} {'sprB':>6} {'won':>5} verdict")
    print(hdr)
    for w in [x["name"] for x in spec["workloads"]]:
        if w not in ra or w not in rb:
            print(f"{w:9} (missing in {'A' if w not in ra else 'B'})")
            continue
        for m in spec["end_to_end"]:
            n = m["name"]
            a = [r["e2e"][n]["value"] for r in ra[w]]
            b = [r["e2e"][n]["value"] for r in rb[w]]
            v, won = verdict(a, b, m["better"], m["bound"])
            worse |= v == "worse"
            qa, qb = quartiles(a), quartiles(b)
            print(f"{w:9} {n:14} {qa[1]:12.5g} {qa[0]:11.5g}..{qa[2]:<10.5g} "
                  f"{qb[1]:12.5g} {qb[0]:11.5g}..{qb[2]:<10.5g} "
                  f"{spread(a):6.3f} {spread(b):6.3f} {won:5.2f} {v}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()

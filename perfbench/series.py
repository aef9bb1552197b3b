#!/usr/bin/env python3
"""Run the benchmark over several seeds and keep every run's record.

    python3 perfbench/series.py --out <dir> [--workloads render,resume]
        [--seeds 1-10] [--trace 0|1] [--seconds <s>]

Each run's full record goes to <dir>/<workload>-<seed>-t<trace>.json (input
to compare.py). Afterwards it prints, per workload and end-to-end metric,
the median and the spread the acceptance rule uses: the distance between
the first and third quartile (statistics.quantiles(n=4)) over the median,
next to the metric's bound. Run it from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else \
        [w["name"] for w in spec["workloads"]]
    secs = args.seconds or spec["run_seconds"]
    os.makedirs(args.out, exist_ok=True)
    bad = 0
    for w in workloads:
        for s in seeds(args.seeds):
            path = os.path.join(args.out, f"{w}-{s}-t{args.trace}.json")
            t0 = time.time()
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(s), "--seconds", str(secs),
                                "--trace", str(args.trace), "--record", path],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            bad += r.returncode != 0
            print(f"{w} seed={s} rc={r.returncode} correct={res.get('correct')} "
                  f"wall={time.time() - t0:.1f}s "
                  + " ".join(f"{k}={v['value']:.5g}" for k, v in res.get("metrics", {}).items()),
                  flush=True)
    if args.trace:
        sys.exit(1 if bad else 0)
    print(f"\n{'workload':9} {'metric':14} {'median':>12} {'spread':>8} {'bound':>6}")
    for w in workloads:
        recs = []
        for s in seeds(args.seeds):
            p = os.path.join(args.out, f"{w}-{s}-t0.json")
            if os.path.exists(p):
                with open(p) as fh:
                    recs.append(json.load(fh))
        if len(recs) < 2:
            continue
        for m in spec["end_to_end"]:
            xs = [r["e2e"][m["name"]]["value"] for r in recs]
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            print(f"{w:9} {m['name']:14} {q2:12.5g} {(q3 - q1) / q2:8.4f} {m['bound']:6.2f}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run a workload once per seed and report how steady its metrics are.

    python3 perfbench/spread.py --workload suite --seeds 1 2 3 4 5 \
        [--seconds 15] [--trace 1]

For each metric it prints the median over the runs and the spread: the
distance between the first and third quartile (statistics.quantiles,
n=4) as a share of the median. With --trace 1 it also lists which
per-layer counts repeat exactly across the runs, so a later change can
name a deterministic counter next to its wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    results = []
    for seed in args.seeds:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}")
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={time.time() - t0:.1f}s", flush=True)
        results.append(r)
    if len(results) < 2:
        raise SystemExit("fewer than two successful runs")

    print(f"\n{'metric':40} {'median':>14} {'spread':>8}  values")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        shown = " ".join(f"{v:.6g}" for v in vals)
        print(f"{name:40} {med:14.6g} {spread:8.3f}  {shown}")

    if args.trace:
        counts = [n for n, m in results[0]["metrics"].items()
                  if m["unit"] in ("count", "bytes")]
        same = [n for n in counts
                if len({r["metrics"][n]["value"] for r in results}) == 1]
        print("\ncounts that repeat exactly:", ", ".join(same) or "none")
        print("counts that vary:", ", ".join(n for n in counts if n not in same) or "none")


if __name__ == "__main__":
    main()

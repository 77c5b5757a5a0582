#!/usr/bin/env python3
"""Steadiness check: run one workload N times, one seed per run, and
print per metric the median, the quartiles, the quartile spread as a
share of the median, and the max/min ratio.

    python3 enginebench/steady.py --workload cdc_maintain --runs 10 --first-seed 1

Each run is untraced and measures BENCHMARK.json's run_seconds.
Quartiles are Python's statistics.quantiles(values, n=4). The bound
column is the metric's bound from BENCHMARK.json; a spread at or above
a third of it is marked.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = []
    for i in range(a.runs):
        seed = a.first_seed + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            sys.exit(f"run with seed {seed} failed (exit {p.returncode})")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["seed"] = seed
        r["wall_s"] = wall
        results.append(r)
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={wall:.1f}s", file=sys.stderr, flush=True)

    print(f"{a.workload}: {a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}, "
          f"{seconds} s each; failed share "
          f"{sum(r['failed'] for r in results)}/{sum(r['attempted'] for r in results)}, "
          f"run wall {min(r['wall_s'] for r in results):.0f}-{max(r['wall_s'] for r in results):.0f} s")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} "
          f"{'max/min':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        ratio = max(vals) / min(vals) if min(vals) > 0 else float("inf")
        b = bounds.get(name)
        mark = " !" if b is not None and name != "setup_s" and spread >= b / 3 else ""
        print(f"{name:32} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f} {ratio:8.4f} "
              f"{'' if b is None else b:>6}{mark}")


if __name__ == "__main__":
    main()

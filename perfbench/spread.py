#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload etl_cycle --runs 10 [--first-seed 100]

Runs the timed benchmark once per seed (first-seed, first-seed+1, ...) and
prints, for every metric, its median and the distance between the first
and third quartiles (statistics.quantiles, n=4) as a share of the median,
next to the metric's bound from BENCHMARK.json. A change is judged against
these bounds, so every spread should sit well below its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {}
    for i in range(args.runs):
        seed = args.first_seed + i
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: benchmark exited with {out.returncode}")
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{k}: median {med:.4g}, spread {(q3 - q1) / med:.3f} (bound {bounds.get(k)})")


if __name__ == "__main__":
    main()

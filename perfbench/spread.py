#!/usr/bin/env python3
"""Run one workload with several seeds and report how much each end-to-end
metric spreads: the distance between the first and third quartile as a
share of the median, next to the bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload graph_loops --runs 10 [--first-seed 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {name: [] for name in bounds}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}")
        result = json.loads(out.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed}: correct={result['correct']} " +
              " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k in values:
            values[k].append(row[k])
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        print(f"{k:18s} median={med:.4g} spread={spread:.3f} bound={bounds[k]} "
              f"({'ok' if spread < bounds[k] / 3 else 'WIDE'})")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [workload ...]

Runs the benchmark --runs times per workload (default: every workload in
BENCHMARK.json), each with another seed, and prints per metric the median,
the quartiles and the spread: the distance between the first and third
quartile (statistics.quantiles(values, n=4)) as a share of the median,
next to a third of the metric's bound.
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
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    for w in args.workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            r = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                   str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            out = json.loads(r.stdout.strip().splitlines()[-1])
            if not out["correct"]:
                print(f"{w} seed {seed}: {out['failed']}/{out['attempted']} failed")
            for name in values:
                values[name].append(out["metrics"][name]["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{n} {v[-1]:.4f}" for n, v in values.items()), flush=True)
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print(f"{w:14s} {m['name']:12s} median {med:10.4f}  q1 {q1:10.4f}  "
                  f"q3 {q3:10.4f}  spread {(q3 - q1) / med:6.3f}  "
                  f"bound/3 {m['bound'] / 3:6.3f}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage (from the root of a checkout):
  python3 perfbench/spread.py [--runs 10] [--first-seed 1] [workload ...]

Runs each workload --runs times, each with another seed, untraced, and
prints per metric the median and the interquartile distance as a share
of the median (statistics.quantiles(values, n=4)), next to the metric's
bound from BENCHMARK.json. A spread under a third of the bound is steady.
"""
import argparse
import json
import statistics
import subprocess
import sys

BENCH = json.load(open("BENCHMARK.json"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    for w in a.workloads or [x["name"] for x in BENCH["workloads"]]:
        values = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
                                "--trace", "0"], stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if res["failed"]:
                print(f"{w} seed {seed}: {res['failed']}/{res['attempted']} ops failed")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med
            flag = "steady" if share < bounds[m] / 3 else "WIDE"
            print(f"{w:11s} {m:13s} median {med:10.4f}  spread {share:6.3f}  "
                  f"bound {bounds[m]:.2f}  {flag}")


if __name__ == "__main__":
    main()

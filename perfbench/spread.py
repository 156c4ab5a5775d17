#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed on one workload and
prints, per metric, the median and the interquartile range as a share of
the median (the spread a run-to-run comparison has to live with).

Usage (from the root of a checkout):
  python3 perfbench/spread.py --workload api_lookup --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json run_seconds")
    a = ap.parse_args()
    if a.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            a.seconds = json.load(f)["run_seconds"]
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        steal = next((l.split(": ")[-1] for l in lines if "cpu steal" in l), "n/a")
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              f"steal={steal} " + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print(f"{'metric':34s} {'median':>12s} {'iqr/median':>10s}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:34s} {med:12.4g} {spread:10.4f}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload gate_ingest --runs 10 \
        [--first-seed 1] [--seconds 12] [--trace 0]

Runs `perfbench/run.py` once per seed (first-seed, first-seed + 1, ...)
from the current directory, then prints, per metric, the median and the
interquartile range as a share of the median (Python's
`statistics.quantiles(values, n=4)`), next to the metric's bound from
BENCHMARK.json. A spread above a third of its bound means the benchmark
is not steady enough to resolve that bound.
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values, failures = {}, 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", a.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {p.returncode})")
            failures += 1
            continue
        r = json.loads(lines[-1])
        if not r["correct"]:
            failures += 1
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']}"
              f" failed={r['failed']}")
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{a.workload}: {a.runs} runs, {failures} failed or incorrect")
    print(f"{'metric':40} {'median':>14} {'iqr/median':>11} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        b = bounds.get(k)
        flag = "" if b is None or spread <= b / 3 else "  (> bound/3)"
        print(f"{k:40} {med:14.6g} {spread:11.4f} "
              f"{'' if b is None else b:>6}{flag}")


if __name__ == "__main__":
    main()

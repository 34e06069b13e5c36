#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed and reports, for every
metric, the median and the quartile spread (q3 - q1) / median over the
runs, next to the metric's bound in BENCHMARK.json.

Run from the repository root:

    python3 perfbench/spread.py --workload crawl --seeds 1-10 [--trace 0]
"""

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seed_list(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in text.split(",")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="'1-10' or '3,5,8'")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in seed_list(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        print(f"seed {seed}: exit {proc.returncode} in {time.time() - t0:.1f} s, "
              f"correct={res.get('correct')} failed={res.get('failed')}/{res.get('attempted')}",
              flush=True)
        for name, m in res.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        xs = [x for x in xs if x is not None]
        if len(xs) < 2 or not stats.median(xs):
            print(f"{name:28s} values={xs}")
            continue
        print(f"{name:28s} median={stats.median(xs):<12.6g} "
              f"spread={stats.quartile_spread(xs):.3f} bound={bounds.get(name)} "
              f"values={[round(x, 4) for x in xs]}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Runs one workload on several seeds and prints each metric's median and
spread (interquartile range as a share of the median), plus each run's
wall. Each run measures for BENCHMARK.json's run_seconds, as the
benchmark is run for comparisons. Each run's stderr goes to
.bench_work/spread/.

    python3 linkbench/spread.py --workload link-hot --seeds 1-10 [--trace 0]
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
LOGS = os.path.join(ROOT, ".bench_work", "spread")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="FIRST-LAST")
    p.add_argument("--trace", default="0", choices=["0", "1"])
    a = p.parse_args()
    first, last = (int(x) for x in a.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    os.makedirs(LOGS, exist_ok=True)
    values, walls = {}, []
    for seed in range(first, last + 1):
        t0 = time.monotonic()
        with open(os.path.join(LOGS, f"{a.workload}-seed{seed}-trace{a.trace}.log"), "w") as log:
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                                a.workload, "--seed", str(seed), "--seconds", seconds,
                                "--trace", a.trace],
                               stdout=subprocess.PIPE, stderr=log, text=True)
        walls.append(time.monotonic() - t0)
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}")
            continue
        res = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            print(f"{k:32s} median {med:.6g}  spread {(q[2] - q[0]) / med:.4f}  n={len(vs)}")
        else:
            print(f"{k:32s} median {med:.6g}  n={len(vs)}")


if __name__ == "__main__":
    main()

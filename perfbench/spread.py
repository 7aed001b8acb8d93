#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median
and quartile spread, the way two benchmark records are compared.

    python3 perfbench/spread.py --workload serve_analytics --seeds 1 2 3 4 5

Each run is a fresh ``run.py`` process. Prints one line per run (wall
time and metrics) and, per metric, the median and
``(Q3 - Q1) / median`` from ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        seconds = json.load(f)["run_seconds"]

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode} after {wall:.1f} s")
            print(proc.stderr[-3000:])
            continue
        res = json.loads(lines[-1])
        metrics = {k: v["value"] for k, v in res["metrics"].items()}
        values.setdefault("wall_s", []).append(wall)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
        shown = " ".join(f"{k}={v:.4g}" for k, v in metrics.items())
        print(
            f"seed {seed}: wall {wall:.1f} s correct={res['correct']} "
            f"attempted={res['attempted']} failed={res['failed']} {shown}",
            flush=True,
        )
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
        else:
            spread = float("nan")
        print(f"{k:20s} median {med:10.4g}  spread {spread:6.3f}  n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

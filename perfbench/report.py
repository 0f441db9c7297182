#!/usr/bin/env python3
"""Run every workload once and print its metrics by name and unit.

    python3 perfbench/report.py [--seed 1] [--trace 0|1]

Each workload runs in its own process through run.py, which checks
every result against the reference; the table shows that check too.
Exits non-zero if any run fails or reports an incorrect result.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import WORKLOADS  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    ok = True
    for wl in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
             "--seed", str(args.seed), "--seconds", str(seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{wl}: run failed with exit code {proc.returncode}")
            ok = False
            continue
        res = json.loads(lines[-1])
        ok &= res["correct"]
        print(f"{wl}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for name, m in res["metrics"].items():
            value = "failed" if m["value"] is None else f"{m['value']:.4f}"
            print(f"  {name:<34}{value:>14} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

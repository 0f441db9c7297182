#!/usr/bin/env python3
"""Tiny-size smoke check of the benchmark itself.

    python3 perfbench/smoke.py

1. The same seed generates byte-identical inputs and references; another
   seed generates different inputs.
2. BENCHMARK.json lists exactly the metrics run.py and traced.py report,
   with the same units.
3. Each workload's job, run on two separately generated copies of one
   seed, passes its reference check and gives the identical result.

Exits non-zero on the first failure. Takes about two minutes, most of it
Spark session set-up.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run, traced, workloads as W  # noqa: E402

TINY = {
    "kg_build": dict(n_pages=60, n_auth=60, n_noise=20, html_kb=1, text_frac=0.5),
    "webtext_dedup": dict(n_docs=80, words_per_doc=30, dup_frac=0.1, near_frac=0.1),
}


def fail(msg: str) -> None:
    print(f"smoke: FAIL: {msg}", file=sys.stderr)
    sys.exit(1)


def check_manifest() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    if e2e != W.END_TO_END_UNITS:
        fail(f"end_to_end metrics {e2e} != run.py's {W.END_TO_END_UNITS}")
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if layer != traced.UNITS:
        fail(f"per_layer metrics differ: {set(layer) ^ set(traced.UNITS)}")
    if [w["name"] for w in bench["workloads"]] != list(run.WORKLOADS):
        fail("workload names differ from run.py's")


def main() -> int:
    check_manifest()
    base = os.path.join(run.WORK, "smoke")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(run.WORK, exist_ok=True)
    run.isolate_environment()
    copies = {}
    for wl, sizes in TINY.items():
        a = W.prepare(wl, 7, os.path.join(base, f"{wl}-7a"), sizes)
        b = W.prepare(wl, 7, os.path.join(base, f"{wl}-7b"), sizes)
        c = W.prepare(wl, 8, os.path.join(base, f"{wl}-8"), sizes)
        if a != b:
            fail(f"{wl}: seed 7 generated different inputs or references")
        if a["input_sha256"] == c["input_sha256"]:
            fail(f"{wl}: seeds 7 and 8 generated identical inputs")
        copies[wl] = a
    print("smoke: inputs deterministic per seed, distinct across seeds", file=sys.stderr)

    from serialization_agents_spark import session

    spark = session.get_spark(
        master=f"local[{os.cpu_count()}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        for wl, ref in copies.items():
            prints = set()
            for copy in ("7a", "7b"):
                inputs = os.path.join(base, f"{wl}-{copy}")
                out = W.job(wl, spark, inputs, os.path.join(base, f"out-{wl}-{copy}"))
                problems, fingerprint = W.check(wl, spark, out, ref)
                if problems:
                    fail(f"{wl}: {problems}")
                prints.add(fingerprint)
            if len(prints) != 1:
                fail(f"{wl}: the same seed gave different outputs")
            print(f"smoke: {wl} outputs correct and identical for one seed", file=sys.stderr)
        if not run.settle(spark):
            fail("cached blocks still held after the jobs")
    finally:
        run.stop(spark)
    shutil.rmtree(base, ignore_errors=True)
    print("smoke: OK", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

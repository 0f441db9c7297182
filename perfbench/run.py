#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run is one process:

1. generate the seeded inputs and their reference (cached per workload
   and seed under ``.perfbench_work/``; never timed);
2. build the session with ``session.get_spark(master="local[<nproc>]")``
   and measure it (``setup_s`` wall, ``setup_cpu_s``; JVM launch and
   both warm-up passes);
3. run the workload's job once, cold (``cold_build_cpu_s``, and the
   Spark jobs it launched, ``cold_build_jobs``), check its result
   against the reference and wait for the block manager to drop every
   cached block. One job already takes longer than ``--seconds`` at the
   benchmark's sizes, so a run measures exactly one;
4. print one JSON line: with ``--trace 0`` the end-to-end metrics, with
   ``--trace 1`` the per-layer metrics of a traced replay.

Every file the run writes stays under ``.perfbench_work/`` in the
checkout. The last line of standard output is the result; anything
else goes to standard error.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("kg_build", "webtext_dedup")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate_environment() -> None:
    """Keep every temporary and Spark local file inside the checkout
    and run with the program's own defaults."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = None


def settle(spark, timeout_s: float = 20.0) -> bool:
    """Wait until the block manager holds no cached RDD. Each poll drops
    Python-side references (gc) and asks the JVM to collect, so the
    ContextCleaner sees the dead checkpoints; True when storage is empty."""
    jsc = spark.sparkContext._jsc.sc()
    t0 = time.perf_counter()
    while True:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if len(jsc.getRDDStorageInfo()) == 0:
            return True
        if time.perf_counter() - t0 > timeout_s:
            return False
        time.sleep(0.2)


def stop(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tree_cpu_ticks(pid: int) -> int:
    """utime + stime of `pid`, its reaped children and its live
    descendants (the JVM's Python workers), in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process exited
        return 0
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    for task in tasks:
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                children = f.read().split()
        except OSError:  # the thread exited after the listing
            continue
        ticks += sum(_tree_cpu_ticks(int(c)) for c in children)
    return ticks


def cpu_s(spark) -> float:
    """CPU seconds used so far by this process and the JVM's process tree.
    Unlike wall time this does not count time the host withheld the CPU."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime + _tree_cpu_ticks(pid) / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


class Runner:
    """Runs one workload's job, checks its result against the reference
    and counts failed operations (raised, wrong result, or cached blocks
    left behind)."""

    def __init__(self, spark, workload: str, inputs: str, ref: dict):
        from perfbench import workloads as W

        self.spark, self.W, self.inputs, self.ref = spark, W, inputs, ref
        self.workload = workload
        self.attempted = 0
        self.failed = 0

    def once(self) -> tuple[float, int]:
        """Run the job once: (CPU seconds, Spark jobs launched), both NaN
        when it failed."""
        self.attempted += 1
        out_dir = os.path.join(WORK, "out", f"job{self.attempted}")
        shutil.rmtree(out_dir, ignore_errors=True)  # never resume a stale run
        sc = self.spark.sparkContext
        group = f"perfbench-job{self.attempted}"
        try:
            sc.setJobGroup(group, "perfbench timed job")
            try:
                c0, t0 = cpu_s(self.spark), time.perf_counter()
                out = self.W.job(self.workload, self.spark, self.inputs, out_dir)
                cpu, wall = cpu_s(self.spark) - c0, time.perf_counter() - t0
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            problems, _ = self.W.check(self.workload, self.spark, out, self.ref)
            log(f"[{self.workload}] job {self.attempted}: wall {wall:.3f} s, "
                f"cpu {cpu:.3f} s, {jobs} Spark jobs")
        except Exception as e:  # a failed operation never aborts the run
            log(traceback.format_exc())
            problems = [f"raised {type(e).__name__}: {e}"]
        out = None
        if not settle(self.spark):
            problems.append("cached blocks still held after the job")
        if problems:
            self.failed += 1
            log(f"[{self.workload}] failed operation: {problems}")
            return float("nan"), float("nan")
        return cpu, jobs


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        from serialization_agents_spark import session
    except ImportError as e:
        log(f"perfbench: the program is not importable from {ROOT}: {e}")
        return 2
    from perfbench import workloads as W

    os.makedirs(WORK, exist_ok=True)
    isolate_environment()
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    inputs = os.path.join(WORK, "inputs", f"{args.workload}-{args.seed}")
    ref = W.prepare(args.workload, args.seed, inputs)

    c0 = resource.getrusage(resource.RUSAGE_SELF)
    c0, t0 = c0.ru_utime + c0.ru_stime, time.perf_counter()
    spark = session.get_spark(
        master=f"local[{os.cpu_count()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    setup_s = time.perf_counter() - t0
    setup_cpu_s = cpu_s(spark) - c0
    try:
        runner = Runner(spark, args.workload, inputs, ref)
        if args.trace:
            from perfbench.traced import UNITS, traced_metrics

            units = UNITS
            try:
                metrics, ok = traced_metrics(spark, runner, setup_s, args.seed)
            except Exception:  # report the failed run instead of aborting
                log(traceback.format_exc())
                metrics, ok = {n: 0.0 for n in UNITS}, False
            if not ok:
                runner.failed += 1
        else:
            cold_cpu, cold_jobs = runner.once()
            metrics = dict(
                setup_s=setup_s,
                setup_cpu_s=setup_cpu_s,
                cold_build_cpu_s=cold_cpu,
                cold_build_jobs=cold_jobs,
            )
            units = W.END_TO_END_UNITS
    finally:
        stop(spark)
    result = dict(
        correct=runner.failed == 0,
        attempted=runner.attempted,
        failed=runner.failed,
        metrics={
            k: {"value": None if v != v else v, "unit": units[k]}  # NaN: failed
            for k, v in metrics.items()
        },
    )
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

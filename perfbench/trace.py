"""Spans around layer calls, with the Spark work each span caused.

A span has a name, a start, an end, a parent and the run id. A leaf
span sets a job group unique to it, so every Spark job launched inside
the span is attributed to it and to nothing else; after the span the
tracer reads that group's jobs from the status tracker and each stage's
metrics from the JVM status store (works with ``spark.ui.enabled=false``).
Spans are kept in memory; ``dump`` writes them out at the end of a run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seen_stages: set[int] = set()
        self.first_job = self._next_job_id()

    def _next_job_id(self) -> int:
        self._drain()
        jobs = self._jsc.statusStore().jobsList(None)
        return 1 + max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def _drain(self) -> None:
        # status-store updates arrive through the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str, leaf: bool = True):
        sid = f"{self.run_id}/{len(self.spans) + len(self._stack)}/{name}"
        rec = dict(
            id=sid, name=name, run_id=self.run_id,
            parent=self._stack[-1]["id"] if self._stack else None,
            leaf=leaf, start=time.time(),
        )
        self._stack.append(rec)
        if leaf:
            self.sc.setJobGroup(sid, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            if leaf:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()
            self.spans.append(rec)
            if leaf:
                rec.update(self._group_metrics(sid))

    def _group_metrics(self, group: str) -> dict:
        self._drain()
        return self.jobs_metrics(sorted(self.sc.statusTracker().getJobIdsForGroup(group)))

    def jobs_metrics(self, jobs) -> dict:
        """Totals over the stages of `jobs` not yet attributed elsewhere."""
        self._drain()
        store = self._jsc.statusStore()
        jobs = list(jobs)
        stages = []
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            for s in info.stageIds if info else ():
                # a shuffle stage reused by a later job shows up there as
                # skipped: count each stage once, where it first ran
                if s not in self._seen_stages:
                    self._seen_stages.add(s)
                    stages.append(store.lastStageAttempt(s))
        ran = [s for s in stages if s.status().toString() == "COMPLETE"]
        return dict(
            job_ids=jobs,
            jobs=len(jobs),
            stage_ids=[s.stageId() for s in ran],
            tasks=sum(s.numCompleteTasks() for s in ran),
            exec_run_s=sum(s.executorRunTime() for s in ran) / 1e3,
            exec_cpu_s=sum(s.executorCpuTime() for s in ran) / 1e9,
            shuffle_write_mb=sum(s.shuffleWriteBytes() for s in ran) / 2**20,
            spill_mb=sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in ran) / 2**20,
        )

    def task_skew(self, stage_id: int) -> float:
        """max / median task run time of one stage."""
        store = self._jsc.statusStore()
        attempt = store.lastStageAttempt(stage_id).attemptId()
        tasks = store.taskList(stage_id, attempt, 1 << 20)
        runs = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime())
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med else 1.0

    def orphan_jobs(self) -> list[int]:
        """Jobs launched since the tracer started that no leaf span owns."""
        owned = {j for s in self.spans if s["leaf"] for j in s["job_ids"]}
        return [j for j in range(self.first_job, self._next_job_id()) if j not in owned]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

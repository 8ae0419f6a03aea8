"""Spans around calls into the engine's layers, with Spark counters.

A span runs its body under its own Spark job group. When the body
returns, the span waits for the listener bus to drain and reads that
group's jobs, stages and task metrics from the driver's status store,
which Spark keeps even with ``spark.ui.enabled=false``. Untraced runs
make no spans at all.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

MB = 1e6
COUNTERS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "shuffle_read_mb",
            "shuffle_write_mb", "spill_mb")


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups = 0
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    @contextmanager
    def span(self, name: str):
        """Time the body under its own job group, then collect its Spark
        counters. Yields the span record, filled in when the body ends:
        the ``COUNTERS``, ``wall_s`` for the body only and ``collect_s``
        for the counter collection that follows it."""
        rec: dict = {}
        self.groups += 1
        group = f"perfbench-{self.groups}-{name}"
        self.sc.setJobGroup(group, name)
        start = time.time()
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.monotonic() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            t1 = time.monotonic()
            rec.update(self._counters(group, start))
            rec["collect_s"] = time.monotonic() - t1

    def _counters(self, group: str, since: float) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = len(jobs)
        since_ms = int(since * 1000) - 1
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                sub = d.submissionTime()
                # a stage this group only reused (shuffle output computed
                # by an earlier call) is SKIPPED or was submitted before
                # the span began; its work belongs to that earlier call
                if (d.status().toString() == "SKIPPED" or not sub.isDefined()
                        or sub.get().getTime() < since_ms):
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks()
                out["task_s"] += d.executorRunTime() / 1e3
                out["cpu_s"] += d.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += d.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += d.shuffleWriteBytes() / MB
                out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / MB
        return out

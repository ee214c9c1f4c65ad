"""Spans around calls into the program, and Spark's counters per span.

Each span runs its jobs under a Spark job group of its own. After the run,
the group's stages are read from Spark's status store (this works with
``spark.ui.enabled=false``): ``statusTracker().getJobIdsForGroup`` gives
the jobs, and ``statusStore().lastStageAttempt`` / ``taskSummary`` give
executor time, shuffle bytes, spill and the task-time distribution. All of
it is read from the benchmark's side; nothing in the program changes.

Spans and counts stay in memory until ``write`` at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        span = {
            "name": name,
            "parent": parent["name"] if parent else None,
            "group": f"perfbench-{len(self.spans)}-{name}",
        }
        sc.setJobGroup(span["group"], name)
        self._stack.append(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(span)
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def span_named(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def wall(self, name: str) -> float:
        s = self.span_named(name)
        return s["end"] - s["start"]

    def self_time(self, span: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == span["name"]]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def coverage(self, root: str) -> float:
        """Share of ``root``'s wall time covered by the self times of the
        spans under it (the root's own self time is the uncovered part)."""
        r = self.span_named(root)
        return 1.0 - self.self_time(r) / (r["end"] - r["start"])

    def stage_metrics(self, name: str) -> dict:
        """Spark counters of the span's own job group (children excluded)."""
        return group_stage_metrics(self.spark, self.span_named(name)["group"])

    def write(self, path: str) -> None:
        t0 = min(s["start"] for s in self.spans)
        spans = [
            {
                "name": s["name"],
                "parent": s["parent"],
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "self_s": self.self_time(s),
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "counts": self.counts}, fh, indent=1)


def _drain_listener_bus(spark) -> None:
    # The status store is filled from Spark's listener bus asynchronously.
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def group_stage_metrics(spark, group: str) -> dict:
    """Sum the completed stages of a job group.

    ``task_skew`` is max / median task run time of the group's stage with
    the most executor time (1.0 when that stage ran a single task).
    """
    _drain_listener_bus(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {
        "executor_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "map_shuffle_write_bytes": 0,
        "task_skew": 1.0,
    }
    stage_ids = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    top = None
    for sid in sorted(stage_ids):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue
        run_ms = sd.executorRunTime()
        out["executor_s"] += run_ms / 1000.0
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if sd.shuffleReadBytes() == 0:
            # A map stage fed by a scan or checkpoint, not by a shuffle.
            out["map_shuffle_write_bytes"] += sd.shuffleWriteBytes()
        if top is None or run_ms > top[0]:
            top = (run_ms, sid, sd.attemptId())
    if top is not None:
        summary = store.taskSummary(top[1], top[2], quantiles)
        if summary.isDefined():
            runs = summary.get().executorRunTime()
            median, peak = runs.apply(0), runs.apply(1)
            out["task_skew"] = peak / median if median > 0 else 1.0
    return out

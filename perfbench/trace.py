"""Spans around the benchmark's calls into the engine, and the Spark
metrics of the jobs each span ran.

A span records name, start, end, parent span and run id.  Spans stay in
memory and are written once, at the end of the run.  When tracing is
off, :meth:`Tracer.span` still times the call (the harness needs job
and read latencies) but records nothing and tags no Spark jobs.

When tracing is on, each span also tags the Spark jobs it starts with a
job group, so the statusTracker can say which jobs, stages and tasks a
span caused, and the UI REST API (enabled in traced runs only) gives
their shuffle, spill, executor-run and GC totals.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

from . import stats

#: layers whose Spark metrics the traced run reports
SPARK_LAYERS = ("executor", "rollup", "lineage", "codec", "compact", "route")


class Tracer:
    def __init__(self, run_id: str, enabled: bool, spark=None) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        #: stamped on every span: "setup", "warmup" or "timed"
        self.phase = "setup"
        self._stack: list[dict] = []
        self._next_id = 1

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block; yields a dict whose ``"s"`` holds the
        duration after exit.  Extra keyword attributes are stored on the
        recorded span."""
        rec = {"s": 0.0}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["s"] = time.perf_counter() - t0
            return
        span = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "phase": self.phase,
            **attrs,
        }
        self._next_id += 1
        self._stack.append(span)
        self._set_group(span["id"])
        span["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            span["end"] = time.perf_counter()
            rec["s"] = span["end"] - span["start"]
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)
            self.spans.append(span)

    def group(self, span_id: int) -> str:
        return f"{self.run_id}-span{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self.group(span_id), "perfbench span")

    def jobs_of(self, span_id: int) -> list[int]:
        """Spark job ids started directly inside span ``span_id``."""
        tracker = self.spark.sparkContext.statusTracker()
        return list(tracker.getJobIdsForGroup(self.group(span_id)))

    def stages_of(self, job_ids) -> list[int]:
        tracker = self.spark.sparkContext.statusTracker()
        out = []
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                out.extend(info.stageIds)
        return out

    def tasks_of(self, stage_ids) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        n = 0
        for s in stage_ids:
            info = tracker.getStageInfo(s)
            if info is not None:
                n += info.numCompletedTasks
        return n

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _rest(spark, route: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/{route}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_layer_metrics(spark, stage_ids) -> dict:
    """Shuffle, spill, executor-run time, GC time and task skew over the
    given stages, from the UI REST API.  Task skew is the longest task's
    executor run time over the median task's, across all tasks of these
    stages (1.0 when there are no timed tasks)."""
    out = {
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_bytes": 0, "executor_run_s": 0.0, "gc_s": 0.0,
    }
    task_ms = []
    for sid in sorted(set(stage_ids)):
        for att in _rest(spark, f"stages/{sid}"):
            if att.get("status") == "SKIPPED":
                continue
            out["shuffle_write_bytes"] += att.get("shuffleWriteBytes", 0)
            out["shuffle_read_bytes"] += att.get("shuffleReadBytes", 0)
            out["spill_bytes"] += (
                att.get("memoryBytesSpilled", 0) + att.get("diskBytesSpilled", 0)
            )
            out["executor_run_s"] += att.get("executorRunTime", 0) / 1e3
            out["gc_s"] += att.get("jvmGcTime", 0) / 1e3
            tasks = _rest(
                spark,
                f"stages/{sid}/{att['attemptId']}/taskList?length=100000",
            )
            task_ms.extend(
                t["taskMetrics"]["executorRunTime"]
                for t in tasks
                if t.get("status") == "SUCCESS" and "taskMetrics" in t
            )
    med = stats.median(task_ms) if task_ms else 0
    out["task_skew"] = max(task_ms) / med if med > 0 else 1.0
    return out


def wait_listener_idle(spark, timeout: float = 30.0) -> None:
    """Block until the status store has seen every finished job: the
    REST API is fed asynchronously by the listener bus."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(int(timeout * 1000))

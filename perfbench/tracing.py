"""Benchmark-side instrumentation around the program's public functions.

Nothing here reaches into ``beametrics_spark``: spans are taken around
calls into it, sink writes are observed through a wrapper that the
program sees as an ordinary ``MetricsSink``, and engine-side numbers
come from progress reports, ``SparkContext.statusTracker()`` and the
Spark event log.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Tracer:
    """Spans held in memory and written once, when the run ends.

    A span is (id, name, start, end, parent) with epoch-second times;
    extra attributes ride along. Parents nest workload -> setup /
    trigger -> phase or sink write.
    """

    spans: list[dict] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs: Any) -> int:
        span_id = len(self.spans)
        self.spans.append({"id": span_id, "name": name, "start": start, "end": end, "parent": parent, **attrs})
        return span_id

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


@dataclass
class SinkWrite:
    epoch: int
    metric_id: int
    start: float
    end: float
    rows: tuple[int, int] | None  # slice of a MemorySink's rows
    last_job: int | None  # highest job id of the query after the write


class RecordingSink:
    """Delegates to a program sink and logs each write's epoch and wall
    time (and, when tracing, the query's latest job id). For a sink that
    keeps rows in memory it records which rows the write appended, so
    outputs can be checked epoch by epoch.

    Once closed, a write skips the program's sink: the batch the engine
    starts after the last measured one has no input, and its sink writes
    would only delay the query's stop. The sink marked ``drain`` still
    runs the batch once through Spark's no-op writer, so every state
    partition commits as Spark requires of a foreachBatch function."""

    def __init__(self, sink, metric_id: int, log: list[SinkWrite], jobs=None) -> None:
        self.sink = sink
        self.metric_id = metric_id
        self.log = log
        self.jobs = jobs  # callable -> highest job id so far, tracing only
        self.closed = False
        self.drain = False

    def write(self, batch_df, epoch_id: int = 0) -> None:
        if self.closed:
            if self.drain:
                batch_df.write.format("noop").mode("overwrite").save()
            return
        rows = getattr(self.sink, "rows", None)
        before = len(rows) if rows is not None else 0
        start = time.time()
        self.sink.write(batch_df, epoch_id)
        end = time.time()
        self.log.append(
            SinkWrite(
                epoch=int(epoch_id),
                metric_id=self.metric_id,
                start=start,
                end=end,
                rows=(before, len(rows)) if rows is not None else None,
                last_job=self.jobs() if self.jobs else None,
            )
        )


def job_tracker(spark, group: str):
    """Highest job id the status tracker knows for a job group."""
    tracker = spark.sparkContext.statusTracker()

    def last_job() -> int:
        ids = tracker.getJobIdsForGroup(group)
        return max(ids) if ids else -1

    return last_job


def tasks_of_jobs(spark, job_ids: list[int]) -> int:
    """Completed tasks over the given jobs' stages (status tracker)."""
    tracker = spark.sparkContext.statusTracker()
    total = 0
    seen = set()
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            if stage_id in seen:
                continue
            seen.add(stage_id)
            stage = tracker.getStageInfo(stage_id)
            total += stage.numCompletedTasks if stage else 0
    return total


def peak_rss_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a live process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit flags for a plain, single-file event log and enough
    retained jobs/stages for the status tracker to cover a whole run."""
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }
    flags = []
    for k, v in conf.items():
        flags += ["--conf", f"{k}={v}"]
    return flags


def _accumulable(stage_info: dict, name: str) -> float:
    for acc in stage_info.get("Accumulables", []):
        if acc.get("Name") == name:
            try:
                return float(acc.get("Value", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def event_log_stages(log_dir: str) -> dict[int, list[dict]]:
    """Completed stages per streaming batch id, from the event log.

    Returns batch id -> [{run_ms, shuffle_write_bytes, gc_ms, tasks}]."""
    stage_batch: dict[int, int] = {}
    out: dict[int, list[dict]] = {}
    for name in os.listdir(log_dir):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    batch = (ev.get("Properties") or {}).get("streaming.sql.batchId")
                    if batch is not None:
                        for sid in ev.get("Stage IDs", []):
                            stage_batch[sid] = int(batch)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    batch = stage_batch.get(info["Stage ID"])
                    if batch is None or "Completion Time" not in info:
                        continue
                    out.setdefault(batch, []).append(
                        {
                            "run_ms": _accumulable(info, "internal.metrics.executorRunTime"),
                            "shuffle_write_bytes": _accumulable(info, "internal.metrics.shuffle.write.bytesWritten"),
                            "gc_ms": _accumulable(info, "internal.metrics.jvmGCTime"),
                            "tasks": info.get("Number of Tasks", 0),
                        }
                    )
    return out

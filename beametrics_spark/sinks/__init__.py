"""Sink registry — where windowed metric points go.

Mirrors the reference's exporter factory (metrics_exporter.py:124-156):
a registry keyed by export-type string. SINK_REGISTRY's keys are the
only list of export types: config validation, the CLI and
sinks_for_configs all read it. The reference ships two sinks (Cloud
Monitoring + stdout JSON); we ship those shapes plus the engine-native
ones (console, memory, parquet/json/csv/orc files, and an exactly-once
epoch-partitioned parquet sink).

Semantics preserved from the reference:
  - local/stdout sink emits one JSON object per aggregate:
    {"timestamp": <float>, "metric_name", "value", "labels"}
    (metrics_exporter.py:213-220, golden-tested at
    tests/test_metrics_exporter.py:161-178).
  - monitoring sink is at-least-once; per-point failures are logged and
    swallowed, not re-raised (metrics_exporter.py:116-121). Here it is a
    STUB (no google-cloud-monitoring in this environment): the request
    construction — minute-aligned interval, resource.type="global",
    double value, merged labels (metrics_exporter.py:76-109) — is real
    and unit-tested; the network call raises NotImplementedError unless a
    client is injected.
  - clients are created once per partition, the foreachBatch analog of
    DoFn.setup (pipeline.py:218-223).
"""

from __future__ import annotations

import inspect
import json
import sys
import time
from functools import partial
from typing import TYPE_CHECKING, Any, Callable, Iterable, Iterator, Protocol

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from beametrics_spark.config import MetricConfig


class MetricsSink(Protocol):
    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None: ...


def _rows_iter(batch_df: DataFrame) -> Iterator[dict[str, Any]]:
    # toLocalIterator keeps only one partition's rows on the driver at a
    # time — the batch is already a windowed aggregate (bounded cardinality,
    # SURVEY.md §4.3), not raw events.
    for row in batch_df.toLocalIterator():
        yield row.asDict(recursive=True)


class LocalSink:
    """stdout JSON-lines sink (reference LocalMetricsExporter,
    metrics_exporter.py:186-220)."""

    def __init__(self, stream=None) -> None:
        self.stream = stream or sys.stdout

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        for rec in _rows_iter(batch_df):
            out = {
                "timestamp": time.time(),
                "metric_name": rec.get("metric_name"),
                "value": float(rec.get("value", 0.0)),
                "labels": rec.get("labels") or {},
            }
            print(json.dumps(out, default=str), file=self.stream)


class ConsoleSink:
    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.show(50, truncate=False)


class MemorySink:
    """Collects batches into a Python list — test / smoke sink."""

    def __init__(self) -> None:
        self.rows: list[dict[str, Any]] = []

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        self.rows.extend(_rows_iter(batch_df))


class FileSink:
    """Appends each batch as files of one Spark format."""

    def __init__(self, path: str, format: str, mode: str = "append") -> None:
        self.path = path
        self.format = format
        self.mode = mode

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.write.mode(self.mode).format(self.format).save(self.path)


class CsvSink(FileSink):
    def __init__(self, path: str, mode: str = "append") -> None:
        super().__init__(path, "csv", mode)

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        # MAP columns are not CSV-encodable: render labels as JSON text
        cols = [
            F.to_json(F.col(name)).alias(name) if dtype.startswith("map") else F.col(name)
            for name, dtype in batch_df.dtypes
        ]
        batch_df.select(*cols).write.mode(self.mode).option("header", "true").csv(
            self.path
        )


def minute_aligned_interval(now: float | None = None) -> tuple[int, int]:
    """Reference truncates the export timestamp to the minute
    (metrics_exporter.py:76-78)."""
    t = int(now if now is not None else time.time())
    end = t - (t % 60)
    return end, end


def build_time_series_request(
    *,
    project_id: str,
    metric_name: str,
    value: float,
    static_labels: dict[str, str],
    dynamic_labels: dict[str, str] | None = None,
    now: float | None = None,
) -> dict[str, Any]:
    """Cloud Monitoring TimeSeries request shape, as a plain dict.

    Field-for-field what GoogleCloudMetricsExporter.export builds
    (metrics_exporter.py:80-109): merged labels with dynamic winning,
    resource.type="global", one point with a double value and a
    minute-aligned interval.
    """
    start, end = minute_aligned_interval(now)
    labels = {**static_labels, **(dynamic_labels or {})}
    return {
        "name": f"projects/{project_id}",
        "time_series": {
            "metric": {"type": metric_name, "labels": labels},
            "resource": {"type": "global", "labels": {"project_id": project_id}},
            "points": [
                {
                    "interval": {"start_time": start, "end_time": end},
                    "value": {"double_value": float(value)},
                }
            ],
        },
    }


def point_exporter(
    project_id: str, client_factory: Callable[[], Any] | None
) -> Callable[[Iterable[Row]], None]:
    """The per-point Cloud Monitoring export both monitoring sinks share.

    Raises NotImplementedError at once when no client can be made (the
    real google-cloud-monitoring package is not in this environment).
    The returned function builds one client on its first row (the
    DoFn.setup analog), pushes one request per aggregate row, and
    swallows InvalidArgument-shaped errors like the reference
    (metrics_exporter.py:116-121); everything else propagates. It ships
    to executors when ``client_factory`` is picklable.
    """
    if client_factory is None:
        raise NotImplementedError(
            "google-cloud-monitoring client not available in this "
            "environment; inject client_factory"
        )

    def export(rows: Iterable[Row]) -> None:
        client = None
        for row in rows:
            if client is None:
                client = client_factory()
            rec = row.asDict(recursive=True)
            req = build_time_series_request(
                project_id=project_id,
                metric_name=rec.get("metric_name", ""),
                value=float(rec.get("value", 0.0)),
                static_labels=rec.get("labels") or {},
            )
            try:
                client.create_time_series(req)
            except Exception as exc:  # noqa: BLE001
                if "InvalidArgument" in type(exc).__name__:
                    continue  # swallowed, reference metrics_exporter.py:116-119
                raise

    return export


class GoogleCloudMonitoringSink:
    """At-least-once push to Cloud Monitoring from the driver: aggregates
    arrive through ``toLocalIterator`` and one client serves the batch.

    ``client_factory`` is injected (the real google-cloud-monitoring
    package is not in this environment).
    """

    def __init__(
        self,
        project_id: str,
        client_factory: Callable[[], Any] | None = None,
    ) -> None:
        self.project_id = project_id
        self.client_factory = client_factory

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        export = point_exporter(self.project_id, self.client_factory)
        export(batch_df.toLocalIterator())


class GoogleCloudMonitoringPartitionedSink(GoogleCloudMonitoringSink):
    """Executor-side variant of GoogleCloudMonitoringSink: writes via
    ``batch_df.foreachPartition`` with ONE client per non-empty
    partition — the exact analog of the reference's per-bundle client
    in ``DoFn.setup`` (pipeline.py:218-223, metrics_exporter.py:164-165).

    The driver-side sink serializes every point through the driver —
    fine at windowed-aggregate cardinality, but not at extreme label
    cardinality. Here rows never leave the executors, so export
    bandwidth scales with the cluster.

    ``client_factory`` must be picklable (it ships to executors).
    """

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.foreachPartition(
            point_exporter(self.project_id, self.client_factory)
        )


class IdempotentParquetSink:
    """Exactly-once file sink for foreachBatch: each epoch writes to its
    own partition directory with overwrite, so a replayed epoch (after a
    failure between write and checkpoint commit) REPLACES its previous
    attempt instead of duplicating it. The standard epoch-id idempotence
    pattern for Structured Streaming file outputs.
    """

    def __init__(self, path: str) -> None:
        self.path = path

    def write(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{self.path}/epoch={int(epoch_id)}"
        )


SINK_REGISTRY: dict[str, Callable[..., MetricsSink]] = {
    "local": LocalSink,
    "console": ConsoleSink,
    "memory": MemorySink,
    "parquet": partial(FileSink, format="parquet"),
    "json": partial(FileSink, format="json"),
    "csv": CsvSink,
    "orc": partial(FileSink, format="orc"),
    "idempotent-parquet": IdempotentParquetSink,
    "google-cloud-monitoring": GoogleCloudMonitoringSink,
    "google-cloud-monitoring-executor": GoogleCloudMonitoringPartitionedSink,
}


def _sink_factory(export_type: str) -> Callable[..., MetricsSink]:
    try:
        return SINK_REGISTRY[export_type]
    except KeyError:
        raise ValueError(f"Unsupported export type: {export_type}") from None


def create_sink(export_type: str, **kwargs) -> MetricsSink:
    """Factory dispatch; unknown type raises (reference
    metrics_exporter.py:149-156)."""
    return _sink_factory(export_type)(**kwargs)


def sinks_for_configs(configs: list[MetricConfig]) -> dict[int, MetricsSink]:
    """One sink per config, keyed by metric_id (the config's position).

    Each sink gets the exporter settings its constructor asks for:
    ``project_id`` for the monitoring sinks, ``path`` for the file sinks
    (default ``/tmp/beametrics_out_{metric_id}``).
    """
    sinks: dict[int, MetricsSink] = {}
    for i, cfg in enumerate(configs):
        exporter = cfg.exporter
        factory = _sink_factory(exporter.export_type)
        settings = {
            "project_id": exporter.project_id or "",
            "path": exporter.path or f"/tmp/beametrics_out_{i}",
        }
        wanted = inspect.signature(factory).parameters
        sinks[i] = factory(**{k: v for k, v in settings.items() if k in wanted})
    return sinks


def route_by_metric(
    sinks: dict[int, MetricsSink],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callback that routes each metric_id to its sink —
    the MultiMetricsExporter dispatch (reference pipeline.py:225-231)."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            for metric_id, sink in sinks.items():
                sink.write(
                    batch_df.filter(batch_df.metric_id == metric_id), epoch_id
                )
        finally:
            batch_df.unpersist()

    return _write

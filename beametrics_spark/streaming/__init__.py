"""Streaming execution: decode → parse → metrics plan → foreachBatch sinks.

The reference is streaming-only (Beam + Pub/Sub). Structured Streaming
gives us what Beam's runner gave it — state management, checkpointing,
triggers — plus what the reference never configured and we must
(SURVEY.md §2.2): an explicit WATERMARK so windowed-aggregation state is
evicted instead of growing forever. Default: 30 s, configurable.

Decode semantics (reference pipeline.py:82-108): try utf-8, shift-jis,
euc-jp, iso-2022-jp in that order; a JSON parse error after a successful
decode, or total decode failure, DROPS the message (returns []). The
multi-encoding fallback needs Python — implemented as an Arrow-batched
Pandas UDF, NOT a per-row UDF; with ``multi_encoding=False`` (payloads
known to be UTF-8) decoding stays JVM-side.
"""

from __future__ import annotations

import contextlib
import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beametrics_spark.config import MetricConfig
from beametrics_spark.pipeline import build_metrics_pipeline
from beametrics_spark.sinks import MetricsSink, route_by_metric

_ENCODINGS = ("utf-8", "shift-jis", "euc-jp", "iso-2022-jp")

DEFAULT_WATERMARK = "30 seconds"

# Stateful streaming aggregations create ONE state store per shuffle
# partition, and the stores dominate micro-batch fixed cost (measured
# 11.1 s → 1.8 s for the parity query at 32 → 4 partitions). Unlike a
# batch shuffle, the metrics state shuffle carries only POST-partial-agg
# rows — its size tracks key cardinality (windows × label sets), not
# input volume — so a small count stays right even at 100 TB input.
STREAM_STATE_PARTITIONS = 8


@contextlib.contextmanager
def scoped_state_partitions(spark: SparkSession):
    """Temporarily set spark.sql.shuffle.partitions around a streaming
    query's .start() — the conf is captured into the checkpoint at first
    start, so only the stream is affected; batch plans see the restored
    value."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@F.pandas_udf(T.StringType())
def decode_multi_encoding(payload: pd.Series) -> pd.Series:
    """bytes → JSON string via the reference's encoding-fallback chain.

    Returns None (→ dropped downstream) for undecodable or non-JSON
    payloads, replicating DecodeAndParse's drop-on-error
    (pipeline.py:102-108). Vectorized over Arrow batches.
    """

    def _decode(raw) -> str | None:
        if raw is None:
            return None
        if isinstance(raw, str):
            raw = raw.encode("utf-8", errors="surrogateescape")
        for enc in _ENCODINGS:
            try:
                text = raw.decode(enc)
            except (UnicodeDecodeError, LookupError):
                continue
            try:
                json.loads(text)  # reference aborts on JSONDecodeError after
            except json.JSONDecodeError:  # a successful decode (pipeline.py:93-94)
                return None
            return text
        return None

    return payload.map(_decode)


def parse_events(
    df: DataFrame,
    schema: T.StructType,
    *,
    value_col: str = "value",
    multi_encoding: bool = False,
) -> DataFrame:
    """raw payload column → typed event rows (drop malformed).

    PERMISSIVE from_json yields a null struct for unparseable rows; the
    filter drops them — the Spark analog of the reference returning []
    for bad messages (pipeline.py:106-108).
    """
    if multi_encoding:
        src = df.withColumn("_json", decode_multi_encoding(F.col(value_col)))
    else:
        src = df.withColumn("_json", F.col(value_col).cast("string"))
    # from_json in PERMISSIVE mode yields an all-NULL struct (not NULL) for
    # corrupt input, so parse validity is checked with get_json_object too
    parsed = src.withColumn("_parsed", F.from_json(F.col("_json"), schema))
    return (
        parsed.filter(
            F.col("_parsed").isNotNull()
            & F.get_json_object(F.col("_json"), "$").isNotNull()
        )
        .select("_parsed.*")
    )


def run_metrics_stream(
    events: DataFrame,
    configs: list[MetricConfig],
    sinks: dict[int, MetricsSink],
    *,
    ts_col: str = "ts",
    window_size: int | None = None,
    watermark: str = DEFAULT_WATERMARK,
    checkpoint_dir: str | None = None,
    output_mode: str = "update",
    trigger: dict | None = None,
    query_name: str = "beametrics",
    salt_buckets: int | None = None,
):
    """Start the streaming query; returns the StreamingQuery handle.

    update-mode + watermark is the documented default (SURVEY.md §7.3):
    each trigger emits refreshed aggregates for windows touched in that
    batch, like the reference's per-firing Cloud Monitoring writes.

    ``salt_buckets`` opts into the chained two-phase salted aggregation
    for hot label sets (see aggregate_windows); Spark restricts multiple
    stateful operators to APPEND output, so pass output_mode="append"
    with it (finalized windows emit once the watermark passes).
    """
    plan = build_metrics_pipeline(
        events,
        configs,
        ts_col=ts_col,
        window_size=window_size,
        watermark=watermark,
        salt_buckets=salt_buckets,
    )
    writer = (
        plan.writeStream.outputMode(output_mode)
        .queryName(query_name)
        .foreachBatch(route_by_metric(sinks))
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    with scoped_state_partitions(events.sparkSession):
        return writer.start()

"""Plan builder: parsed events → fan-out → tumbling window → count/sum.

This is the Spark-first re-expression of the reference's 6-stage Beam chain
(beametrics/pipeline.py:164-186):

    Decode → FilterAndLabel (FlatMap fan-out) → DynamicFixedWindows
           → CombinePerKey(sum) → Format → Export

Design choices for 100-TB scale (SURVEY.md §4.3):
  - SINGLE-PASS fan-out: the reference's per-message Python loop over N
    configs becomes one `explode` over an array of per-config structs, so
    the source is scanned ONCE regardless of metric count (a union of N
    filtered branches would re-read the stream N times).
  - Catalyst supplies filter pushdown, partial (map-side) aggregation and
    whole-stage codegen for free — the reference hand-rolls filter-before-
    shuffle and relies on Beam combiner lifting (pipeline.py:168-180).
  - Labels travel pre-shuffle as ONE canonical string key (sorted-key
    value concatenation — the analog of the reference's
    tuple(sorted(labels.items())) normalization, pipeline.py:172); the
    MAP<STRING,STRING> is rebuilt post-aggregation. Spark cannot group by
    MapType, and a map in any aggregate buffer forces SortAggregate —
    keeping the hot path map-free keeps it HashAggregate + codegen.
  - An OR-of-all-configs prefilter runs before the explode so simple
    predicates reach the parquet scan as PushedFilters.
  - Aggregation is always sum-of-contributions; COUNT rows contribute 1.0
    (reference pipeline.py:206-207 + CombinePerKey(sum) at :180), so one
    physical aggregate serves both metric types.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from functools import reduce

from beametrics_spark.config import MetricConfig, normalize_window_size
from beametrics_spark.filters import FieldResolver, compile_filter, schema_resolver
from beametrics_spark.metrics import (
    labels_from_key_expr,
    labels_key_expr,
    value_expr,
)


def prefilter_expr(
    configs: list[MetricConfig], resolve: FieldResolver
) -> Column | None:
    """OR of all config predicates, applied BEFORE the fan-out explode.

    Semantically exact: a row matching no config explodes to zero records
    anyway — but expressed as a plain Filter, Catalyst pushes the
    disjunction into the parquet scan (PushedFilters), which the
    generator-embedded predicates alone cannot achieve. None ⇒ some
    config is match-all, skip the filter.
    """
    preds = []
    for cfg in configs:
        if not cfg.filter_conditions:
            return None  # match-all config: every row survives anyway
        preds.append(compile_filter(cfg.filter_conditions, resolve))
    return reduce(lambda a, b: a | b, preds)


def fanout_entries(
    configs: list[MetricConfig], resolve: FieldResolver
) -> Column:
    """Array of per-config contribution structs; non-matching ⇒ NULL entry.

    One message → 0..N keyed records (reference FlatMap, pipeline.py:168-178),
    built as a single expression tree evaluated in one scan. Pre-shuffle
    rows carry (metric_id, value, labels_key) — no map types, so the
    windowed aggregation stays hash-based (maps force SortAggregate).
    NULL entries are dropped AFTER the explode by a plain codegen Filter
    (fan_out) — not here with an ArrayFilter lambda, which would run
    interpreted per row (HOFs are CodegenFallback).
    """
    entries = [
        F.when(
            compile_filter(cfg.filter_conditions, resolve),
            F.struct(
                F.lit(i).cast("int").alias("metric_id"),
                value_expr(cfg.metric_definition, resolve).alias("value"),
                labels_key_expr(cfg.metric_definition, resolve).alias("labels_key"),
            ),
        )
        for i, cfg in enumerate(configs)
    ]
    return F.array(*entries)


def fan_out(
    df: DataFrame,
    configs: list[MetricConfig],
    *,
    ts_col: str = "ts",
    resolve: FieldResolver | None = None,
) -> DataFrame:
    """events → (ts, metric_id, value, labels_key), single scan.

    Single-config fast path (the reference's own deployment shape — one
    MetricConfig per pipeline is its documented common case): no array,
    no Generate — the config's predicate is a plain Filter (already the
    prefilter) and the contribution is a flat projection, so the whole
    pre-aggregation stage is one codegen span over the scan. Measured
    decomposition for ref_grouped_labels at sf1 (VERDICT r9 #3, all
    same-session min-of-3): full query 2.73 s, the bare
    `get_json_object(props, '$.k')` scan alone 1.90 s, the same
    window+aggregate with only the typed event_type label 0.48-0.65 s —
    the remaining cost IS the per-row JSON parse the dynamic-label
    semantics require, not the pipeline around it (from_json and
    Spark-4 variant_get were A/B'd at 2.17 s / 2.07 s — no faster).

    Multi-config: one explode over the per-config struct array. The
    non-matching entries explode as NULL structs and are dropped by a
    plain post-Generate Filter — NOT by an ArrayFilter lambda on the
    array (higher-order functions are CodegenFallback in Spark: the r9
    shape evaluated an interpreted filter per row on the hot path).
    """
    resolve = resolve or schema_resolver(df)
    pre = prefilter_expr(configs, resolve)
    src = df if pre is None else df.filter(pre)
    if len(configs) == 1:
        cfg = configs[0]
        return src.select(
            F.col(ts_col).alias("ts"),
            F.lit(0).cast("int").alias("metric_id"),
            value_expr(cfg.metric_definition, resolve).alias("value"),
            labels_key_expr(cfg.metric_definition, resolve).alias("labels_key"),
        )
    exploded = src.select(
        F.col(ts_col).alias("ts"),
        F.explode(fanout_entries(configs, resolve)).alias("m"),
    ).filter(F.col("m").isNotNull())
    return exploded.select(
        "ts",
        F.col("m.metric_id").alias("metric_id"),
        F.col("m.value").alias("value"),
        F.col("m.labels_key").alias("labels_key"),
    )


def window_spec_of(cfg: MetricConfig) -> tuple[int, int | None, int | None]:
    """(size, slide, session_gap) — the windowing identity of a config."""
    return (
        normalize_window_size(cfg.window_size),
        cfg.window_slide,
        cfg.session_gap,
    )


def _window_expr(spec: tuple[int, int | None, int | None]):
    size, slide, gap = spec
    if gap is not None:
        # gap-merged sessions per (metric_id, labels_key) — engine
        # extension, the reference has fixed windows only (SURVEY.md §2.2)
        return F.session_window("ts", f"{gap} seconds")
    if slide is not None and slide != size:
        return F.window("ts", f"{size} seconds", f"{slide} seconds")
    return F.window("ts", f"{size} seconds")


def aggregate_windows(
    fanned: DataFrame,
    configs: list[MetricConfig],
    *,
    window_size: int | None = None,
    window_spec: tuple[int, int | None, int | None] | None = None,
    watermark: str | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Windowed sum per (metric_id, labels_key).

    Tumbling default: window start = ts - ts % size, identical bucketing
    math to the reference's DynamicFixedWindows.assign (pipeline.py:67-70);
    invalid sizes fall back to 60 s (pipeline.py:50-65). Sliding and
    session windows via ``window_spec`` (see MetricConfig).

    The labels MAP is reconstructed from the canonical key AFTER the
    aggregation (bounded-cardinality rows), so the pre-shuffle path is
    map-free and Catalyst plans HashAggregate partial→final.

    ``watermark`` (e.g. "30 seconds") is only applied to streaming frames —
    the reference has NO watermark (SURVEY.md §2.2); bounded state at scale
    requires one, so streaming callers must pass it.

    ``salt_buckets`` opts into two-phase SALTED aggregation for hot label
    sets — the reference's documented OOM scenario (SURVEY.md §4.3: one
    ultra-hot (metric, labels) key pins a single reducer; Beam's combiner
    lifting bounds memory but not the straggler). Phase 1 spreads each
    (window, metric_id, labels_key) over salt_buckets reducers keyed by a
    deterministic ts-hash; phase 2 merges partials per key — sum is
    algebraic, so results are bit-identical to the unsalted path (pinned
    by test_pipeline). Tumbling windows only (sliding/session windows
    exist only as groupBy generators — one row → many windows). On a
    STREAMING frame the two phases run as chained stateful time-window
    aggregations (Spark's multiple-stateful-operator support: phase 2
    re-windows on window_time(window), so the engine can track both
    operators' watermarks); a watermark is mandatory there, and state
    doubles — (key × salt) rows in phase 1 plus key rows in phase 2 —
    the price of bounding the per-reducer hot-key row count. Exercised
    end-to-end by tests/test_streaming.py::test_streaming_salted_fanout
    against the batch unsalted truth.
    """
    if window_spec is None:
        size = normalize_window_size(
            window_size if window_size is not None else configs[0].window_size
        )
        window_spec = (size, None, None)
    src = fanned
    if watermark is not None and fanned.isStreaming:
        src = fanned.withWatermark("ts", watermark)
    if salt_buckets:
        size, slide, gap = window_spec
        if (slide not in (None, size)) or gap is not None:
            raise ValueError(
                "salt_buckets supports tumbling windows only"
            )
        if src.isStreaming:
            if watermark is None:
                raise ValueError(
                    "streaming salted aggregation requires a watermark "
                    "(chained stateful aggregation state must be bounded)"
                )
            from beametrics_spark.functions import _check_no_salt_column

            _check_no_salt_column(src)
            phase1 = (
                src.withColumn(
                    "_salt",
                    F.pmod(F.xxhash64("ts"), F.lit(salt_buckets)),
                )
                .groupBy(
                    _window_expr(window_spec).alias("window"),
                    "metric_id",
                    "labels_key",
                    "_salt",
                )
                .agg(F.sum("value").alias("_pv"))
            )
            agg = phase1.groupBy(
                F.window(
                    F.window_time("window"), f"{size} seconds"
                ).alias("window"),
                "metric_id",
                "labels_key",
            ).agg(F.sum("_pv").alias("value"))
        else:
            from beametrics_spark.functions import salted_aggregate

            pre = src.select(
                _window_expr(window_spec).alias("window"),
                "metric_id",
                "labels_key",
                "value",
                "ts",
            )
            agg = salted_aggregate(
                pre,
                ["window", "metric_id", "labels_key"],
                {"value": F.sum("value")},
                salt_buckets=salt_buckets,
                salt_on="ts",
            )
    else:
        agg = src.groupBy(
            _window_expr(window_spec).alias("window"),
            "metric_id",
            "labels_key",
        ).agg(F.sum("value").alias("value"))
    # config-side projections on aggregated rows: metric name + labels map
    # (tiny when-chains — the reference keeps configs in a Python list the
    # same way, pipeline.py:225-231)
    name_expr = F.lit(None).cast("string")
    labels_expr_out = F.lit(None).cast("map<string,string>")
    for i, cfg in enumerate(configs):
        is_i = F.col("metric_id") == i
        name_expr = F.when(is_i, F.lit(cfg.export_metric_name)).otherwise(name_expr)
        labels_expr_out = F.when(
            is_i, labels_from_key_expr(cfg.metric_definition, F.col("labels_key"))
        ).otherwise(labels_expr_out)
    return agg.select(
        "metric_id",
        name_expr.alias("metric_name"),
        labels_expr_out.alias("labels"),
        F.col("value").cast("double").alias("value"),
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
    )


def build_metrics_pipeline(
    events: DataFrame,
    configs: list[MetricConfig],
    *,
    ts_col: str = "ts",
    window_size: int | None = None,
    watermark: str | None = None,
    resolve: FieldResolver | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Full plan: fan-out → window aggregate → formatted metric points.

    Works identically on batch and streaming DataFrames; the DuckDB oracle
    checks the batch plan, streaming deployment adds watermark + sink.
    Configs with distinct window sizes are grouped so each size gets one
    aggregation (the reference supports only a single pipeline-wide window).
    """
    if not configs:
        raise ValueError("at least one MetricConfig required")
    resolve = resolve or schema_resolver(events)
    specs: dict[tuple[int, int | None, int | None], list[int]] = {}
    if window_size is not None:
        specs = {
            (normalize_window_size(window_size), None, None): list(
                range(len(configs))
            )
        }
    else:
        for i, cfg in enumerate(configs):
            specs.setdefault(window_spec_of(cfg), []).append(i)
    if len(specs) == 1:
        fanned = fan_out(events, configs, ts_col=ts_col, resolve=resolve)
        (spec,) = specs
        return aggregate_windows(
            fanned,
            configs,
            window_spec=spec,
            watermark=watermark,
            salt_buckets=salt_buckets,
        )
    # Rare: heterogenous window specs → one branch per spec (each branch
    # still fans out all its configs in one scan).
    out: DataFrame | None = None
    for spec, idxs in specs.items():
        subset = [configs[i] for i in idxs]
        fanned = fan_out(events, subset, ts_col=ts_col, resolve=resolve)
        # re-tag metric_id back to global config index
        mapping = F.lit(None).cast("int")
        for local, global_i in enumerate(idxs):
            mapping = F.when(F.col("metric_id") == local, F.lit(global_i)).otherwise(
                mapping
            )
        fanned = fanned.withColumn("metric_id", mapping)
        branch = aggregate_windows(
            fanned,
            configs,
            window_spec=spec,
            watermark=watermark,
            salt_buckets=salt_buckets,
        )
        out = branch if out is None else out.unionByName(branch)
    return out

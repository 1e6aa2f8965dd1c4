"""CLI entry point mirroring the reference's argument surface.

Reference: beametrics/main.py:26-102 (14 args) + validation at
main.py:104-139. Dataflow-template-only machinery (ValueProviders,
--dataflow-template-type, template metadata) is intentionally not ported
(SURVEY.md §2.1 supporting table); Spark-specific args replace the
runner/subscription plumbing.

Usage (streaming, file source standing in for Pub/Sub):
    python -m beametrics_spark.cli --source-format json --source-path /tmp/in \
        --metric-name error_count --metric-type count \
        --filter-conditions '[{"field":"severity","value":"ERROR","operator":"equals"}]' \
        --export-type local --window-size 60
"""

from __future__ import annotations

import argparse
import json
import sys

from beametrics_spark.config import (
    DEFAULT_CLI_WINDOW_SIZE,
    load_metric_configs,
    normalize_window_size,
    parse_filter_conditions,
)
from beametrics_spark.sinks import SINK_REGISTRY


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="beametrics-spark",
        description="PySpark log-to-metrics engine (beametrics-compatible config surface)",
    )
    # source (replaces --subscription, reference main.py:30-36)
    p.add_argument("--source-format", default="json",
                   help="json|parquet|rate|kafka|socket (stream) or parquet/json path (batch)")
    p.add_argument("--source-path", default=None)
    p.add_argument("--kafka-bootstrap", default=None)
    p.add_argument("--kafka-topic", default=None)
    p.add_argument("--batch", action="store_true",
                   help="run one batch over the source instead of streaming")
    p.add_argument("--ts-field", default="ts", help="event-time column name")
    # metric definition (reference main.py:37-76)
    p.add_argument("--metric-name", default=None)
    p.add_argument("--metric-labels", default=None, help="JSON object of static labels")
    p.add_argument("--dynamic-labels", default=None, help="JSON object label→field")
    p.add_argument("--filter-conditions", default=None, help="JSON array of conditions")
    p.add_argument("--metric-type", default="count", help="count|sum")
    p.add_argument("--metric-field", default=None)
    # windowing / export (reference main.py:77-102)
    p.add_argument("--window-size", default=DEFAULT_CLI_WINDOW_SIZE, type=str)
    p.add_argument("--export-type", default="local", help="|".join(SINK_REGISTRY))
    p.add_argument("--project-id", default=None)
    p.add_argument("--metrics", default=None, help="JSON array of metric configs")
    p.add_argument("--config", default=None, help="YAML config path")
    # streaming knobs (new — SURVEY.md §7.3: the reference leaves these undefined)
    p.add_argument("--watermark", default="30 seconds")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--output-mode", default="update")
    p.add_argument(
        "--salt-buckets",
        default=None,
        type=int,
        help="batch only: two-phase salted aggregation for hot label sets "
        "(N reducers per hot (window, metric, labels) key — SURVEY §4.3)",
    )

    p.add_argument(
        "--sql",
        default=None,
        help="ad-hoc SQL over the warehouse tables (registers every parquet "
        "table under --sql-dir as a view, runs the statement through "
        "Catalyst, prints JSON lines)",
    )
    p.add_argument(
        "--query",
        default=None,
        help="run a named registry operator (see --list-queries) over "
        "--sql-dir and print JSON rows; the same callables the driver "
        "correctness gate checks",
    )
    p.add_argument(
        "--list-queries",
        action="store_true",
        help="print every registered query name (oracle-checked vs rows-only)",
    )
    p.add_argument(
        "--sql-dir",
        default=None,
        help="directory of <table>.parquet files for --sql (view per table)",
    )
    p.add_argument(
        "--explain",
        action="store_true",
        help="with --sql: print the formatted physical plan instead of rows",
    )
    return p


def validate_args(args: argparse.Namespace) -> None:
    """Reference validation rules (main.py:104-139, metrics.py:24-32)."""
    if args.export_type not in SINK_REGISTRY:
        raise ValueError(f"Unsupported export type: {args.export_type}")
    if args.salt_buckets is not None and not args.batch:
        raise ValueError("--salt-buckets applies to --batch runs only")
    if args.metric_type not in ("count", "sum"):
        raise ValueError(f"Unsupported metric type: {args.metric_type}")
    if args.metric_type == "sum" and not args.metric_field and not (args.config or args.metrics):
        raise ValueError("metric-field is required when metric-type is sum")


def configs_from_args(args: argparse.Namespace):
    single = None
    if args.metric_name:
        single = {
            "name": args.metric_name,
            "type": args.metric_type,
            "field": args.metric_field,
            "labels": json.loads(args.metric_labels) if args.metric_labels else None,
            "dynamic_labels": json.loads(args.dynamic_labels) if args.dynamic_labels else None,
            "filter-conditions": [
                c.__dict__ for c in parse_filter_conditions(args.filter_conditions)
            ] if args.filter_conditions else [],
            "export_type": args.export_type,
            "project_id": args.project_id,
        }
    return load_metric_configs(
        config_path=args.config,
        metrics_json=args.metrics,
        single=single,
        window_size=normalize_window_size(args.window_size, DEFAULT_CLI_WINDOW_SIZE),
    )


def run_sql(args: argparse.Namespace) -> int:
    """SQL mode: the full Spark SQL surface (parser, Catalyst, AQE) over
    the warehouse directory — what makes this a queryable engine, not only
    a config-driven metrics pipeline. Goes beyond the reference, which has
    no query language at all (SURVEY.md §3: 'its queries are
    configuration')."""
    from beametrics_spark.session import get_spark
    from beametrics_spark.sources import register_views

    spark = get_spark("beametrics-sql")
    spark.sparkContext.setLogLevel("ERROR")
    if args.sql_dir:
        import glob
        import os

        names = [
            os.path.splitext(os.path.basename(f))[0]
            for f in sorted(glob.glob(os.path.join(args.sql_dir, "*.parquet")))
        ]
        register_views(spark, args.sql_dir, names)
    df = spark.sql(args.sql)
    if args.explain:
        df.explain(mode="formatted")
        return 0
    for line in df.toJSON().toLocalIterator():
        print(line)
    return 0


def run_query(args: argparse.Namespace) -> int:
    """Registry mode: execute one named operator from the same registry
    the driver's correctness gate checks (`__spark_entry__.queries()`),
    printing JSON rows. `--explain` prints the formatted plan instead."""
    from beametrics_spark.registry import load_all
    from beametrics_spark.session import get_spark

    registry = load_all()
    if args.list_queries:
        for name, (_fn, oracle) in sorted(registry.items()):
            kind = "oracle" if oracle is not None else "rows-only"
            print(f"{name}\t{kind}")
        return 0
    if args.query not in registry:
        raise SystemExit(
            f"unknown query {args.query!r} — see --list-queries"
        )
    import os

    sf_dir = args.sql_dir or os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        raise SystemExit(
            "--query needs a table directory: pass --sql-dir or set "
            "$SPARK_GRAFT_SF_DIR"
        )
    spark = get_spark("beametrics-query")
    spark.sparkContext.setLogLevel("ERROR")
    df = registry[args.query][0](spark, sf_dir)
    if args.explain:
        df.explain(mode="formatted")
        return 0
    for line in df.toJSON().toLocalIterator():
        print(line)
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.query or args.list_queries:
        return run_query(args)
    if args.sql:
        return run_sql(args)
    validate_args(args)
    configs = configs_from_args(args)

    from pyspark.sql import types as T

    from beametrics_spark.session import get_spark
    from beametrics_spark.sinks import route_by_metric, sinks_for_configs
    from beametrics_spark.sources import read_parquet, stream_source
    from beametrics_spark.streaming import parse_events, run_metrics_stream
    from beametrics_spark.pipeline import build_metrics_pipeline

    spark = get_spark("beametrics-cli")
    sinks = sinks_for_configs(configs)

    if args.batch:
        events = read_parquet(spark, args.source_path)
        out = build_metrics_pipeline(
            events,
            configs,
            ts_col=args.ts_field,
            salt_buckets=args.salt_buckets,
        )
        route_by_metric(sinks)(out, 0)
        return 0

    schema = T.StructType(
        [
            T.StructField(args.ts_field, T.TimestampType()),
            T.StructField("severity", T.StringType()),
            T.StructField("message", T.StringType()),
        ]
    )
    opts = {}
    if args.source_format == "kafka":
        opts = {
            "kafka.bootstrap.servers": args.kafka_bootstrap or "localhost:9092",
            "subscribe": args.kafka_topic or "events",
        }
    raw = stream_source(
        spark, args.source_format, path=args.source_path, schema=schema, options=opts
    )
    events = raw if args.source_format in ("json", "parquet") else parse_events(raw, schema)
    query = run_metrics_stream(
        events,
        configs,
        sinks,
        ts_col=args.ts_field,
        watermark=args.watermark,
        checkpoint_dir=args.checkpoint_dir,
        output_mode=args.output_mode,
    )
    query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""beametrics_spark — a PySpark-native analytics engine with the capabilities
of kesompochy/beametrics, rebuilt Spark-first.

The reference (read-only at /root/reference) is an Apache Beam streaming
pipeline: Pub/Sub JSON logs → predicate filter → multi-metric fan-out →
fixed tumbling windows → count/sum per (metric, label-set) → Cloud
Monitoring / stdout. Here every hand-rolled DoFn becomes a declarative
DataFrame expression so Catalyst handles pushdown, partial aggregation,
and whole-stage codegen; Structured Streaming supplies watermarks,
state-store eviction, and checkpointing the reference never had.

Layout:
    config      — MetricConfig / MetricDefinition / FilterCondition model,
                  YAML/JSON loaders (reference: beametrics/config.py, main.py)
    filters     — FilterCondition list → Catalyst Column compiler
                  (reference: beametrics/filter.py)
    metrics     — value + label expression builders
                  (reference: beametrics/metrics.py, pipeline.py:188-208)
    pipeline    — parse → fan-out → window → aggregate plan builder
                  (reference: beametrics/pipeline.py:164-186)
    sinks       — sink registry (the only list of export types), file and
                  monitoring sinks, config-to-sink wiring
                  (reference: beametrics/metrics_exporter.py)
    sources     — batch/stream source registry (reference: main.py:313)
    streaming   — streaming query runner with watermark/trigger/checkpoint
    operators   — beyond-reference large-scale ops: dedup, similarity,
                  text analysis, multimodal plumbing
    session     — tuned local SparkSession factory
"""

from beametrics_spark.config import (
    FilterCondition,
    MetricConfig,
    MetricDefinition,
    MetricType,
    load_metric_configs,
)
from beametrics_spark.filters import compile_filter
from beametrics_spark.pipeline import build_metrics_pipeline

__all__ = [
    "FilterCondition",
    "MetricConfig",
    "MetricDefinition",
    "MetricType",
    "load_metric_configs",
    "compile_filter",
    "build_metrics_pipeline",
]

__version__ = "0.1.0"

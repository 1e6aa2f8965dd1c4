"""Metric value + label expression builders.

Reference semantics (SURVEY.md §2.1 rows 4-5):
  - value: COUNT contributes literal 1 per matching row
           (pipeline.py:206-207 — count is implemented as sum-of-ones);
           SUM contributes float(msg.get(field, 0)) — missing field ⇒ 0
           (pipeline.py:208).
  - labels: static labels ∪ dynamic labels where each dynamic label is
           str(msg.get(field_name, "")) — missing field ⇒ "" and the
           dynamic value WINS on key collision (pipeline.py:188-198,
           metrics.py:40-48).

Where the reference's ``float(...)`` would raise on a non-numeric field
(crashing the Beam bundle), we use try_cast → 0.0: a distributed engine
must not abort a 100-TB job on one bad row. Documented deviation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beametrics_spark.config import MetricDefinition, MetricType
from beametrics_spark.filters import FieldResolver, ResolvedField


def value_expr(definition: MetricDefinition, resolve: FieldResolver) -> Column:
    """The per-row contribution to the metric aggregate (always DOUBLE)."""
    if definition.type == MetricType.COUNT:
        return F.lit(1.0)
    rf: ResolvedField = resolve(definition.field)
    col = rf.col if isinstance(rf.dtype, T.NumericType) else rf.col.try_cast("double")
    return F.coalesce(col.cast("double"), F.lit(0.0))


def _label_value(rf: ResolvedField) -> Column:
    """str(msg.get(field, "")) — stringify, missing ⇒ empty string."""
    return F.coalesce(rf.col.cast("string"), F.lit(""))


def label_entries(
    definition: MetricDefinition, resolve: FieldResolver
) -> list[tuple[str, Column]]:
    """Merged static+dynamic labels as (key, value-expr) pairs, sorted by key.

    Sorted order makes the concatenated values a canonical grouping key —
    the analog of the reference's tuple(sorted(labels.items())) at
    pipeline.py:172. Dynamic labels win on key collision (pipeline.py:198).
    """
    merged: dict[str, Column] = {
        k: F.lit(str(v)) for k, v in definition.metric_labels.items()
    }
    cap = definition.label_cardinality_cap
    for label_name, field_name in definition.dynamic_labels.items():
        value = _label_value(resolve(field_name))  # dynamic wins
        if cap is not None:
            # cardinality guard: bounded label domain via deterministic
            # hash bucketing (state/backend protection, SURVEY.md §4.3)
            value = F.concat(
                F.lit("b"),
                F.pmod(F.xxhash64(value), F.lit(int(cap))).cast("string"),
            )
        merged[label_name] = value
    return [(k, merged[k]) for k in sorted(merged)]


LABEL_KEY_SEP = "\x01"


def labels_key_expr(definition: MetricDefinition, resolve: FieldResolver) -> Column:
    """Canonical STRING grouping key for the label set.

    Spark cannot group by MapType, and carrying a map through the
    aggregation (first(labels)) forces sort-based aggregation — so the
    pre-aggregation path carries ONLY this string. Within one metric_id
    the label key set is fixed by config and emitted in sorted order, so
    concatenating the values with an unprintable separator is canonical;
    the grouping key always includes metric_id, so different key sets
    never collide. (A label VALUE containing \\x01 would collide keys —
    accepted and documented, control chars don't appear in label fields.)
    """
    entries = label_entries(definition, resolve)
    if not entries:
        return F.lit("")
    return F.concat_ws(LABEL_KEY_SEP, *[v for _k, v in entries])


def labels_from_key_expr(
    definition: MetricDefinition, labels_key: Column
) -> Column:
    """Rebuild the MAP<STRING,STRING> from the canonical key, POST-agg.

    Runs on aggregated rows (bounded cardinality), keeping the hot
    pre-shuffle path map-free so Catalyst uses hash aggregation.
    """
    keys = sorted(
        set(definition.metric_labels) | set(definition.dynamic_labels)
    )
    if not keys:
        return F.create_map().cast("map<string,string>")
    return F.map_from_arrays(
        F.array(*[F.lit(k) for k in keys]),
        F.split(labels_key, LABEL_KEY_SEP, -1),
    )

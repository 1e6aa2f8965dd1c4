"""Independent expectation: the reference semantics in pandas.

Computed from the generator's own rows, never from the program's
output. Semantics (the reference's filter.py / pipeline.py):

- ``equals`` compares without coercion: a string condition matches only
  a string field, a number only a numeric field. Fields missing from the
  typed columns are read from the ``props`` JSON as text, and numbers
  there compare after a permissive cast.
- ``contains`` is a substring test on string fields only.
- ``greater_than`` / ``less_than`` need a numeric field (props numbers
  are cast); the condition value is coerced with float().
- conditions are AND-ed; COUNT contributes 1.0 per matching row, SUM
  contributes the field value (missing -> 0).
- labels are static labels overlaid with dynamic ones, each dynamic
  value str(field) ("" when missing).
- tumbling windows: start = ts - ts % size.

An aggregate key is (metric_id, labels_key, window_start) where
labels_key is the label dict as canonical JSON.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from beametrics_spark.config import MetricConfig, MetricType

# fields the events carry only inside the props JSON, and their JSON type
PROPS_FIELDS = {"tier": "str", "retries": "num"}
KEY = ["metric_id", "labels_key", "window_start"]


def _field(df: pd.DataFrame, name: str) -> tuple[pd.Series, str]:
    """(values, kind) with kind in str / num / json-str / json-num."""
    if name in PROPS_FIELDS:
        return df[name], "json-" + PROPS_FIELDS[name]
    col = df[name]
    return col, "num" if pd.api.types.is_numeric_dtype(col) else "str"


def _condition(df: pd.DataFrame, field: str, value, op: str) -> pd.Series:
    col, kind = _field(df, field)
    false = pd.Series(False, index=df.index)
    if op == "equals":
        if isinstance(value, str):
            return col.astype(str) == value if kind in ("str", "json-str") else false
        if kind in ("num", "json-num"):
            return col.astype(float) == float(value)
        return false
    if op == "contains":
        if isinstance(value, str) and kind in ("str", "json-str"):
            return col.astype(str).str.contains(value, regex=False)
        return false
    if op in ("greater_than", "less_than"):
        if kind not in ("num", "json-num"):
            return false
        num = col.astype(float)
        return num > float(value) if op == "greater_than" else num < float(value)
    return false


def expected(df: pd.DataFrame, configs: list[MetricConfig]) -> pd.DataFrame:
    """Final windowed aggregates over ``df``: KEY columns + value."""
    window_ms = np.int64(configs[0].window_size * 1000)
    ts_ms = df["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
    base = pd.DataFrame({"window_start": (ts_ms - ts_ms % window_ms) // 1000}, index=df.index)
    parts = []
    for i, cfg in enumerate(configs):
        mask = pd.Series(True, index=df.index)
        for c in cfg.filter_conditions:
            mask &= _condition(df, c.field, c.value, c.operator)
        sel = df[mask]
        d = cfg.metric_definition
        rec = base[mask].copy()
        if d.type == MetricType.COUNT:
            rec["value"] = 1.0
        else:
            rec["value"] = sel[d.field].astype(float).fillna(0.0)
        labels = {k: str(v) for k, v in d.metric_labels.items()}
        names = sorted(set(labels) | set(d.dynamic_labels))
        for label, field in d.dynamic_labels.items():
            rec["l_" + label] = sel[field].astype(str)
        dyn = ["l_" + n for n in sorted(d.dynamic_labels)]
        agg = rec.groupby(["window_start"] + dyn, as_index=False)["value"].sum()
        keys = []
        for row in agg[dyn].to_numpy().tolist():
            merged = {**labels, **dict(zip(sorted(d.dynamic_labels), row))}
            keys.append(json.dumps({n: merged[n] for n in names}))
        agg["labels_key"] = keys
        agg["metric_id"] = i
        parts.append(agg[KEY + ["value"]])
    return pd.concat(parts, ignore_index=True)


def combine(partials: list[pd.DataFrame]) -> pd.DataFrame:
    """Sum per-input-group aggregates into the aggregates of their union."""
    return pd.concat(partials, ignore_index=True).groupby(KEY, as_index=False)["value"].sum()


def labels_key(labels: dict | list | None) -> str:
    """Canonical key of a program-side label map (dict or list of pairs)."""
    if not labels:
        return "{}"
    items = dict(labels)
    return json.dumps({k: items[k] for k in sorted(items)})


def program_key(row: dict) -> tuple[int, str, int]:
    """(metric_id, labels_key, window_start epoch s) of a program output
    row (a Row dict, or a parquet row with labels as key/value pairs)."""
    return int(row["metric_id"]), labels_key(row["labels"]), int(row["window_start"].timestamp())


def compare(want: pd.DataFrame, got: dict[tuple, float], limit: int = 5) -> list[str]:
    """Mismatches between the expectation and the program's last update
    per key. Values are sums of multiples of 0.25, exact in a double, so
    they must be equal, not close."""
    want_map = {
        (int(m), k, int(w)): float(v)
        for m, k, w, v in want[KEY + ["value"]].itertuples(index=False)
    }
    errors = []
    for key in sorted(want_map.keys() - got.keys())[:limit]:
        errors.append(f"missing {key} = {want_map[key]}")
    for key in sorted(got.keys() - want_map.keys())[:limit]:
        errors.append(f"unexpected {key} = {got[key]}")
    wrong = [k for k in want_map.keys() & got.keys() if want_map[k] != got[k]]
    for key in sorted(wrong)[:limit]:
        errors.append(f"value {key}: want {want_map[key]}, got {got[key]}")
    return errors

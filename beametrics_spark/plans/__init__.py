"""Plan inspection helpers — the engine's `.explain` toolkit.

Used by tests/test_plans.py to PIN physical properties (pushdown,
pruning, single-scan fan-out, hash aggregation, broadcast joins) and
available interactively for plan review during operator work.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the data source scan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each scan — what actually gets read (column pruning)."""
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


def scan_count(df: DataFrame, fmt: str = "parquet") -> int:
    return executed_plan(df).count(f"FileScan {fmt}")


def uses_hash_aggregate(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "HashAggregate" in plan and "SortAggregate" not in plan


def exchanges(df: DataFrame) -> list[str]:
    """The shuffle boundaries — what you count when minimizing shuffles."""
    return re.findall(r"Exchange (\w+)", executed_plan(df))

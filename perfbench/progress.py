"""Metrics derived from Structured Streaming progress reports.

Every function takes progress reports as plain dicts (the JSON of
``StreamingQueryProgress``), so the derivations are testable on canned
reports. Times come from the engine's own trigger timestamps and
``durationMs``, not from polling in Python.
"""

from __future__ import annotations

import statistics
from datetime import datetime, timezone

# durationMs phase -> per-layer metric name (per-trigger median)
PHASES = {
    "latestOffset": "sources.latest_offset_ms",
    "getBatch": "sources.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


def parse_time(stamp: str) -> float:
    """Progress timestamp ('2024-01-01T00:00:00.123Z') -> epoch seconds."""
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def trigger_start(p: dict) -> float:
    return parse_time(p["timestamp"])


def trigger_end(p: dict) -> float:
    return parse_time(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0


def data_triggers(progress: list[dict]) -> list[dict]:
    """One report per batch that read input, in batch order."""
    by_batch = {p["batchId"]: p for p in progress if p.get("numInputRows", 0) > 0}
    return [by_batch[b] for b in sorted(by_batch)]


def steady(progress: list[dict]) -> list[dict]:
    """Every data trigger after the first (warm-up) one."""
    return [p for p in data_triggers(progress) if p["batchId"] > 0]


def rows_per_s(steady_triggers: list[dict]) -> float:
    """Input rows over wall time, first steady start to last steady end."""
    rows = sum(p["numInputRows"] for p in steady_triggers)
    wall = trigger_end(steady_triggers[-1]) - trigger_start(steady_triggers[0])
    return rows / wall


def trigger_p50_s(steady_triggers: list[dict]) -> float:
    return statistics.median(p["durationMs"]["triggerExecution"] for p in steady_triggers) / 1000.0


def phase_p50_ms(steady_triggers: list[dict]) -> dict[str, float]:
    return {
        name: float(statistics.median(p["durationMs"].get(phase, 0) for p in steady_triggers))
        for phase, name in PHASES.items()
    }


def _state(p: dict) -> dict:
    ops = p.get("stateOperators") or []
    return ops[0] if ops else {}


def state_metrics(steady_triggers: list[dict]) -> dict[str, float]:
    last = _state(steady_triggers[-1])
    return {
        "state.commit_ms": float(statistics.median(_state(p).get("commitTimeMs", 0) for p in steady_triggers)),
        "state.instances": float(last.get("numStateStoreInstances", 0)),
        "state.rows_total": float(last.get("numRowsTotal", 0)),
        "state.memory_bytes": float(last.get("memoryUsedBytes", 0)),
        "state.rows_dropped_by_watermark": float(
            sum(_state(p).get("numRowsDroppedByWatermark", 0) for p in steady_triggers)
        ),
    }


def input_problems(steady_triggers: list[dict], planned_rows: int) -> list[str]:
    """Steady triggers that read other than their planned rows."""
    return [
        f"batch {p['batchId']} read {p['numInputRows']} rows, planned {planned_rows}"
        for p in steady_triggers
        if p["numInputRows"] != planned_rows
    ]


def state_drift(steady_triggers: list[dict], tolerance: float = 0.25) -> list[str]:
    """A state store whose row count drifts across the steady triggers:
    the watermark is not evicting, so trigger cost grows with run length."""
    totals = [_state(p).get("numRowsTotal") for p in steady_triggers]
    if not totals or None in totals or max(totals) <= (1 + tolerance) * min(totals):
        return []
    return [f"state rows drift across steady triggers: {totals}"]

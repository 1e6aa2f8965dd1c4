"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same rows, the same files and the same metric configs. The program under
test only ever sees the files written here; the rows themselves stay in
the benchmark process for the pandas expectation (expect.py).

Event time is laid out so that every stream trigger covers one window:
trigger k's on-time events fall in [base + k*W - JITTER, base + (k+1)*W),
so the watermark (max event time - 30 s) always trails the open windows
and state stays at a few windows per key. Planned-late events sit
LATE_BEHIND_S behind their trigger, far past the watermark. Spark drops
late rows against the previous batch's watermark, which is still 0 in
batches 0 and 1, so late rows are planned from batch 2 on.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from beametrics_spark.config import (
    ExporterConfig,
    FilterCondition,
    MetricConfig,
    MetricDefinition,
)

WINDOW_S = 10
BASE_S = 1_704_067_200  # 2024-01-01T00:00:00Z
JITTER_S = 8  # < the program's 30 s default watermark minus one window
LATE_BEHIND_S = 3600
LATE_SHARE = 0.01
SJIS_SHARE = 0.05
INVALID_SHARE = 0.01  # half undecodable bytes, half decodable non-JSON

EVENT_TYPES = np.array(["click", "view", "purchase", "error", "login", "logout"], dtype=object)
SEVERITIES = np.array(["DEBUG", "INFO", "WARN", "ERROR"], dtype=object)
SERVICES = np.array(["api", "web", "db", "auth", "cache", "queue", "search", "billing"], dtype=object)
REGIONS = np.array(["us", "eu", "ap", "sa"], dtype=object)
TIERS = np.array(["gold", "silver", "bronze"], dtype=object)
BROWSERS = np.array(["firefox", "chrome", "safari", "edge"], dtype=object)
MESSAGES = np.array(
    [
        "GET /api/items ok",
        "GET /api/cart ok",
        "POST /api/order ok",
        "upstream timeout after 30s",
        "permission denied for user",
        "cache miss, refilled",
        "GET /health ok",
        "write timeout on replica",
    ],
    dtype=object,
)
SJIS_MESSAGES = np.array(
    ["タイムアウト発生", "接続エラー", "処理完了", "権限がありません"], dtype=object
)
N_USERS = 50_000

EVENT_COLUMNS = (
    "ts", "event_type", "severity", "service", "region",
    "latency_ms", "bytes", "message", "user_id", "props",
)


def _cfg(name, mtype="count", field=None, conds=(), static=None, dynamic=None):
    return MetricConfig(
        metric_definition=MetricDefinition(
            name=name,
            type=mtype,
            field=field,
            metric_labels=static,
            dynamic_labels=dynamic,
        ),
        filter_conditions=[FilterCondition(f, v, op) for f, v, op in conds],
        exporter=ExporterConfig(export_type="memory"),
        window_size=WINDOW_S,
    )


def many_metric_configs() -> list[MetricConfig]:
    """16 configs: count and sum; equals, greater_than and contains
    filters; static labels, dynamic labels, and labels and filters read
    from the ``props`` JSON column. No config is match-all, so the
    program's OR prefilter applies. No label is high-cardinality."""
    return [
        _cfg("errors", conds=[("event_type", "error", "equals")], dynamic={"service": "service"}),
        _cfg("sev_error", conds=[("severity", "ERROR", "equals")],
             dynamic={"service": "service", "region": "region"}),
        _cfg("purchase_latency", "sum", "latency_ms", [("event_type", "purchase", "equals")],
             static={"env": "bench"}, dynamic={"region": "region"}),
        _cfg("slow", conds=[("latency_ms", 500, "greater_than")], dynamic={"service": "service"}),
        _cfg("timeout_bytes", "sum", "bytes", [("message", "timeout", "contains")],
             dynamic={"service": "service"}),
        _cfg("denied", conds=[("message", "denied", "contains")], static={"team": "sec"}),
        _cfg("retried", conds=[("retries", 1, "greater_than")], dynamic={"tier": "tier"}),
        _cfg("warn_latency", "sum", "latency_ms", [("severity", "WARN", "equals")],
             dynamic={"region": "region", "tier": "tier"}),
        _cfg("logins", conds=[("event_type", "login", "equals")],
             static={"env": "bench"}, dynamic={"region": "region"}),
        _cfg("big_bytes", "sum", "bytes", [("bytes", 4000, "greater_than")],
             dynamic={"region": "region"}),
        _cfg("api_info", conds=[("severity", "INFO", "equals"), ("service", "api", "equals")],
             dynamic={"region": "region"}),
        _cfg("get_latency", "sum", "latency_ms", [("message", "GET", "contains")],
             dynamic={"service": "service"}),
        _cfg("views", conds=[("event_type", "view", "equals")],
             dynamic={"service": "service", "tier": "tier"}),
        _cfg("gold", conds=[("tier", "gold", "equals")], dynamic={"service": "service"}),
        _cfg("slow_click_latency", "sum", "latency_ms",
             [("latency_ms", 100, "greater_than"), ("event_type", "click", "equals")],
             dynamic={"service": "service"}),
        _cfg("eu", conds=[("region", "eu", "equals")],
             static={"env": "bench", "dc": "eu1"}, dynamic={"service": "service"}),
    ]


def decode_metric_configs() -> list[MetricConfig]:
    """The one count config of the bulk-decode stream."""
    return [
        _cfg("decoded", conds=[("latency_ms", 0, "greater_than")],
             static={"env": "bench"}, dynamic={"service": "service"})
    ]


def _pick(rng: np.random.Generator, values: np.ndarray, n: int) -> np.ndarray:
    return values[rng.integers(0, len(values), n)]


def events(rng: np.random.Generator, ts_ms: np.ndarray) -> pd.DataFrame:
    """Typed event rows at the given epoch-millisecond times.

    latency_ms is a multiple of 0.25 and bytes an integer, so every sum
    the program computes is exact in a double and outputs compare equal.
    """
    n = len(ts_ms)
    tier = rng.integers(0, len(TIERS), n)
    retries = rng.integers(0, 5, n)
    browser = rng.integers(0, len(BROWSERS), n)
    combos = np.array(
        [
            json.dumps({"tier": str(t), "retries": int(r), "browser": str(b)}, separators=(",", ":"))
            for t in TIERS for r in range(5) for b in BROWSERS
        ],
        dtype=object,
    )
    users = np.array([f"u{i:06d}" for i in range(N_USERS)], dtype=object)
    return pd.DataFrame(
        {
            "ts": ts_ms.astype("datetime64[ms]"),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "severity": _pick(rng, SEVERITIES, n),
            "service": _pick(rng, SERVICES, n),
            "region": _pick(rng, REGIONS, n),
            "latency_ms": rng.integers(1, 4000, n) / 4.0,
            "bytes": rng.integers(0, 8192, n).astype("int64"),
            "message": _pick(rng, MESSAGES, n),
            "user_id": users[rng.integers(0, N_USERS, n)],
            "props": combos[(tier * 5 + retries) * len(BROWSERS) + browser],
            # benchmark-side truth columns, never written to the inputs
            "tier": TIERS[tier],
            "retries": retries,
        }
    )


WARMUP_WINDOWS = 6  # the warm-up trigger fills the state the steady ones keep


def trigger_times(rng: np.random.Generator, k: int, n: int, late: bool) -> tuple[np.ndarray, np.ndarray]:
    """Epoch-ms times for trigger k's n events and the planned-late mask.

    The warm-up trigger (k = 0) spreads over WARMUP_WINDOWS windows so
    the state store already holds its steady number of windows when the
    steady triggers start; steady triggers cover one window plus jitter.
    """
    end_ms = (BASE_S + (k + 1) * WINDOW_S) * 1000
    span_ms = (WARMUP_WINDOWS * WINDOW_S if k == 0 else WINDOW_S + JITTER_S) * 1000
    ts = rng.integers(end_ms - span_ms, end_ms, n)
    is_late = np.zeros(n, dtype=bool)
    if late and k > 1:
        is_late[rng.random(n) < LATE_SHARE] = True
        ts[is_late] -= LATE_BEHIND_S * 1000
    return ts, is_late


def _split(n: int, parts: int) -> list[slice]:
    bounds = np.linspace(0, n, parts + 1).astype(int)
    return [slice(int(a), int(b)) for a, b in zip(bounds[:-1], bounds[1:])]


def _set_group_mtime(group_dir: str, k: int) -> None:
    # the file source orders files by modification time; one distinct
    # time per group makes maxFilesPerTrigger=nfiles take whole groups
    stamp = BASE_S + k
    for name in os.listdir(group_dir):
        os.utime(os.path.join(group_dir, name), (stamp, stamp))


def _text(values) -> np.ndarray:
    return np.asarray(values).astype(str).astype(object)


def _join(*parts) -> np.ndarray:
    out = parts[0]
    for part in parts[1:]:
        out = out + part
    return out


def json_lines(df: pd.DataFrame) -> np.ndarray:
    """One JSON object per event, ``props`` as a nested object."""
    ts = _text(np.datetime_as_string(df["ts"].to_numpy(), unit="ms"))
    return _join(
        '{"ts":"', ts, '","event_type":"', df["event_type"].to_numpy(),
        '","severity":"', df["severity"].to_numpy(), '","service":"', df["service"].to_numpy(),
        '","region":"', df["region"].to_numpy(), '","latency_ms":', _text(df["latency_ms"]),
        ',"bytes":', _text(df["bytes"]), ',"message":"', df["message"].to_numpy(),
        '","user_id":"', df["user_id"].to_numpy(), '","props":', df["props"].to_numpy(), "}",
    )


def write_json_group(df: pd.DataFrame, group_dir: str, k: int, nfiles: int) -> None:
    os.makedirs(group_dir)
    lines = json_lines(df)
    for j, part in enumerate(_split(len(lines), nfiles)):
        with open(os.path.join(group_dir, f"part-{j:03d}.json"), "w", encoding="utf-8") as f:
            f.write("\n".join(lines[part]) + "\n")
    _set_group_mtime(group_dir, k)


def payloads(rng: np.random.Generator, df: pd.DataFrame) -> tuple[list[bytes], np.ndarray]:
    """Raw binary payloads for the bulk-decode stream and their validity.

    Most rows are UTF-8 JSON; SJIS_SHARE carry a Japanese message encoded
    as Shift-JIS (UTF-8 decode fails, the fallback chain recovers them);
    INVALID_SHARE are dropped by the program: half are bytes no encoding
    in the chain accepts, half decode as UTF-8 but are not JSON.
    """
    n = len(df)
    kind = rng.random(n)
    sjis = kind < SJIS_SHARE
    undecodable = (kind >= SJIS_SHARE) & (kind < SJIS_SHARE + INVALID_SHARE / 2)
    non_json = (kind >= SJIS_SHARE + INVALID_SHARE / 2) & (kind < SJIS_SHARE + INVALID_SHARE)
    messages = df["message"].to_numpy().copy()
    messages[sjis] = _pick(rng, SJIS_MESSAGES, int(sjis.sum()))
    ts = _text(np.datetime_as_string(df["ts"].to_numpy(), unit="ms"))
    texts = _join(
        '{"ts":"', ts, '","severity":"', df["severity"].to_numpy(),
        '","service":"', df["service"].to_numpy(), '","latency_ms":', _text(df["latency_ms"]),
        ',"message":"', messages, '"}',
    )
    out = [t.encode("utf-8") for t in texts]
    for i in np.flatnonzero(sjis):
        out[i] = texts[i].encode("shift_jis")
    for i in np.flatnonzero(undecodable):
        out[i] = b"\xff" * (8 + i % 8)
    for i in np.flatnonzero(non_json):
        out[i] = f"not json {{ {i}".encode("utf-8")
    return out, ~(undecodable | non_json)


def write_payload_group(values: list[bytes], group_dir: str, k: int, nfiles: int) -> None:
    os.makedirs(group_dir)
    for j, part in enumerate(_split(len(values), nfiles)):
        table = pa.table({"value": pa.array(values[part], type=pa.binary())})
        pq.write_table(table, os.path.join(group_dir, f"part-{j:03d}.parquet"))
    _set_group_mtime(group_dir, k)


# name -> (rows per trigger, metric configs, input format, planned-late rows)
WORKLOADS = {
    "stream_many_metrics": (20_000, many_metric_configs, "json", True),
    "stream_bulk_decode": (100_000, decode_metric_configs, "payload", False),
}


def generate(workload: str, seed: int, groups: int, nfiles: int, out_dir: str) -> dict:
    """Write ``groups`` trigger groups of ``nfiles`` files each under
    out_dir/staging/gNNNN, the per-group expectation to
    out_dir/expected.parquet, and return the plan (also out_dir/plan.json)."""
    import expect

    rows, make_configs, fmt, late = WORKLOADS[workload]
    configs = make_configs()
    rng = np.random.default_rng(seed)
    plan = {"workload": workload, "seed": seed, "nfiles": nfiles, "groups": []}
    partials = []
    for k in range(groups):
        ts, is_late = trigger_times(rng, k, rows, late)
        df = events(rng, ts)
        group_dir = os.path.join(out_dir, "staging", f"g{k:04d}")
        if fmt == "json":
            write_json_group(df, group_dir, k, nfiles)
            valid = np.ones(rows, dtype=bool)
        else:
            values, valid = payloads(rng, df)
            write_payload_group(values, group_dir, k, nfiles)
        kept = df[valid & ~is_late]
        part = expect.expected(kept, configs)
        part["group"] = k
        partials.append(part)
        late_windows = sorted(set((ts[is_late] // 1000 // WINDOW_S * WINDOW_S).tolist()))
        plan["groups"].append(
            {"rows": rows, "valid": int(valid.sum()), "late": int(is_late.sum()),
             "late_windows": late_windows}
        )
    pd.concat(partials, ignore_index=True).to_parquet(os.path.join(out_dir, "expected.parquet"))
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan


def main(argv: list[str] | None = None) -> int:
    import argparse

    p = argparse.ArgumentParser(description="Write one workload's seeded inputs and expectation.")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--groups", type=int, required=True)
    p.add_argument("--nfiles", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    generate(args.workload, args.seed, args.groups, args.nfiles, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

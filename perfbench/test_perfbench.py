"""Tests of the benchmark itself: python -m pytest perfbench -q"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import expect  # noqa: E402
import gen  # noqa: E402
import progress as prog  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    plans = [gen.generate(workload, seed, 3, 2, str(tmp_path / f"{seed}-{i}"))
             for i, seed in enumerate((7, 7, 8))]
    assert plans[0] == plans[1]
    assert _same_tree(str(tmp_path / "7-0"), str(tmp_path / "7-1"))
    assert not _same_tree(str(tmp_path / "7-0" / "staging"), str(tmp_path / "8-2" / "staging"))
    rows = gen.WORKLOADS[workload][0]
    assert [g["rows"] for g in plans[0]["groups"]] == [rows] * 3


def test_groups_carry_their_mtime_order(tmp_path):
    gen.generate("stream_many_metrics", 1, 3, 2, str(tmp_path))
    stamps = [
        {os.stat(os.path.join(tmp_path, "staging", g, f)).st_mtime
         for f in os.listdir(os.path.join(tmp_path, "staging", g))}
        for g in sorted(os.listdir(os.path.join(tmp_path, "staging")))
    ]
    assert all(len(s) == 1 for s in stamps)
    assert [min(s) for s in stamps] == sorted(min(s) for s in stamps)


def test_late_rows_start_at_batch_two_and_stay_behind_the_watermark():
    rng = np.random.default_rng(3)
    for k in range(4):
        ts, late = gen.trigger_times(rng, k, 5000, True)
        assert late.any() == (k > 1)
        on_time = ts[~late] // 1000
        assert on_time.min() >= gen.BASE_S + (k + 1) * gen.WINDOW_S - (
            gen.WARMUP_WINDOWS * gen.WINDOW_S if k == 0 else gen.WINDOW_S + gen.JITTER_S)
        if late.any():
            assert (ts[late] // 1000).max() < on_time.min() - 30 * 60


def test_payload_kinds_decode_as_planned():
    rng = np.random.default_rng(5)
    ts, _ = gen.trigger_times(rng, 1, 4000, False)
    values, valid = gen.payloads(rng, gen.events(rng, ts))

    def decodes(raw: bytes) -> bool:
        for enc in ("utf-8", "shift-jis", "euc-jp", "iso-2022-jp"):
            try:
                text = raw.decode(enc)
            except UnicodeDecodeError:
                continue
            try:
                json.loads(text)
            except json.JSONDecodeError:
                return False
            return True
        return False

    assert [decodes(v) for v in values] == valid.tolist()
    share = 1 - valid.mean()
    assert 0.005 < share < 0.02
    sjis = [v for v in values if not _utf8(v) and decodes(v)]
    assert 0.03 < len(sjis) / len(values) < 0.07


def _utf8(raw: bytes) -> bool:
    try:
        raw.decode("utf-8")
        return True
    except UnicodeDecodeError:
        return False


def _progress(batch, start, trigger_ms, rows, state_rows=100):
    return {
        "batchId": batch,
        "timestamp": start,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 100, "latestOffset": 10,
                       "getBatch": 5, "queryPlanning": 20, "walCommit": 30, "commitOffsets": 35},
        "stateOperators": [{"numRowsTotal": state_rows, "commitTimeMs": 7, "numStateStoreInstances": 8,
                            "memoryUsedBytes": 1000, "numRowsDroppedByWatermark": batch}],
    }


CANNED = [
    _progress(0, "2024-01-01T00:00:00.000Z", 20_000, 1000),
    _progress(1, "2024-01-01T00:00:20.000Z", 2_000, 1000),
    _progress(2, "2024-01-01T00:00:22.000Z", 3_000, 1000),
    _progress(2, "2024-01-01T00:00:22.000Z", 3_000, 1000),  # repeated report
    _progress(3, "2024-01-01T00:00:25.500Z", 4_000, 1000),
    _progress(4, "2024-01-01T00:00:40.000Z", 10, 0),  # no-data batch
]


def test_steady_triggers_skip_warmup_and_no_data_batches():
    assert [p["batchId"] for p in prog.steady(CANNED)] == [1, 2, 3]
    assert [p["batchId"] for p in prog.data_triggers(CANNED)] == [0, 1, 2, 3]


def test_rows_per_s_spans_first_steady_start_to_last_steady_end():
    # 3000 rows from 00:00:20.000 to 00:00:25.500 + 4.0 s = 9.5 s
    assert prog.rows_per_s(prog.steady(CANNED)) == pytest.approx(3000 / 9.5)


def test_trigger_p50_and_phases_are_per_trigger_medians():
    steady = prog.steady(CANNED)
    assert prog.trigger_p50_s(steady) == pytest.approx(3.0)
    phases = prog.phase_p50_ms(steady)
    assert phases["streaming.add_batch_ms"] == 2900
    assert phases["sources.latest_offset_ms"] == 10
    state = prog.state_metrics(steady)
    assert state["state.rows_dropped_by_watermark"] == 1 + 2 + 3
    assert state["state.instances"] == 8


def test_guards_flag_unplanned_input_and_state_drift():
    steady = prog.steady(CANNED)
    assert prog.input_problems(steady, 1000) == []
    assert len(prog.input_problems(steady, 999)) == 3
    assert prog.state_drift(steady) == []
    growing = [_progress(b, "2024-01-01T00:00:00.000Z", 1000, 10, state_rows=100 * b) for b in (1, 2, 3)]
    assert prog.state_drift(growing)


def test_benchmark_json_names_match_the_code():
    import run
    import streams

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == streams.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from beametrics_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_pandas_expectation_agrees_with_build_metrics_pipeline(spark, tmp_path):
    from beametrics_spark.pipeline import build_metrics_pipeline
    from beametrics_spark.sources import read_parquet

    rng = np.random.default_rng(11)
    ts, _ = gen.trigger_times(rng, 0, 3000, False)
    df = gen.events(rng, ts)
    table = pa.Table.from_pandas(df[list(gen.EVENT_COLUMNS)], preserve_index=False)
    table = table.set_column(0, "ts", pa.array(df["ts"].to_numpy().astype("datetime64[us]"),
                                               type=pa.timestamp("us", tz="UTC")))
    os.makedirs(tmp_path / "events")
    pq.write_table(table, str(tmp_path / "events" / "part-0.parquet"))
    for configs in (gen.many_metric_configs(), gen.decode_metric_configs()):
        rows = build_metrics_pipeline(read_parquet(spark, str(tmp_path / "events")), configs).collect()
        got = {expect.program_key(r.asDict(recursive=True)): float(r["value"]) for r in rows}
        want = expect.expected(df, configs)
        assert len(want) > 10
        assert expect.compare(want, got) == []


def test_compare_reports_missing_unexpected_and_wrong_values():
    want = pd.DataFrame({"metric_id": [0, 0], "labels_key": ["{}", "{}"],
                         "window_start": [10, 20], "value": [1.0, 2.0]})
    got = {(0, "{}", 10): 1.5, (0, "{}", 30): 1.0}
    errors = expect.compare(want, got)
    assert any(e.startswith("missing (0, '{}', 20)") for e in errors)
    assert any(e.startswith("unexpected (0, '{}', 30)") for e in errors)
    assert any(e.startswith("value (0, '{}', 10)") for e in errors)

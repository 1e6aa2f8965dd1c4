"""Streaming semantics: batch ≡ stream parity, decode fallback chain,
malformed-message drop (reference DecodeAndParse, pipeline.py:82-108)."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beametrics_spark.config import FilterCondition, MetricConfig, MetricDefinition
from beametrics_spark.pipeline import build_metrics_pipeline
from beametrics_spark.sinks import MemorySink
from beametrics_spark.streaming import decode_multi_encoding, parse_events, run_metrics_stream

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("severity", T.StringType()),
        T.StructField("bytes", T.LongType()),
    ]
)


def test_multi_encoding_decode(spark):
    payloads = [
        (json.dumps({"msg": "plain"}).encode("utf-8"),),
        (json.dumps({"msg": "テスト"}, ensure_ascii=False).encode("shift-jis"),),
        (b"invalid json data",),
        (b"\xff\xff\xff",),
    ]
    df = spark.createDataFrame(payloads, "value binary")
    out = df.select(decode_multi_encoding(F.col("value")).alias("j")).collect()
    assert json.loads(out[0]["j"]) == {"msg": "plain"}
    assert json.loads(out[1]["j"]) == {"msg": "テスト"}  # shift-jis fallback
    assert out[2]["j"] is None  # valid utf-8, invalid JSON → dropped
    assert out[3]["j"] is None  # undecodable → dropped


def test_parse_events_drops_malformed(spark):
    rows = [
        ('{"ts": "2024-01-01T00:00:05", "severity": "ERROR", "bytes": 10}',),
        ("not json",),
        ('{"ts": "2024-01-01T00:00:15", "severity": "INFO", "bytes": 20}',),
    ]
    df = spark.createDataFrame(rows, "value string")
    parsed = parse_events(df, EVENT_SCHEMA)
    assert parsed.count() == 2
    assert parsed.columns == ["ts", "severity", "bytes"]


def test_batch_stream_parity(spark, tmp_path):
    """The SAME plan over the same rows must agree batch vs stream."""
    data = [
        ("2024-01-01T00:00:05", "ERROR", 100),
        ("2024-01-01T00:00:25", "ERROR", 150),
        ("2024-01-01T00:00:45", "INFO", 200),
        ("2024-01-01T00:01:10", "ERROR", 50),
    ]
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for ts, sev, b in data:
            f.write(json.dumps({"ts": ts, "severity": sev, "bytes": b}) + "\n")

    cfg = MetricConfig(
        metric_definition=MetricDefinition(name="err_bytes", type="sum", field="bytes"),
        filter_conditions=[FilterCondition("severity", "ERROR", "equals")],
    )

    batch_df = spark.read.schema(EVENT_SCHEMA).json(str(src))
    batch = {
        (r["window_start"], r["value"])
        for r in build_metrics_pipeline(batch_df, [cfg], window_size=60).collect()
    }

    stream_df = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
    sink = MemorySink()
    q = run_metrics_stream(
        stream_df,
        [cfg],
        {0: sink},
        window_size=60,
        watermark="10 seconds",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="update",
    )
    q.processAllAvailable()
    q.stop()
    stream = {(r["window_start"], r["value"]) for r in sink.rows}
    assert batch == stream
    assert batch == {
        (__import__("datetime").datetime(2024, 1, 1, 0, 0), 250.0),
        (__import__("datetime").datetime(2024, 1, 1, 0, 1), 50.0),
    }


def test_monitoring_sink_contract_through_foreachbatch(spark, tmp_path):
    """End-to-end adapter contract: a streaming query pushing to the
    Cloud Monitoring sink with an injected fake client keeps running
    through InvalidArgument responses (swallowed per-point, reference
    metrics_exporter.py:116-121) while every accepted point arrives as
    a well-formed TimeSeries request; a fatal client error fails the
    query instead of being dropped."""
    from beametrics_spark.sinks import GoogleCloudMonitoringSink

    class InvalidArgument(Exception):
        pass

    class RecordingClient:
        """Accepts err_bytes points; rejects all_count points as invalid."""

        requests: list = []
        rejected = 0

        def create_time_series(self, req):
            if "all_count" in req["time_series"]["metric"]["type"]:
                RecordingClient.rejected += 1
                raise InvalidArgument("bad label")
            self.requests.append(req)

    data = [
        ("2024-01-01T00:00:05", "ERROR", 100),
        ("2024-01-01T00:00:25", "ERROR", 150),
        ("2024-01-01T00:01:10", "INFO", 50),
    ]
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for ts, sev, b in data:
            f.write(json.dumps({"ts": ts, "severity": sev, "bytes": b}) + "\n")

    cfgs = [
        MetricConfig(
            metric_definition=MetricDefinition(
                name="err_bytes", type="sum", field="bytes"
            ),
            filter_conditions=[FilterCondition("severity", "ERROR", "equals")],
        ),
        MetricConfig(
            metric_definition=MetricDefinition(name="all_count", type="count"),
            filter_conditions=[],  # empty ⇒ match-all (reference filter.py:18-19)
        ),
    ]
    sink = GoogleCloudMonitoringSink("proj", client_factory=RecordingClient)
    stream_df = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
    q = run_metrics_stream(
        stream_df,
        cfgs,
        {0: sink, 1: sink},
        window_size=60,
        watermark="10 seconds",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="update",
    )
    q.processAllAvailable()
    assert q.exception() is None  # InvalidArgument never killed the query
    q.stop()

    assert RecordingClient.rejected > 0
    assert RecordingClient.requests  # at-least-once: accepted points delivered
    for req in RecordingClient.requests:
        assert req["name"] == "projects/proj"
        ts = req["time_series"]
        assert ts["resource"] == {
            "type": "global",
            "labels": {"project_id": "proj"},
        }
        (point,) = ts["points"]
        assert point["interval"]["end_time"] % 60 == 0
        assert isinstance(point["value"]["double_value"], float)

    class Fatal(Exception):
        pass

    class FatalClient:
        def create_time_series(self, req):
            raise Fatal("quota permanently exceeded")

    sink2 = GoogleCloudMonitoringSink("proj", client_factory=FatalClient)
    q2 = run_metrics_stream(
        stream_df,
        cfgs[:1],
        {0: sink2},
        window_size=60,
        watermark="10 seconds",
        checkpoint_dir=str(tmp_path / "ckpt2"),
        output_mode="update",
    )
    with pytest.raises(Exception, match="quota|StreamingQuery"):
        q2.processAllAvailable()
        q2.awaitTermination(30)
    q2.stop()


def test_stream_dedup_drops_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per fingerprint, in a
    corpus where duplicates genuinely exist (the small-SF documents
    tables have none)."""
    from beametrics_spark.operators.stream_parity import stream_dedup_exact

    src = str(tmp_path / "docs")
    rows = [(i, "unique text %d" % i) for i in range(20)]
    rows += [(100 + i, "duplicated body") for i in range(5)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out = stream_dedup_exact(spark, src)
    fps = [r["fp"] for r in out.collect()]
    assert len(fps) == 21  # 20 unique + 1 survivor for the 5 dups
    assert len(set(fps)) == 21


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream inner join (watermarked, time-bounded) produces the
    same pairs as the batch self-join on the same events table."""
    from beametrics_spark.operators.stream_parity import (
        stream_join_click_purchase_parity,
    )
    from beametrics_spark.sources import load_table

    got = {
        (r["click_id"], r["purchase_id"])
        for r in stream_join_click_purchase_parity(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").selectExpr(
        "event_id AS cid", "user_id AS cu", "ts AS cts"
    )
    p = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "event_id AS pid", "user_id AS pu", "ts AS pts"
    )
    want = {
        (r["cid"], r["pid"])
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 60 MINUTES"))
            & (F.col("cts") <= F.col("pts")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Stream-static broadcast join ≡ batch join + windowed agg."""
    from beametrics_spark.operators.stream_parity import (
        stream_static_enrich_parity,
    )
    from beametrics_spark.sources import load_table

    got = {
        (r["window_start"], r["c_nationkey"]): (r["n_purchases"], r["total_value"])
        for r in stream_static_enrich_parity(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cust = load_table(spark, sf_dir, "customer")
    want = {
        (r["ws"], r["c_nationkey"]): (r["n"], r["tv"])
        for r in ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy(
            F.window("ts", "1 hour").start.alias("ws"), "c_nationkey"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("tv"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_checkpoint_recovery_processes_only_new_files(spark, tmp_path):
    """Stop → new data lands → restart from the SAME checkpoint: the
    restarted query must pick up exactly the new file (no reprocessing,
    no loss) and converge to the same aggregates as a batch run over
    everything. This is the exactly-once source-tracking contract the
    reference delegates to Dataflow and we delegate to checkpointed
    file-source offsets."""
    src = tmp_path / "in"
    src.mkdir()

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for ts, sev, b in rows:
                f.write(json.dumps({"ts": ts, "severity": sev, "bytes": b}) + "\n")

    write_file("a.json", [
        ("2024-01-01T00:00:05", "ERROR", 100),
        ("2024-01-01T00:00:25", "ERROR", 150),
    ])

    cfg = MetricConfig(
        metric_definition=MetricDefinition(name="err_bytes", type="sum", field="bytes"),
        filter_conditions=[FilterCondition("severity", "ERROR", "equals")],
    )
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream_df = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
        sink = MemorySink()
        q = run_metrics_stream(
            stream_df, [cfg], {0: sink},
            window_size=60, watermark="10 seconds",
            checkpoint_dir=ckpt, output_mode="update",
        )
        return q, sink

    q1, sink1 = start()
    q1.processAllAvailable()
    q1.stop()
    first = {(r["window_start"], r["value"]) for r in sink1.rows}
    assert first == {(__import__("datetime").datetime(2024, 1, 1, 0, 0), 250.0)}

    # new file arrives while the query is down
    write_file("b.json", [
        ("2024-01-01T00:00:45", "ERROR", 25),   # same window → updated agg
        ("2024-01-01T00:01:10", "ERROR", 50),   # new window
    ])

    q2, sink2 = start()
    q2.processAllAvailable()
    q2.stop()
    emitted = {(r["window_start"], r["value"]) for r in sink2.rows}
    # update mode after restart emits only windows touched by file b,
    # with state RESTORED from the checkpoint (250 + 25, not 25):
    assert emitted == {
        (__import__("datetime").datetime(2024, 1, 1, 0, 0), 275.0),
        (__import__("datetime").datetime(2024, 1, 1, 0, 1), 50.0),
    }


def test_incremental_dedup_stream_multi_epoch(spark, tmp_path):
    """The per-epoch index refresh: a document whose duplicate arrived in
    an EARLIER micro-batch must classify dup_in_batch (not new), and a
    corpus duplicate stays dup_of_corpus even when repeated in-stream —
    converging to exactly what the batch twin computes on the whole drop."""
    from beametrics_spark.operators.dedup import classify_incremental
    from beametrics_spark.operators.stream_parity import (
        run_incremental_dedup_stream,
    )

    corpus = spark.createDataFrame(
        [(1, "corpus text one"), (2, "corpus text two")],
        "doc_id long, text string",
    )
    # epoch 1: doc 10 (new), doc 11 (dup of corpus)
    # epoch 2: doc 20 (dup of doc 10 — EARLIER EPOCH), doc 21 (new),
    #          doc 22 (dup of doc 21 — same epoch), doc 23 (dup of corpus)
    e1 = [(10, "fresh alpha"), (11, "corpus text one")]
    e2 = [
        (20, "fresh alpha"),
        (21, "fresh beta"),
        (22, "fresh beta"),
        (23, "corpus text two"),
    ]
    drop_dir = tmp_path / "drop"
    drop_dir.mkdir()
    schema = "doc_id long, text string"
    # two files, one per epoch via maxFilesPerTrigger=1 (file order is
    # mtime-based; name them so epoch 1 sorts first and set mtimes apart)
    import os
    import time

    spark.createDataFrame(e1, schema).coalesce(1).write.mode("overwrite").parquet(
        str(drop_dir / "e1")
    )
    time.sleep(1.1)
    spark.createDataFrame(e2, schema).coalesce(1).write.mode("overwrite").parquet(
        str(drop_dir / "e2")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop_dir / "*"))
    )
    out = run_incremental_dedup_stream(spark, corpus, stream)
    got = {r.doc_id: r.status for r in out.collect()}
    assert got == {
        10: "new",
        11: "dup_of_corpus",
        20: "dup_in_batch",
        21: "new",
        22: "dup_in_batch",
        23: "dup_of_corpus",
    }
    # parity with the batch twin over the same whole drop
    whole_drop = spark.createDataFrame(e1 + e2, schema)
    batch = {
        r.doc_id: r.status
        for r in classify_incremental(corpus, whole_drop).collect()
    }
    assert got == batch


def test_append_mode_watermark_drops_late_events(spark, tmp_path):
    """The watermark CONTRACT, exercised end-to-end: in append mode a
    window emits exactly once after the watermark passes its end, and
    an event arriving after that — inside the already-finalized window
    — is DROPPED (the single-batch complete-mode parity runs can never
    show this). Three micro-batches via maxFilesPerTrigger=1:

      b1: two events in W0=[00:00,00:01) + one in W1=[00:01,00:02)
          (max event time 00:01:40)
      b2: one far-future event (10:00:00) -> watermark jumps past W0/W1,
          both finalize and append-emit with b1's counts
      b3: a LATE event back in W0 -> must contribute nothing (W0 already
          emitted; no second W0 row, count stays 2)
    """
    import os
    import time as _time

    src = tmp_path / "late"
    src.mkdir()

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for ts, sev, b in rows:
                f.write(json.dumps({"ts": ts, "severity": sev, "bytes": b}) + "\n")
        _time.sleep(1.1)  # file order is mtime-based

    write_file("b1.json", [
        ("2024-01-01T00:00:05", "ERROR", 1),
        ("2024-01-01T00:00:25", "ERROR", 1),
        ("2024-01-01T00:01:40", "ERROR", 1),
    ])
    write_file("b2.json", [("2024-01-01T10:00:00", "ERROR", 1)])
    write_file("b3.json", [("2024-01-01T00:00:55", "ERROR", 1)])  # LATE

    cfg = MetricConfig(
        metric_definition=MetricDefinition(name="err_count", type="count"),
        filter_conditions=[FilterCondition("severity", "ERROR", "equals")],
    )
    stream_df = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sink = MemorySink()
    q = run_metrics_stream(
        stream_df,
        [cfg],
        {0: sink},
        window_size=60,
        watermark="10 seconds",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    import datetime

    w0 = datetime.datetime(2024, 1, 1, 0, 0)
    w1 = datetime.datetime(2024, 1, 1, 0, 1)
    emitted = [(r["window_start"], r["value"]) for r in sink.rows]
    # W0 emitted exactly once, with b1's two events — the late b3 event
    # contributed nothing
    assert emitted.count((w0, 2.0)) == 1
    assert sum(1 for ws, _ in emitted if ws == w0) == 1
    assert (w1, 1.0) in emitted


def test_streaming_salted_fanout(spark, tmp_path):
    """Chained two-phase SALTED aggregation under the streaming harness
    (VERDICT r5 #9): a planted ultra-hot label set (one severity owns
    ~97% of the rows) streams through phase-1 (window × key × salt
    partial sums) chained into phase-2 (window × key merge) — Spark's
    multiple-stateful-operator support — and the finalized windows must
    be value-identical to the BATCH UNSALTED truth. Append mode: Spark
    restricts chained stateful aggregations to append output, so only
    watermark-finalized windows emit; a far-future flush row closes
    every data window."""
    import datetime

    rows = []
    # hot key: 970 rows of severity=HOT across 3 windows; cold tail
    for i in range(970):
        ts = f"2024-01-01T00:{i % 3:02d}:{i % 60:02d}"
        rows.append({"ts": ts, "severity": "HOT", "bytes": 10})
    for i in range(30):
        ts = f"2024-01-01T00:{i % 3:02d}:{(i * 7) % 60:02d}"
        rows.append({"ts": ts, "severity": f"cold{i % 5}", "bytes": 1})
    # watermark-advancer: a row far past every data window, so append
    # mode finalizes all three data windows before the drain ends
    rows.append({"ts": "2024-01-01T01:00:00", "severity": "flush", "bytes": 0})
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "a.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    cfg = MetricConfig(
        metric_definition=MetricDefinition(
            name="bytes_by_sev",
            type="sum",
            field="bytes",
            dynamic_labels={"sev": "severity"},
        ),
        filter_conditions=[],
    )

    batch_df = spark.read.schema(EVENT_SCHEMA).json(str(src))
    batch = {
        (r["window_start"], tuple(sorted(r["labels"].items())), r["value"])
        for r in build_metrics_pipeline(batch_df, [cfg], window_size=60).collect()
        if r["labels"]["sev"] != "flush"
    }

    stream_df = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
    sink = MemorySink()
    q = run_metrics_stream(
        stream_df,
        [cfg],
        {0: sink},
        window_size=60,
        watermark="10 seconds",
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
        salt_buckets=8,
    )
    q.processAllAvailable()
    q.stop()
    stream = {
        (r["window_start"], tuple(sorted(r["labels"].items())), r["value"])
        for r in sink.rows
        if r["labels"]["sev"] != "flush"
    }
    assert stream == batch
    # the hot key really was hot: one (window, label) row sums 300+ rows
    hot = [v for _, labels, v in batch if ("sev", "HOT") in labels]
    assert hot and max(hot) >= 3000


def test_streaming_salted_requires_watermark_and_append(spark, tmp_path):
    """Guard rails: no watermark → loud error (unbounded chained state);
    update mode → Spark itself rejects chained stateful aggregation."""
    from beametrics_spark.pipeline import aggregate_windows, fan_out
    from beametrics_spark.pipeline import schema_resolver

    cfg = MetricConfig(
        metric_definition=MetricDefinition(name="m", type="count"),
        filter_conditions=[],
    )
    stream_df = spark.readStream.schema(EVENT_SCHEMA).json(str(tmp_path))
    fanned = fan_out(stream_df, [cfg], resolve=schema_resolver(stream_df))
    with pytest.raises(ValueError, match="watermark"):
        aggregate_windows(fanned, [cfg], window_size=60, salt_buckets=8)


def test_write_chunks_keeps_empty_chunks(spark, tmp_path):
    """The chunked stream-feed writer emits one file per chunk key even
    when a chunk has no rows, so a maxFilesPerTrigger=1 stream still
    fires one trigger per chunk; rows land in their own chunk file."""
    import os

    from beametrics_spark.operators.stream_parity import _write_chunks

    df = spark.range(30).selectExpr("id AS doc_id", "CAST(id AS STRING) AS s")
    # ids 0..29 over 10-wide buckets: chunk 3 (ids 30..39) is empty
    _write_chunks(df, (F.col("doc_id") / 10).cast("int"), str(tmp_path))

    files = sorted(os.listdir(tmp_path))
    assert files == ["00.parquet", "01.parquet", "02.parquet", "03.parquet"]
    mtimes = [os.path.getmtime(tmp_path / f) for f in files]
    assert mtimes == sorted(mtimes)
    counts = [spark.read.parquet(str(tmp_path / f)).count() for f in files]
    assert counts == [10, 10, 10, 0]
    assert spark.read.parquet(str(tmp_path / "03.parquet")).columns == ["doc_id", "s"]

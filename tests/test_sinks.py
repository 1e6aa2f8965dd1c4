"""Sink semantics, ported from the reference's tests/test_metrics_exporter.py
(factory dispatch, Cloud request shape, label merge, stdout golden output,
failure swallowing — SURVEY.md §5)."""

import io
import json

import pytest

from beametrics_spark.sinks import (
    SINK_REGISTRY,
    GoogleCloudMonitoringSink,
    LocalSink,
    MemorySink,
    build_time_series_request,
    create_sink,
    minute_aligned_interval,
    route_by_metric,
    sinks_for_configs,
)

FILE_FORMATS = ["parquet", "json", "csv", "orc"]


def _read_back(spark, fmt, path):
    reader = spark.read.option("header", "true") if fmt == "csv" else spark.read
    return reader.format(fmt).load(path)


def _points_df(spark):
    return spark.createDataFrame(
        [
            (0, "error_count", {"service": "api"}, 42.0),
            (1, "bytes_sum", {"service": "api"}, 250.0),
        ],
        "metric_id int, metric_name string, labels map<string,string>, value double",
    )


def test_factory_dispatch_and_invalid():
    # reference tests/test_metrics_exporter.py:17-33,149-158
    assert isinstance(create_sink("local"), LocalSink)
    assert isinstance(create_sink("memory"), MemorySink)
    assert isinstance(
        create_sink("google-cloud-monitoring", project_id="p"),
        GoogleCloudMonitoringSink,
    )
    with pytest.raises(ValueError, match="Unsupported export type"):
        create_sink("bogus")


def test_local_sink_golden_output(spark):
    # golden format: {"timestamp", "metric_name", "value", "labels"}
    # (reference metrics_exporter.py:213-220, test:161-178)
    buf = io.StringIO()
    LocalSink(stream=buf).write(_points_df(spark).filter("metric_id = 0"))
    lines = [json.loads(x) for x in buf.getvalue().strip().splitlines()]
    assert len(lines) == 1
    rec = lines[0]
    assert set(rec) == {"timestamp", "metric_name", "value", "labels"}
    assert rec["metric_name"] == "error_count"
    assert rec["value"] == 42.0
    assert rec["labels"] == {"service": "api"}
    assert isinstance(rec["timestamp"], float)


def test_minute_alignment():
    # reference metrics_exporter.py:76-78
    start, end = minute_aligned_interval(1700000123.9)
    assert start == end == 1700000100


def test_time_series_request_shape():
    # reference metrics_exporter.py:80-109, test:75-101
    req = build_time_series_request(
        project_id="proj",
        metric_name="custom.googleapis.com/error_count",
        value=7.0,
        static_labels={"service": "api", "region": "static"},
        dynamic_labels={"region": "us"},  # dynamic wins (test:130-146)
        now=1700000123.0,
    )
    assert req["name"] == "projects/proj"
    ts = req["time_series"]
    assert ts["metric"]["type"] == "custom.googleapis.com/error_count"
    assert ts["metric"]["labels"] == {"service": "api", "region": "us"}
    assert ts["resource"]["type"] == "global"
    point = ts["points"][0]
    assert point["value"]["double_value"] == 7.0
    assert point["interval"]["start_time"] == 1700000100


def test_monitoring_sink_swallows_invalid_argument(spark):
    # reference metrics_exporter.py:116-121 — InvalidArgument swallowed,
    # other exceptions re-raised
    class InvalidArgument(Exception):
        pass

    class FlakyClient:
        def __init__(self):
            self.calls = 0

        def create_time_series(self, req):
            self.calls += 1
            raise InvalidArgument("bad label")

    client = FlakyClient()
    sink = GoogleCloudMonitoringSink("proj", client_factory=lambda: client)
    sink.write(_points_df(spark))  # must not raise
    assert client.calls == 2

    class Fatal(Exception):
        pass

    class FatalClient:
        def create_time_series(self, req):
            raise Fatal("boom")

    sink2 = GoogleCloudMonitoringSink("proj", client_factory=FatalClient)
    with pytest.raises(Fatal):
        sink2.write(_points_df(spark))


def test_monitoring_sink_without_client_raises(spark):
    with pytest.raises(NotImplementedError):
        GoogleCloudMonitoringSink("proj").write(_points_df(spark))


@pytest.mark.parametrize("fmt", FILE_FORMATS)
def test_file_sink_roundtrip(spark, tmp_path, fmt):
    path = str(tmp_path / "out")
    create_sink(fmt, path=path).write(_points_df(spark))
    back = _read_back(spark, fmt, path)
    assert back.count() == 2
    assert {r["metric_name"] for r in back.collect()} == {"error_count", "bytes_sum"}


def test_route_by_metric_dispatch(spark):
    # MultiMetricsExporter dispatch (reference pipeline.py:225-231)
    s0, s1 = MemorySink(), MemorySink()
    route_by_metric({0: s0, 1: s1})(_points_df(spark), 0)
    assert [r["metric_name"] for r in s0.rows] == ["error_count"]
    assert [r["metric_name"] for r in s1.rows] == ["bytes_sum"]


def test_monitoring_adapter_fake_records_and_swallows(spark):
    """The adapter seam: GoogleCloudMonitoringSink drives any object with
    create_time_series(req) — the recorded fake captures every request
    and its InvalidArgument-shaped rejections are swallowed (at-least-
    once, reference metrics_exporter.py:116-121)."""
    from beametrics_spark.sinks import GoogleCloudMonitoringSink
    from beametrics_spark.sinks.monitoring_adapter import RecordingFakeClient

    fake = RecordingFakeClient(
        fail_when=lambda req: "bad" in req["time_series"]["metric"]["type"]
    )
    sink = GoogleCloudMonitoringSink("proj", client_factory=lambda: fake)
    df = _points_df(spark)
    sink.write(df)
    assert len(fake.requests) == df.count()  # every point attempted
    types = [r["time_series"]["metric"]["type"] for r in fake.requests]
    assert all(r["name"] == "projects/proj" for r in fake.requests)
    assert types  # shape sanity: metric type strings present


def test_monitoring_adapter_real_factory_gated(spark):
    """Without the SDK installed, the real factory raises the documented
    NotImplementedError instead of an obscure import failure."""
    import pytest

    from beametrics_spark.sinks.monitoring_adapter import real_client_factory

    with pytest.raises(NotImplementedError, match="google-cloud-monitoring"):
        real_client_factory("proj")()


def test_partitioned_monitoring_sink_one_client_per_partition(spark):
    """Executor-side export contract: one client construction per
    NON-EMPTY partition (the DoFn.setup analog), every aggregate row
    exported, nothing serialized through the driver. Counters cross the
    executor boundary via accumulators."""
    from beametrics_spark.sinks import GoogleCloudMonitoringPartitionedSink

    sc = spark.sparkContext
    constructions = sc.accumulator(0)
    requests = sc.accumulator(0)

    class CountingClient:
        def __init__(self):
            constructions.add(1)

        def create_time_series(self, req):
            assert req["time_series"]["resource"]["type"] == "global"
            assert req["name"] == "projects/test-proj"
            requests.add(1)

    df = (
        spark.range(40)
        .selectExpr(
            "'m' AS metric_name",
            "CAST(id AS DOUBLE) AS value",
            "map('k', CAST(id AS STRING)) AS labels",
        )
        .repartition(4)
    )
    sink = GoogleCloudMonitoringPartitionedSink(
        "test-proj", client_factory=CountingClient
    )
    sink.write(df)
    assert requests.value == 40
    assert constructions.value == 4  # one per (non-empty) partition


def test_partitioned_monitoring_sink_swallows_invalid_argument(spark):
    from beametrics_spark.sinks import GoogleCloudMonitoringPartitionedSink

    sc = spark.sparkContext
    ok = sc.accumulator(0)

    class InvalidArgument(Exception):
        pass

    class FlakyClient:
        def create_time_series(self, req):
            if req["time_series"]["points"][0]["value"]["double_value"] == 1.0:
                raise InvalidArgument("bad point")
            ok.add(1)

    df = spark.range(5).selectExpr(
        "'m' AS metric_name", "CAST(id AS DOUBLE) AS value"
    ).coalesce(1)
    GoogleCloudMonitoringPartitionedSink(
        "p", client_factory=FlakyClient
    ).write(df)
    assert ok.value == 4  # the InvalidArgument row skipped, rest exported


def test_partitioned_monitoring_sink_without_client_raises(spark):
    import pytest

    from beametrics_spark.sinks import GoogleCloudMonitoringPartitionedSink

    df = spark.range(1).selectExpr("'m' AS metric_name", "1.0 AS value")
    with pytest.raises(NotImplementedError):
        GoogleCloudMonitoringPartitionedSink("p").write(df)


@pytest.mark.parametrize("fmt", FILE_FORMATS)
def test_file_sink_labels_roundtrip(spark, tmp_path, fmt):
    """Every file sink writes batches a reader can load back with the
    labels intact: a map in parquet/orc, an object in json, and JSON
    text in csv (MAP columns are not CSV-encodable)."""
    df = spark.range(5).selectExpr(
        "'m' AS metric_name",
        "CAST(id AS DOUBLE) AS value",
        "map('k', CAST(id AS STRING)) AS labels",
    )
    path = str(tmp_path / f"{fmt}_out")
    create_sink(fmt, path=path).write(df)

    back = _read_back(spark, fmt, path)
    assert back.count() == 5
    assert set(back.columns) == {"metric_name", "value", "labels"}
    label_type = dict(back.dtypes)["labels"]
    if fmt == "csv":
        assert back.filter("labels LIKE '{\"k\":%'").count() == 5
    elif fmt == "json":
        assert label_type == "struct<k:string>"
    else:
        assert label_type.startswith("map")
    labels = back.filter("CAST(value AS DOUBLE) = 3").first()["labels"]
    if fmt == "csv":
        labels = json.loads(labels)
    assert labels["k"] == "3"


def test_registry_keys_are_the_export_types():
    """SINK_REGISTRY's keys are the one list of export types: each one
    passes both ExporterConfig and the CLI check, and an unknown type
    fails both."""
    from beametrics_spark.cli import build_parser, validate_args
    from beametrics_spark.config import ExporterConfig

    for export_type in SINK_REGISTRY:
        ExporterConfig(export_type=export_type)
        validate_args(build_parser().parse_args(["--export-type", export_type]))
    with pytest.raises(ValueError, match="Unsupported export type"):
        ExporterConfig(export_type="bogus")
    with pytest.raises(ValueError, match="Unsupported export type"):
        validate_args(build_parser().parse_args(["--export-type", "bogus"]))


def test_yaml_path_reaches_file_sink(tmp_path):
    """A YAML ``path:`` picks where a file sink writes; without one the
    sink falls back to the per-metric default."""
    from beametrics_spark.config import MEMORY_CONFIGS, load_metric_configs
    from beametrics_spark.sinks import FileSink

    out = str(tmp_path / "errors")
    MEMORY_CONFIGS["sink_paths.yaml"] = f"""
metrics:
  - name: error_count
    export_type: orc
    path: {out}
  - name: all_count
    export_type: json
  - name: pushed
    export_type: google-cloud-monitoring
    project_id: proj
"""
    try:
        configs = load_metric_configs(config_path="memory://sink_paths.yaml")
    finally:
        del MEMORY_CONFIGS["sink_paths.yaml"]
    sinks = sinks_for_configs(configs)
    assert isinstance(sinks[0], FileSink)
    assert (sinks[0].path, sinks[0].format) == (out, "orc")
    assert (sinks[1].path, sinks[1].format) == ("/tmp/beametrics_out_1", "json")
    assert isinstance(sinks[2], GoogleCloudMonitoringSink)
    assert sinks[2].project_id == "proj"

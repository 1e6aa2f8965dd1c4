"""Cloud Monitoring client adapter — the drop-in seam for the real SDK.

The engine's two monitoring sinks (GoogleCloudMonitoringSink and its
executor-side twin, both exporting through ``sinks.point_exporter``)
take an injected ``client_factory``; anything with a
``create_time_series(req)`` method satisfies the contract, where ``req``
is the plain-dict request built by build_time_series_request
(field-for-field the reference's GoogleCloudMetricsExporter.export
shape, metrics_exporter.py:80-109).

This module shows both ends of that seam:

  - RecordingFakeClient — the test double the contract tests run against
    (records every request; optionally raises InvalidArgument-shaped
    errors to exercise the swallow path, metrics_exporter.py:116-121).
  - real_client_factory — how the real ``google-cloud-monitoring``
    package (absent from this environment) drops in with ZERO engine
    changes: construct MetricServiceClient once per factory call (the
    foreachBatch analog of DoFn.setup) and translate the dict request
    into the monitoring_v3 call. Import-gated so this module imports
    cleanly without the SDK.

Example — streaming metrics into Cloud Monitoring:

    from beametrics_spark.pipeline import build_metrics_pipeline
    from beametrics_spark.sinks import GoogleCloudMonitoringSink
    from beametrics_spark.sinks.monitoring_adapter import real_client_factory

    sink = GoogleCloudMonitoringSink(
        project_id="my-project",
        client_factory=real_client_factory("my-project"),
    )
    plan = build_metrics_pipeline(stream, configs, watermark="30 seconds")
    q = plan.writeStream.foreachBatch(sink.write).start()
"""

from __future__ import annotations

from typing import Any, Callable


class RecordingFakeClient:
    """Contract-test double: records requests; ``fail_when`` marks
    requests to fail with an InvalidArgument-shaped error (which the
    sink must swallow, per the reference's at-least-once semantics)."""

    class InvalidArgument(Exception):
        pass

    def __init__(
        self, fail_when: Callable[[dict[str, Any]], bool] | None = None
    ) -> None:
        self.requests: list[dict[str, Any]] = []
        self.fail_when = fail_when

    def create_time_series(self, req: dict[str, Any]) -> None:
        self.requests.append(req)
        if self.fail_when is not None and self.fail_when(req):
            raise self.InvalidArgument("recorded fake: rejected by filter")


def real_client_factory(project_id: str) -> Callable[[], Any]:
    """Factory producing an adapter around the REAL Cloud Monitoring
    client. Requires ``pip install google-cloud-monitoring`` (not in this
    container — the import error says so instead of failing obscurely).

    The adapter owns the dict→proto translation, so the engine-side
    request stays a plain dict (testable without the SDK) and the
    translation matches what the reference passes to the same API
    (metrics_exporter.py:65-121).
    """

    def factory() -> Any:
        try:
            from google.cloud import monitoring_v3  # type: ignore
        except ImportError as exc:  # pragma: no cover - SDK absent here
            raise NotImplementedError(
                "google-cloud-monitoring is not installed in this "
                "environment; install it (or inject RecordingFakeClient "
                "for tests)"
            ) from exc

        class _RealClientAdapter:  # pragma: no cover - SDK absent here
            def __init__(self) -> None:
                self._client = monitoring_v3.MetricServiceClient()

            def create_time_series(self, req: dict[str, Any]) -> None:
                ts_dict = req["time_series"]
                series = monitoring_v3.TimeSeries()
                series.metric.type = ts_dict["metric"]["type"]
                series.metric.labels.update(ts_dict["metric"]["labels"])
                series.resource.type = ts_dict["resource"]["type"]
                series.resource.labels.update(ts_dict["resource"]["labels"])
                point_dict = ts_dict["points"][0]
                interval = monitoring_v3.TimeInterval(
                    {
                        "end_time": {
                            "seconds": point_dict["interval"]["end_time"]
                        }
                    }
                )
                point = monitoring_v3.Point(
                    {
                        "interval": interval,
                        "value": {
                            "double_value": point_dict["value"]["double_value"]
                        },
                    }
                )
                series.points = [point]
                self._client.create_time_series(
                    name=req["name"], time_series=[series]
                )

        return _RealClientAdapter()

    return factory

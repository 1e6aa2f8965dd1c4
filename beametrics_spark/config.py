"""Metric configuration model + loaders.

Mirrors the reference's configuration surface (not its execution):
  - FilterCondition        (reference beametrics/filter.py:6-10)
  - MetricType, MetricDefinition (reference beametrics/metrics.py:9-48)
  - ExporterConfig / MetricConfig (reference beametrics/pipeline.py:111-117,
    beametrics/metrics_exporter.py:36-62,176-183)
  - YAML config loader     (reference beametrics/config.py:9-39)
  - JSON --metrics loader + single-metric CLI path with the same
    validation + precedence rules (reference beametrics/main.py:104-139,
    145-189, 235-273, 288-308)

The reference wraps every value in Beam ValueProviders for Dataflow
templates; Spark has no deferred-value concept so these are plain values
(SURVEY.md §2.1 "ValueProvider plumbing — do not port").
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

try:  # yaml is in the base image via pyspark deps; gate anyway
    import yaml
except ImportError:  # pragma: no cover
    yaml = None

from beametrics_spark.sinks import SINK_REGISTRY

DEFAULT_WINDOW_SIZE = 60  # seconds; reference pipeline.py:29
DEFAULT_CLI_WINDOW_SIZE = 120  # reference main.py:77-79

MONITORING_METRIC_PREFIX = "custom.googleapis.com/"  # reference main.py:228-232


class MetricType(str, Enum):
    """Aggregation kind. Reference beametrics/metrics.py:9-13."""

    COUNT = "count"
    SUM = "sum"


@dataclass(frozen=True)
class FilterCondition:
    """One predicate over a message field. Reference beametrics/filter.py:6-10."""

    field: str
    value: Any
    operator: str

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "FilterCondition":
        return cls(field=d["field"], value=d["value"], operator=d["operator"])


@dataclass
class MetricDefinition:
    """What to compute. Reference beametrics/metrics.py:16-48.

    ``sum`` requires ``metric_field`` (reference metrics.py:24-32).
    ``metric_labels`` are static; ``dynamic_labels`` map label-name →
    message-field-name and win on key collision (reference pipeline.py:198).
    """

    name: str
    type: MetricType = MetricType.COUNT
    field: str | None = None
    metric_labels: dict[str, str] = None  # type: ignore[assignment]
    dynamic_labels: dict[str, str] = None  # type: ignore[assignment]
    # Cardinality guard (engine extension — SURVEY.md §4.3: the reference
    # has none and an unbounded dynamic label grows aggregation state and
    # the metric backend without limit). When set, each dynamic label
    # value is deterministically hash-bucketed into at most this many
    # distinct values ("b<n>") — label fidelity traded for bounded state.
    label_cardinality_cap: int | None = None

    def __post_init__(self) -> None:
        if isinstance(self.type, str):
            self.type = MetricType(self.type)
        # None / "null" JSON normalization: reference metrics.py:34-48 and
        # tests/test_metrics.py:58-103,140-159.
        if not self.metric_labels:
            self.metric_labels = {}
        if not self.dynamic_labels:
            self.dynamic_labels = {}
        if self.type == MetricType.SUM and not self.field:
            raise ValueError("field is required when metric_type is SUM")


@dataclass
class ExporterConfig:
    """Where aggregates go. Reference beametrics/metrics_exporter.py:36-62,176-183.

    ``export_type`` is a key of sinks.SINK_REGISTRY; sinks.sinks_for_configs
    turns this into a sink.
    """

    export_type: str = "local"
    project_id: str | None = None  # monitoring sinks only
    path: str | None = None  # file sinks only

    def __post_init__(self) -> None:
        if self.export_type not in SINK_REGISTRY:
            raise ValueError(f"Unsupported export type: {self.export_type}")


@dataclass
class MetricConfig:
    """One metric pipeline branch. Reference beametrics/pipeline.py:111-117.

    The reference supports FIXED windows only (SURVEY.md §2.2); sliding
    windows (``window_slide`` < window_size) and session windows
    (``session_gap`` set ⇒ gap-merged sessions per label-set, window_size
    ignored) are engine extensions built on F.window / F.session_window.
    """

    metric_definition: MetricDefinition
    filter_conditions: list[FilterCondition] = field(default_factory=list)
    exporter: ExporterConfig = field(default_factory=ExporterConfig)
    window_size: int = DEFAULT_WINDOW_SIZE
    window_slide: int | None = None
    session_gap: int | None = None

    @property
    def export_metric_name(self) -> str:
        """Cloud sink gets a prefix, local keeps the raw name.

        Reference main.py:221-232, asserted tests/test_main.py:134-147.
        """
        if self.exporter.export_type.startswith("google-cloud-monitoring"):
            return MONITORING_METRIC_PREFIX + self.metric_definition.name
        return self.metric_definition.name


def normalize_window_size(value: Any, default: int = DEFAULT_WINDOW_SIZE) -> int:
    """Invalid / non-positive / un-coercible window sizes fall back to 60 s.

    Reference DynamicFixedWindows._resolve (pipeline.py:50-65): any error,
    non-integer, zero, or negative value silently yields DEFAULT_WINDOW_SIZE.
    Validated by reference tests/test_pipeline.py:274-333,353-391.
    """
    try:
        size = int(value)
    except (TypeError, ValueError):
        return default
    if isinstance(value, float) and not float(value).is_integer():
        return default
    return size if size > 0 else default


def parse_filter_conditions(raw: str | list[dict[str, Any]]) -> list[FilterCondition]:
    """Parse the --filter-conditions JSON array.

    Must be a non-empty list (reference main.py:145-158).
    """
    data = json.loads(raw) if isinstance(raw, str) else raw
    if not isinstance(data, list) or not data:
        raise ValueError("filter-conditions must be a non-empty JSON array")
    return [FilterCondition.from_dict(d) for d in data]


def _config_from_mapping(entry: dict[str, Any], *, default_export: str = "local",
                         window_size: int = DEFAULT_WINDOW_SIZE) -> MetricConfig:
    """Build one MetricConfig from a YAML/JSON mapping.

    Accepts both the reference's YAML key ``filter-conditions`` and the
    JSON-ish ``filter_conditions`` (reference README.md YAML shape;
    main.py:161-189 create_metrics_configs).
    """
    cap = entry.get("label_cardinality_cap")
    definition = MetricDefinition(
        name=entry["name"],
        type=entry.get("type", "count"),
        field=entry.get("field"),
        metric_labels=entry.get("labels") or entry.get("metric_labels"),
        dynamic_labels=entry.get("dynamic_labels"),
        label_cardinality_cap=int(cap) if cap else None,
    )
    raw_conditions = (
        entry.get("filter-conditions")
        or entry.get("filter_conditions")
        or []
    )
    conditions = [FilterCondition.from_dict(c) for c in raw_conditions]
    exporter = ExporterConfig(
        export_type=entry.get("export_type", default_export),
        project_id=entry.get("project_id"),
        path=entry.get("path"),
    )
    slide = entry.get("window_slide")
    gap = entry.get("session_gap")
    return MetricConfig(
        metric_definition=definition,
        filter_conditions=conditions,
        exporter=exporter,
        window_size=normalize_window_size(entry.get("window_size", window_size)),
        window_slide=int(slide) if slide else None,
        session_gap=int(gap) if gap else None,
    )


# In-process store backing memory:// config URLs — the unit-testable
# stand-in for an object store, and a hook for embedding callers that
# build configs programmatically.
MEMORY_CONFIGS: dict[str, str] = {}


def _read_config_text(path: str) -> str:
    """Fetch raw config text by URL scheme.

    Reference config.py:19-23 dispatches on urlparse().scheme — gs://
    through the GCS client, everything else through open(). Same
    dispatch here, minus the hard GCP dependency: file:// and bare
    paths read locally, memory:// reads MEMORY_CONFIGS, and any other
    scheme (gs://, s3://, abfss://, ...) goes through fsspec when it's
    installed — a deployment concern, not a code change.
    """
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        if parsed.scheme == "file":
            # RFC 8089: file://HOST/path — only empty/localhost authority
            # is readable here; file://configs/x.yaml would otherwise
            # silently resolve 'configs' as a cwd-relative directory
            if parsed.netloc not in ("", "localhost"):
                raise ValueError(
                    f"file:// URL with remote authority {parsed.netloc!r} "
                    "is not readable locally"
                )
            local = parsed.path
        else:
            local = path
        with open(local) as f:
            return f.read()
    if parsed.scheme == "memory":
        key = path[len("memory://") :]
        if key not in MEMORY_CONFIGS:
            raise FileNotFoundError(f"no memory:// config registered at {key!r}")
        return MEMORY_CONFIGS[key]
    try:
        import fsspec  # not in the base image; present on real deployments
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError(
            f"config URL {path!r} needs fsspec (scheme {parsed.scheme!r}); "
            "pip install fsspec plus the scheme's filesystem package"
        ) from exc
    with fsspec.open(path, "r") as f:  # pragma: no cover
        return f.read()


def load_yaml_config(path: str) -> dict[str, Any]:
    """Load a YAML config from a local path or URL (file://, memory://,
    or any fsspec-resolvable scheme). Mirrors reference config.py:9-39,
    which fetched gs:// via the GCS client and open()'d anything else.
    """
    if yaml is None:  # pragma: no cover
        raise RuntimeError("pyyaml not available")
    data = yaml.safe_load(_read_config_text(path))
    if not isinstance(data, dict) or "metrics" not in data:
        raise ValueError("YAML config must contain a top-level 'metrics' list")
    return data


def load_metric_configs(
    *,
    config_path: str | None = None,
    metrics_json: str | None = None,
    single: dict[str, Any] | None = None,
    window_size: int = DEFAULT_CLI_WINDOW_SIZE,
) -> list[MetricConfig]:
    """Materialize List[MetricConfig] — the system's entire logical plan.

    Precedence mirrors reference main.py:288-308:
      --config YAML  >  --metrics JSON array (parse failure falls back)
      >  single-metric CLI flags.
    """
    if config_path:
        data = load_yaml_config(config_path)
        return [
            _config_from_mapping(e, window_size=window_size)
            for e in data["metrics"]
        ]
    if metrics_json:
        try:
            entries = json.loads(metrics_json) if isinstance(metrics_json, str) else metrics_json
            if isinstance(entries, list) and entries:
                return [
                    _config_from_mapping(e, window_size=window_size)
                    for e in entries
                ]
        except (json.JSONDecodeError, KeyError, TypeError):
            # fall back to the single-metric path, reference main.py:302-306
            pass
    if single is None:
        raise ValueError("no metric configuration provided")
    return [_config_from_mapping(single, window_size=window_size)]

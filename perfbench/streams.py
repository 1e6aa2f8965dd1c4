"""The stream workloads: drive ``run_metrics_stream`` over seeded files.

One run, in one fresh process:

1. A child process writes every planned trigger group (nfiles files
   each) to a staging directory, plus the expectation (gen.py). No timer
   runs yet.
2. Set-up is timed from just before ``session.get_spark()`` to the end
   of the warm-up trigger (batch 0), read from its progress report.
3. Groups are moved into the source directory one trigger ahead of the
   engine, so it never idles and never takes a partial group. Feeding
   stops once the steady triggers (every one after batch 0) would pass
   ``--seconds``, or when the planned groups run out.
4. The query stops after the last fed batch; every epoch's output is
   checked against the expectation.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time

import pandas as pd
import pyarrow.parquet as pq

import expect
import gen
import progress as prog
from tracing import RecordingSink, Tracer, event_log_stages, job_tracker, peak_rss_kb, tasks_of_jobs

HERE = os.path.dirname(os.path.abspath(__file__))

# Steady trigger time measured on 4 cores (see README.md); the plan holds
# enough groups for a program SPEEDUP times faster to fill --seconds.
NOMINAL_TRIGGER_S = {"stream_many_metrics": 12.0, "stream_bulk_decode": 3.0}
SPEEDUP = {"stream_many_metrics": 4, "stream_bulk_decode": 2}
POLL_S = 0.02

# Cores per input file of a trigger. Many metrics: one file per core, so
# the scan never runs on one core. Bulk decode: every decode task also
# keeps a Python worker busy, so one file per core oversubscribes the
# machine; on 4 cores, 2 files gave the same steady trigger time (~3.0 s)
# with about half the run-to-run spread (README.md).
CORES_PER_FILE = {"stream_many_metrics": 1, "stream_bulk_decode": 2}

# per-layer metric -> unit, as listed in BENCHMARK.json
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "streaming.start_s": "s",
    "streaming.first_trigger_s": "s",
    "streaming.steady_triggers": "count",
    "pipeline.build_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.rows_per_trigger": "count",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.parse_keep_ratio": "ratio",
    "state.commit_ms": "ms",
    "state.instances": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "sinks.write_s": "s",
    "sinks.write_share": "ratio",
    "sinks.writes_per_trigger": "count",
    "sinks.points_per_trigger": "count",
    "spark.jobs_per_trigger": "count",
    "spark.tasks_per_trigger": "count",
    "sinks.points_per_job": "count",
    "pipeline.map_stage_run_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "jvm.gc_s": "s",
    "trace.setup_s": "s",
    "trace.rows_per_s": "1/s",
    "trace.trigger_p50_s": "s",
    "trace.overhead.setup_s_pct": "%",
    "trace.overhead.rows_per_s_pct": "%",
    "trace.overhead.trigger_p50_s_pct": "%",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
}


def planned_groups(workload: str, seconds: int) -> int:
    """Warm-up group + steady groups for SPEEDUP x the nominal rate + 1."""
    return 2 + math.ceil(SPEEDUP[workload] * seconds / NOMINAL_TRIGGER_S[workload])


def files_per_trigger(workload: str, cores: int) -> int:
    return max(1, cores // CORES_PER_FILE[workload])


def _event_schema(fmt: str):
    from pyspark.sql import types as T

    string = T.StringType()
    if fmt == "json":
        fields = [("ts", T.TimestampType()), ("event_type", string), ("severity", string),
                  ("service", string), ("region", string), ("latency_ms", T.DoubleType()),
                  ("bytes", T.LongType()), ("message", string), ("user_id", string), ("props", string)]
    else:
        fields = [("ts", T.TimestampType()), ("severity", string), ("service", string),
                  ("latency_ms", T.DoubleType()), ("message", string)]
    return T.StructType([T.StructField(n, t) for n, t in fields])


class StreamRun:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str,
                 nfiles: int, deadline: float) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.nfiles = nfiles
        self.deadline = deadline
        self.rows, make_configs, self.fmt, _ = gen.WORKLOADS[workload]
        self.configs = make_configs()
        self.tracer = Tracer()
        self.writes = []
        self.staging = os.path.join(work, "staging")
        self.source = os.path.join(work, "source")
        self.fed = -1
        self.query = None
        self._jobs = None  # the query's job-id reader, once the query exists

    # -- generation -------------------------------------------------------
    def generate(self) -> None:
        groups = planned_groups(self.workload, self.seconds)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", self.workload,
             "--seed", str(self.seed), "--groups", str(groups), "--nfiles", str(self.nfiles),
             "--out", self.work],
            check=True,
        )
        with open(os.path.join(self.work, "plan.json")) as f:
            self.plan = json.load(f)
        self.expected = pd.read_parquet(os.path.join(self.work, "expected.parquet"))
        os.makedirs(self.source)

    def feed(self) -> bool:
        k = self.fed + 1
        if k >= len(self.plan["groups"]):
            return False
        os.rename(os.path.join(self.staging, f"g{k:04d}"), os.path.join(self.source, f"g{k:04d}"))
        self.fed = k
        return True

    # -- the run ----------------------------------------------------------
    def run(self) -> dict:
        from pyspark.sql import functions as F

        from beametrics_spark.session import get_spark
        from beametrics_spark.sinks import IdempotentParquetSink, MemorySink
        from beametrics_spark.sources import stream_source
        from beametrics_spark.streaming import parse_events, run_metrics_stream

        tr = self.tracer
        root = tr.add("workload", 0.0, 0.0, None, workload=self.workload, seed=self.seed)
        t0 = time.time()
        spark = get_spark("perfbench")
        t_session = time.time()
        self.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        setup = tr.add("setup", t0, 0.0, root)
        tr.add("session.get_spark", t0, t_session, setup)

        ext = "json" if self.fmt == "json" else "parquet"
        path = os.path.join(self.source, "*", f"*.{ext}")
        opts = {"maxFilesPerTrigger": str(self.nfiles)}
        if self.fmt == "json":
            events = stream_source(spark, "json", path=path, schema=_event_schema("json"), options=opts)
            observe_as = "events"
        else:
            from pyspark.sql import types as T

            raw = stream_source(spark, "parquet", path=path, options=opts,
                                schema=T.StructType([T.StructField("value", T.BinaryType())]))
            events = parse_events(raw, _event_schema("payload"), multi_encoding=True)
            observe_as = "parsed"
        if self.trace:
            from beametrics_spark.pipeline import build_metrics_pipeline
            from beametrics_spark.streaming import DEFAULT_WATERMARK

            events = events.observe("perfbench_" + observe_as, F.count(F.lit(1)).alias("rows"))
            t_build = time.time()
            build_metrics_pipeline(events, self.configs, watermark=DEFAULT_WATERMARK)
            self.build_s = time.time() - t_build
            tr.add("pipeline.build", t_build, t_build + self.build_s, setup)

        if self.fmt == "json":
            program_sinks = {i: MemorySink() for i in range(len(self.configs))}
        else:
            self.out_dir = os.path.join(self.work, "out")
            program_sinks = {0: IdempotentParquetSink(self.out_dir)}
        self.program_sinks = program_sinks
        self.feed()
        self.feed()
        t_start = time.time()
        sinks = {i: RecordingSink(s, i, self.writes, self._last_job if self.trace else None)
                 for i, s in program_sinks.items()}
        query = run_metrics_stream(
            events, self.configs, sinks, checkpoint_dir=os.path.join(self.work, "checkpoint")
        )
        self.query = query
        t_started = time.time()
        tr.add("streaming.start", t_start, t_started, setup)
        if self.trace:
            self._jobs = job_tracker(spark, str(query.runId))

        # batch 0 is the warm-up unit; its end closes set-up
        reports = self._wait_for(0)
        setup_end = prog.trigger_end(reports[0])
        tr.spans[setup]["end"] = setup_end
        tr.add("streaming.first_trigger", t_started, setup_end, setup)
        self.setup_s = setup_end - t0
        self.session_s = t_session - t0
        self.start_s = t_started - t_start
        self.first_trigger_s = setup_end - t_started

        self.feed()
        batch = 0
        steady_start = None
        while batch < self.fed:
            batch += 1
            p = next(r for r in self._wait_for(batch) if r["batchId"] == batch)
            if steady_start is None:
                steady_start = prog.trigger_start(p)
            elapsed = prog.trigger_end(p) - steady_start
            # feeding group batch+2 adds a trigger after the fed one: only
            # while the fed one is projected to end inside --seconds
            last_s = p["durationMs"]["triggerExecution"] / 1000.0
            if elapsed + last_s < self.seconds:
                self.feed()
        self.jvm_peak_kb = peak_rss_kb(spark.sparkContext._gateway.proc.pid)
        self.progress = [json.loads(p.json) for p in query.recentProgress]
        for sink in sinks.values():
            sink.closed = True
        sinks[0].drain = True
        t_stop = time.time()
        query.stop()
        self.stop_s = time.time() - t_stop
        tr.spans[root]["end"] = time.time()
        tr.spans[root]["start"] = t0
        return self._finish()

    def _last_job(self) -> int | None:
        return self._jobs() if self._jobs else None

    def _wait_for(self, batch: int) -> list[dict]:
        """Poll until batch ``batch`` has reported progress; return the
        progress reports so far (plain dicts, batch order)."""
        while True:
            last = self.query.lastProgress
            if last is not None and last["batchId"] >= batch:
                reports = prog.data_triggers([json.loads(p.json) for p in self.query.recentProgress])
                if reports and reports[-1]["batchId"] >= batch:
                    return reports
            err = self.query.exception()
            if err is not None:
                raise RuntimeError(f"stream failed: {err}")
            if time.time() > self.deadline:
                raise TimeoutError(f"batch {batch} not done before the run's deadline")
            time.sleep(POLL_S)

    # -- outputs and checks -----------------------------------------------
    def outputs_by_epoch(self) -> dict[int, dict[tuple, float]]:
        """Program output per epoch: (metric_id, labels_key, window) -> value."""
        out: dict[int, dict[tuple, float]] = {}
        if self.fmt == "json":
            for w in self.writes:
                got = out.setdefault(w.epoch, {})
                for r in self.program_sinks[w.metric_id].rows[w.rows[0]:w.rows[1]]:
                    got[expect.program_key(r)] = float(r["value"])
            return out
        for name in os.listdir(self.out_dir) if os.path.isdir(self.out_dir) else ():
            got = out.setdefault(int(name.split("=", 1)[1]), {})
            for r in pq.read_table(os.path.join(self.out_dir, name)).to_pylist():
                got[expect.program_key(r)] = float(r["value"])
        return out

    def check(self) -> tuple[list[int], list[str]]:
        """Per-epoch check of the update-mode output: epoch k must emit
        exactly the keys its group's on-time rows touch, each with its
        cumulative expected value. Returns (failed epochs, messages)."""
        outputs = self.outputs_by_epoch()
        failed, messages = [], []
        cumulative = None
        for k in range(self.fed + 1):
            part = self.expected[self.expected["group"] == k][expect.KEY + ["value"]]
            cumulative = part if cumulative is None else expect.combine([cumulative, part])
            touched = part[expect.KEY]
            want = cumulative.merge(touched, on=expect.KEY)
            errors = expect.compare(want, outputs.get(k, {}))
            if errors:
                failed.append(k)
                messages += [f"epoch {k}: {e}" for e in errors]
        return failed, messages

    def _finish(self) -> dict:
        reports = prog.data_triggers(self.progress)
        steady = prog.steady(self.progress)
        failed, messages = self.check()
        errors = prog.input_problems(steady, self.rows)
        if [p["batchId"] for p in reports] != list(range(self.fed + 1)):
            errors.append(f"data batches {[p['batchId'] for p in reports]}, fed 0..{self.fed}")
        if self.trace:
            errors += self._keep_ratio_problems(steady)
        return {
            "attempted": len(reports),
            "failed": len(failed),
            "errors": errors,
            "warnings": prog.state_drift(steady),
            "messages": messages[:20],
            "steady_triggers": len(steady),
            "trigger_s": [p["durationMs"]["triggerExecution"] / 1000.0 for p in reports],
            "stop_s": self.stop_s,
            "metrics": {
                "setup_s": self.setup_s,
                "rows_per_s": prog.rows_per_s(steady),
                "trigger_p50_s": prog.trigger_p50_s(steady),
            },
        }

    def _observed_rows(self, p: dict) -> int:
        name = "perfbench_" + ("events" if self.fmt == "json" else "parsed")
        return int((p.get("observedMetrics") or {}).get(name, {}).get("rows", 0))

    def _keep_ratio_problems(self, steady: list[dict]) -> list[str]:
        """Rows kept by decode and parse must be exactly the planned valid ones."""
        return [
            f"batch {p['batchId']} kept {self._observed_rows(p)} rows, planned "
            f"{self.plan['groups'][p['batchId']]['valid']} valid"
            for p in steady
            if self._observed_rows(p) != self.plan["groups"][p["batchId"]]["valid"]
        ]

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer numbers of a traced run (see README.md for the table)."""
        steady = prog.steady(self.progress)
        ids = {p["batchId"] for p in steady}
        m: dict[str, float] = {
            "session.get_spark_s": self.session_s,
            "streaming.start_s": self.start_s,
            "streaming.first_trigger_s": self.first_trigger_s,
            "streaming.steady_triggers": float(len(steady)),
            "sources.rows_per_trigger": float(sum(p["numInputRows"] for p in steady) / len(steady)),
        }
        m["pipeline.build_s"] = self.build_s
        m.update(prog.phase_p50_ms(steady))
        m.update(prog.state_metrics(steady))
        parsed = sum(self._observed_rows(p) for p in steady)
        m["streaming.parse_keep_ratio"] = parsed / sum(p["numInputRows"] for p in steady)

        writes = [w for w in self.writes if w.epoch in ids]
        per_epoch: dict[int, list] = {}
        for w in writes:
            per_epoch.setdefault(w.epoch, []).append(w)
        write_s = [sum(w.end - w.start for w in ws) for ws in per_epoch.values()]
        trig_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in steady]
        m["sinks.write_s"] = _median(write_s)
        m["sinks.write_share"] = sum(write_s) / sum(trig_s)
        m["sinks.writes_per_trigger"] = len(writes) / len(steady)
        outputs = self.outputs_by_epoch()
        m["sinks.points_per_trigger"] = sum(len(outputs.get(e, {})) for e in ids) / len(steady)

        # status tracker: jobs between the last write of epoch k-1 and of k
        marks = {}
        for w in self.writes:
            if w.last_job is not None:
                marks[w.epoch] = max(marks.get(w.epoch, -1), w.last_job)
        all_jobs = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(str(self.query.runId)))
        job_counts, task_counts = [], []
        for e in sorted(ids):
            lo, hi = marks.get(e - 1), marks.get(e)
            if lo is None or hi is None:
                continue
            epoch_jobs = [j for j in all_jobs if lo < j <= hi]
            job_counts.append(len(epoch_jobs))
            task_counts.append(tasks_of_jobs(self.spark, epoch_jobs))
        m["spark.jobs_per_trigger"] = _median(job_counts)
        m["spark.tasks_per_trigger"] = _median(task_counts)
        m["sinks.points_per_job"] = m["sinks.points_per_trigger"] / max(m["spark.jobs_per_trigger"], 1.0)
        self._add_trigger_spans()
        return m

    def _add_trigger_spans(self) -> None:
        """Trigger spans from progress; phases laid end to end in execution
        order (durationMs gives lengths only); sink writes matched to
        their trigger by epoch_id == batchId."""
        root = 0
        order = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
        for p in prog.data_triggers(self.progress):
            start = prog.trigger_start(p)
            tid = self.tracer.add("trigger", start, prog.trigger_end(p), root, batch_id=p["batchId"])
            t = start
            for phase in order:
                d = p["durationMs"].get(phase, 0) / 1000.0
                self.tracer.add("phase." + phase, t, t + d, tid)
                t += d
            for w in self.writes:
                if w.epoch == p["batchId"]:
                    self.tracer.add("sink.write", w.start, w.end, tid, metric_id=w.metric_id)

    def event_log_metrics(self, log_dir: str) -> dict[str, float]:
        """Per-trigger engine numbers for the steady batches, from the event
        log (readable once the context has stopped)."""
        stages = event_log_stages(log_dir)
        steady = [p["batchId"] for p in prog.steady(self.progress)]
        run, shuffle, gc = [], [], []
        for b in steady:
            ss = stages.get(b, [])
            run.append(sum(s["run_ms"] for s in ss if s["shuffle_write_bytes"] > 0) / 1000.0)
            shuffle.append(sum(s["shuffle_write_bytes"] for s in ss))
            gc.append(sum(s["gc_ms"] for s in ss) / 1000.0)
        return {
            "pipeline.map_stage_run_s": _median(run),
            "pipeline.shuffle_write_bytes": _median(shuffle),
            "jvm.gc_s": _median(gc),
        }


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0

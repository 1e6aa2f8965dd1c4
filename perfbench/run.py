"""End-to-end benchmark of the beametrics_spark log-to-metrics job.

    python3 perfbench/run.py --workload stream_many_metrics --seed 1 --seconds 12 --trace 0

One run is one fresh process, so every run pays a cold JVM as a
deployment does. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones (setup_s, rows_per_s, trigger_p50_s),
with ``--trace 1`` the per-layer ones (README.md). The line
before it carries the run's details: steady trigger count, every
SPARK_GRAFT_* value, guard problems and mismatches.

Inputs, checkpoints and outputs live under .perfbench_work/ in the
checkout and are removed when the run ends; traced runs leave their
spans in .perfbench_work/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_many_metrics", "stream_bulk_decode")
RUN_LIMIT_S = 170  # a run, with its untraced reference run if any, must end within 180 s

E2E_UNITS = {"setup_s": "s", "rows_per_s": "1/s", "trigger_p50_s": "s"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work_root: str, event_log: str | None) -> None:
    """Pin every temporary file of Python, the JVM and Spark inside the
    checkout, and give the program every usable core."""
    tmp = os.path.join(work_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # -XX:-UsePerfData: the JVM would otherwise keep its perf-data file in /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if event_log:
        from tracing import event_log_conf

        os.makedirs(event_log, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(event_log_conf(event_log) + ["pyspark-shell"])


def stop_spark() -> None:
    """Stop the context, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def run_once(args, work: str, trace_dir: str | None, deadline: float) -> tuple[dict, dict]:
    """One run in this process; returns (result, details)."""
    import streams

    run = streams.StreamRun(args.workload, args.seed, args.seconds, bool(args.trace), work,
                            nfiles=streams.files_per_trigger(args.workload, nproc()),
                            deadline=deadline - 20)
    run.generate()
    try:
        result = run.run()
        layers = run.layer_metrics() if args.trace else {}
        if args.trace:
            layers["jvm.peak_rss_mb"] = run.jvm_peak_kb / 1024.0
            layers["python.peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        stop_spark()
    if trace_dir:
        layers.update(run.event_log_metrics(os.path.join(work, "eventlog")))
        os.makedirs(trace_dir, exist_ok=True)
        run.tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "steady_triggers": result["steady_triggers"],
        "trigger_s": result["trigger_s"],
        "stop_s": result["stop_s"],
        "spark_graft": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "errors": result["errors"],
        "warnings": result["warnings"],
        "mismatches": result["messages"],
    }
    return {**result, "layers": layers}, details


def untraced_reference(args, work_root: str, deadline: float) -> dict:
    """End-to-end metrics of untraced runs of this workload, for the
    tracing overhead: the median of the runs recorded in this checkout,
    or one untraced run made now in a child process."""
    path = os.path.join(work_root, "records", f"{args.workload}.jsonl")
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=deadline - time.time())
    with open(path) as f:
        records = [json.loads(line) for line in f if line.strip()]
    return {k: statistics.median(r[k] for r in records) for k in E2E_UNITS}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "beametrics_spark")):
        print(f"beametrics_spark not found next to {HERE}: run from a full checkout", file=sys.stderr)
        return 2
    deadline = time.time() + RUN_LIMIT_S
    sys.path[:0] = [ROOT, HERE]
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    reference = untraced_reference(args, work_root, deadline) if args.trace else None
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work_root, os.path.join(work, "eventlog") if args.trace else None)

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(max(1, int(deadline - time.time())))
    try:
        result, details = run_once(args, work, os.path.join(work_root, "traces") if args.trace else None,
                                   deadline)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    import streams

    e2e = result["metrics"]
    if args.trace:
        metrics = dict(result["layers"])
        for name in E2E_UNITS:
            metrics[f"trace.{name}"] = e2e[name]
            metrics[f"trace.overhead.{name}_pct"] = 100.0 * (e2e[name] / reference[name] - 1.0)
        units = streams.LAYER_UNITS
    else:
        metrics = e2e
        units = E2E_UNITS
        os.makedirs(os.path.join(work_root, "records"), exist_ok=True)
        with open(os.path.join(work_root, "records", f"{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps(e2e) + "\n")
    correct = result["failed"] == 0 and not result["errors"]
    for problem in result["errors"] + result["warnings"] + result["messages"]:
        print(f"perfbench: {problem}", file=sys.stderr)
    print(json.dumps(details))
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

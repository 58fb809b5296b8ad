"""Repository benchmark for the airstrik ADS-B pipeline.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one seeded workload against the engine in this checkout
(``airstrik_py_spark``), checks every output against a plain-Python ground
truth of the seeded tape, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, with the names and units BENCHMARK.json lists
(layers.json maps each layer to its module and to the end-to-end metric it
should move).

Spark's local dirs, warehouse, temp files, event logs, landing dirs and
stores all live under a work dir in the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

WORKLOAD_NAMES = ("live_alarm", "repl_queries")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer`` list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def configure_env(work: str, trace: bool) -> str | None:
    """Engine environment; must run before pyspark starts its JVM."""
    local, tmp, wh = (os.path.join(work, d) for d in ("local", "tmp", "warehouse"))
    for d in (local, tmp):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": wh,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    event_log = None
    if trace:
        event_log = os.path.join(work, "eventlog")
        os.makedirs(event_log)
        confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                      "spark.eventLog.compress": "false"})
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return event_log


def stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it: it exits when its stdin
    closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None


def engine_missing() -> str | None:
    if not os.path.isfile(os.path.join(ROOT, "airstrik_py_spark", "__main__.py")):
        return f"the engine package airstrik_py_spark is not in {ROOT}"
    try:
        import pyspark  # noqa: F401
    except ImportError as exc:
        return f"pyspark is not importable: {exc}"
    return None


def end_to_end_values(run) -> dict[str, float]:
    return {"latency_s": run.latency_s, "setup_s": run.setup_s}


def layer_metrics(run) -> dict[str, float]:
    """Per-layer figures from spans, listeners and the event log, per traced
    operation (an alarm micro-batch or a repl command)."""
    import tracing

    out = dict(run.layers)
    ops = max(run.traced_ops, 1)
    tr = run.tracer
    selfs: dict[str, list[float]] = {}
    for t0, t1 in run.traced:
        for name, (s, n) in tr.self_times(t0, t1).items():
            acc = selfs.setdefault(name, [0.0, 0])
            acc[0] += s
            acc[1] += n

    def total(prefix: str) -> tuple[float, int]:
        hit = [v for k, v in selfs.items() if k == prefix or k.startswith(prefix + ".")]
        return sum(v[0] for v in hit), sum(v[1] for v in hit)

    for layer in ("kinematics", "alarm", "sessions", "stats", "search"):
        s, n = total(f"operators.{layer}")
        out[f"operators.{layer}.build_s"] = s / ops
        out[f"operators.{layer}.calls"] = n / ops
    for span, metric in (
        ("sources.snapshot", "sources.snapshot.build_s"),
        ("streaming.pipeline.stream_trips", "streaming.pipeline.build_s"),
        ("streaming.pipeline.alarm_batch", "streaming.pipeline.alarm_batch_s"),
        ("streaming.pipeline.trip_store_write", "streaming.pipeline.trip_store_write_s"),
        ("sinks.alarm_sink", "sinks.alarm_sink_s"),
        ("sinks.write_csv", "sinks.write_csv_s"),
        ("sinks.write_json", "sinks.write_json_s"),
        ("repl.execute", "repl.execute_s"),
        ("repl.action", "repl.action_s"),
        ("cli.csvdump", "cli.csvdump_s"),
    ):
        out[metric] = total(span)[0] / ops
    out["session.get_spark_s"] = run.get_spark_s

    cat = [r for r in run.catalyst.rows
           if r["start"] is not None and any(t0 <= r["start"] < t1 for t0, t1 in run.traced)]
    for ph in tracing.CatalystLog.PHASES:
        out[f"catalyst.{ph}_s"] = sum(r[ph] for r in cat) / ops
    out["catalyst.executions"] = len(cat) / ops

    tasks = tracing.task_metrics(run.event_log, run.traced)
    out["exec.tasks"] = tasks["tasks"] / ops
    out["exec.task_run_s"] = tasks["run_s"] / ops
    out["exec.task_cpu_s"] = tasks["cpu_s"] / ops
    out["exec.cpu_share"] = tasks["cpu_s"] / tasks["run_s"] if tasks["run_s"] else 0.0
    out["exec.gc_s"] = tasks["gc_s"] / ops
    out["exec.shuffle_write_bytes"] = tasks["shuffle_write"] / ops
    out["exec.shuffle_read_bytes"] = tasks["shuffle_read"] / ops
    out["exec.spill_bytes"] = tasks["spill"] / ops

    wall = sum(t1 - t0 for t0, t1 in run.traced)
    covered = sum(tr.covered(t0, t1) for t0, t1 in run.traced)
    out["trace.unaccounted_share"] = 1.0 - covered / wall if wall else 1.0
    out["trace.ops"] = float(run.traced_ops)
    return out


def p90(xs: list[float]) -> float | None:
    """For the summary line only: too few samples for a bounded metric."""
    if len(xs) < 2:
        return None
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOAD_NAMES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    missing = engine_missing()
    if missing:
        print(f"perfbench: cannot run: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        event_log = configure_env(work, bool(args.trace))
        import workloads

        run = workloads.Run(args, work, event_log)
        try:
            workloads.WORKLOADS[args.workload](run)
        except workloads.InvalidRun as exc:
            print(f"perfbench: invalid run, not timed: {exc}", file=sys.stderr)
            return 3
        finally:
            run.stop_session()
            stop_jvm()
        if args.trace:
            units = metric_units("per_layer")
            values = layer_metrics(run)
        else:
            if not run.latencies:
                raise RuntimeError("no operation produced a latency sample")
            units = metric_units("end_to_end")
            values = end_to_end_values(run)
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                   for n, u in units.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    for err in run.errors[:20]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    lat = run.latencies
    print(f"perfbench: {args.workload} seed={args.seed} "
          f"setup_s={run.setup_s:.2f} samples={len(lat)} "
          f"p50={statistics.median(lat) if lat else None} p90={p90(lat)} "
          f"attempted={run.attempted} failed={run.failed}")
    result = {"correct": run.failed == 0 and not run.errors, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

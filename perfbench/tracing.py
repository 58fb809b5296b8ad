"""The traced run's instruments, all attached from outside the engine.

* ``Tracer`` keeps spans in memory (name, start, end, parent span) and
  gives each its self time: its duration minus the time its child spans on
  the same thread cover.  ``install`` wraps the public calls of the engine
  modules in spans; a wrapper records only while the tracer is active.
* ``ProgressLog`` is a StreamingQueryListener that keeps every progress
  event (durationMs phases, input rows, state operators) per query.
* ``CatalystLog`` is a QueryExecutionListener, implemented through py4j,
  that reads ``qe.tracker().phases()`` for each executed query.
* ``task_metrics`` reads the Spark event log, enabled for traced runs only.

Nothing here is written to disk until the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

# Engine module -> (layer name, public callables wrapped in spans).  The
# operators are lazy, so their spans measure driver-side plan build.
LAYERS = {
    "airstrik_py_spark.session": ("session", ("get_spark",)),
    "airstrik_py_spark.operators.kinematics": (
        "operators.kinematics",
        ("dedup_consecutive", "with_calc_heading", "with_calc_speed",
         "with_distance_home", "with_kinematics", "latest_per_key"),
    ),
    "airstrik_py_spark.operators.alarm": (
        "operators.alarm", ("matched_filters", "dead_reckoning", "alarm_payload")),
    "airstrik_py_spark.operators.sessions": (
        "operators.sessions",
        ("with_session_id", "trips", "trips_with_asof", "filter_min_trip_length"),
    ),
    "airstrik_py_spark.operators.stats": ("operators.stats", ("daily_stats", "day_str")),
    "airstrik_py_spark.operators.search": (
        "operators.search", ("predicate_ts_sets", "search_planes")),
    "airstrik_py_spark.sources.snapshot": (
        "sources.snapshot",
        ("read_snapshot_batch", "read_snapshot_stream", "flatten_snapshots"),
    ),
    "airstrik_py_spark.streaming.pipeline": ("streaming.pipeline", ("stream_trips",)),
    "airstrik_py_spark.sinks": ("sinks", ("write_csv", "write_json")),
}
# Names other modules imported with ``from X import f`` at import time; the
# span must replace those bindings too.
REBOUND = {
    "airstrik_py_spark.__main__": ("get_spark",),
    "airstrik_py_spark.repl": ("search_planes", "write_json"),
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    child: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - self.child


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.alarm_epochs: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` (when active)."""
        if not self.active:
            return fn(*args, **kwargs)
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = Span(name, time.time(), 0.0, parent)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            span.end = time.time()
            if parent is not None:
                self.spans[parent].child += span.duration

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (e.g. a listener's trigger)."""
        with self._lock:
            self.spans.append(Span(name, start, end, None))

    def self_times(self, t0: float, t1: float) -> dict[str, tuple[float, int]]:
        """Total self time and call count per span name, for spans that
        started inside [t0, t1)."""
        out: dict[str, list] = {}
        for s in self.spans:
            if t0 <= s.start < t1 and s.end:
                acc = out.setdefault(s.name, [0.0, 0])
                acc[0] += s.self_time
                acc[1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def covered(self, t0: float, t1: float) -> float:
        """Wall time inside [t0, t1) covered by the union of root spans,
        across threads."""
        iv = sorted(
            (max(s.start, t0), min(s.end, t1))
            for s in self.spans
            if s.end and s.parent is None and s.end > t0 and s.start < t1
        )
        total, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


def install(tracer: Tracer) -> None:
    """Wrap the engine's public calls in spans; call once per process."""
    import importlib

    wrapped = {}
    for mod_name, (layer, names) in LAYERS.items():
        mod = importlib.import_module(mod_name)
        for n in names:
            w = tracer.wrap(f"{layer}.{n}", getattr(mod, n))
            wrapped[n] = w
            setattr(mod, n, w)
    for mod_name, names in REBOUND.items():
        mod = importlib.import_module(mod_name)
        for n in names:
            setattr(mod, n, wrapped[n])

    # foreachBatch factories: span the callables they return (and the alarm
    # sink handed in), and note each alarm call's epoch for the empty share.
    pipe = importlib.import_module("airstrik_py_spark.streaming.pipeline")
    alarm_factory = pipe.alarm_foreach_batch
    store_factory = pipe.foreach_batch_idempotent_parquet

    def alarm_foreach_batch(cfg, sink):
        run = alarm_factory(cfg, tracer.wrap("sinks.alarm_sink", sink))

        def traced(batch_df, epoch_id):
            if tracer.active:
                tracer.alarm_epochs.append(epoch_id)
            return tracer.call("streaming.pipeline.alarm_batch", run, batch_df, epoch_id)

        return traced

    def foreach_batch_idempotent_parquet(out_dir):
        return tracer.wrap("streaming.pipeline.trip_store_write", store_factory(out_dir))

    pipe.alarm_foreach_batch = alarm_foreach_batch
    pipe.foreach_batch_idempotent_parquet = foreach_batch_idempotent_parquet


class ProgressLog(StreamingQueryListener):
    """Every streaming progress event, kept as a plain dict per query id."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "id": str(p.id),
            "batch": p.batchId,
            "timestamp": p.timestamp,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [
                {
                    "rows": s.numRowsTotal,
                    "memory": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                    "dropped": s.numRowsDroppedByWatermark,
                }
                for s in p.stateOperators
            ],
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def progress_start(rec: dict) -> float:
    """Trigger start of a progress record, as epoch seconds."""
    from datetime import datetime

    ts = rec["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


class CatalystLog:
    """py4j implementation of org.apache.spark.sql.util.QueryExecutionListener
    recording the analysis / optimization / planning phase times."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self) -> None:
        self.rows: list[dict] = []

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        row = {"start": None}
        for ph in self.PHASES:
            opt = phases.get(ph)
            if opt.isDefined():
                summary = opt.get()
                row[ph] = summary.durationMs() / 1000.0
                if row["start"] is None:
                    row["start"] = summary.startTimeMs() / 1000.0
            else:
                row[ph] = 0.0
        self.rows.append(row)

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self._record(qe)

    def onFailure(self, func_name, qe, exception) -> None:
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_catalyst(spark, log: CatalystLog) -> None:
    from pyspark.java_gateway import ensure_callback_server_started

    gw = spark.sparkContext._gateway
    ensure_callback_server_started(gw)
    spark._jsparkSession.listenerManager().register(log)


def task_metrics(event_log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Task metrics summed over tasks launched inside any of the windows
    (epoch seconds), from every event log in the directory: run, CPU and GC
    time in s; shuffle and spill in bytes."""
    out = dict(tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0, shuffle_write=0,
               shuffle_read=0, spill=0)
    # Spark 4 writes each application's log as a directory of rolled files
    for path in glob.glob(f"{event_log_dir}/**", recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = ev["Task Info"]["Launch Time"] / 1000.0
                m = ev.get("Task Metrics")
                if m is None or not any(t0 <= launch < t1 for t0, t1 in windows):
                    continue
                rd = m.get("Shuffle Read Metrics", {})
                out["tasks"] += 1
                out["run_s"] += m["Executor Run Time"] / 1000.0
                out["cpu_s"] += m["Executor CPU Time"] / 1e9
                out["gc_s"] += m["JVM GC Time"] / 1000.0
                out["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                out["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0)
                out["spill"] += m.get("Disk Bytes Spilled", 0)
    return out

"""The workloads, each driving the engine through its public calls.

Every workload follows the same shape: build the tape and its truth
(untimed, not part of set-up), set up once from a cold start (JVM launch,
session start and warm-up), run the timed window, then check every output
against the truth.

A traced run turns the spans on for part of the timed window only (every
other round of repl commands; the second half of the live feed), so it
measures its own overhead against the untraced part.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

import checks
import tape as T
import tracing

# live_alarm: tape landed all at once during set-up, to warm the streaming
# path.  It is longer than the trips query's close horizon (the watermark
# delay, 2 x remember, plus the session gap: 180 s) by enough that on most
# seeds sessions close during the timed feed and are written to the trip
# store inside the window.
LIVE_WARM = 240
# ... then this many more, still untimed, landed one at a time and each
# drained through both queries before the next: the one-snapshot
# micro-batches of the timed feed take their own warm-up
LIVE_WARM_FEED = 4
# repl_queries tape length (one snapshot per second), and the nominal time of
# one round of its command mix on 4 cores: a run times seconds // this whole
# rounds (at least one)
REPL_SNAPSHOTS = 200
REPL_ROUND_S = 9.0
# live_alarm's feed: one snapshot every FEED_PERIOD_S seconds, each landed
# within FEEDER_SLACK_S of its due time.  The period is the reference's
# json_speed, the interval at which aircraft.json is read, so consecutive fed
# snapshots are FEED_PERIOD_S tape seconds apart.  It is longer than a
# one-snapshot alarm micro-batch (about 2 s on 4 cores, beside the trips
# query's batch), so each snapshot gets a batch of its own: at 1 s, batches
# queue two or three snapshots and the latency jumps with that count.
FEED_PERIOD_S = 3
FEEDER_SLACK_S = 0.25


def live_tape(seed: int, seconds: int) -> tuple[T.Tape, int, int]:
    """live_alarm's tape: the LIVE_WARM-snapshot prefix, one a tape second,
    then the warm feed and the timed feed, one every FEED_PERIOD_S tape
    seconds.  Returns (tape, snapshots landed before the timed feed,
    snapshots in the timed feed)."""
    n_feed = max(1, round(seconds / FEED_PERIOD_S))
    n_fed = LIVE_WARM_FEED + n_feed
    snaps = T.make_tape(seed, LIVE_WARM + FEED_PERIOD_S * n_fed).snapshots
    tp = T.Tape(snaps[:LIVE_WARM] + snaps[LIVE_WARM::FEED_PERIOD_S])
    return tp, LIVE_WARM + LIVE_WARM_FEED, n_feed


class StdoutTap:
    """Replaces sys.stdout: keeps each alarm line the print sink writes,
    with the wall time its first character arrived; other lines go to
    stderr so the result stays the last line of stdout."""

    def __init__(self, real) -> None:
        self.real = real
        self.lines: list[tuple[float, str]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def write(self, s: str) -> int:
        buf = getattr(self._local, "buf", None)
        if buf is None:
            buf = self._local.buf = [time.time(), ""]
        buf[1] += s
        while "\n" in buf[1]:
            line, rest = buf[1].split("\n", 1)
            if line.startswith("[airstrik-"):
                with self._lock:
                    self.lines.append((buf[0], line))
            else:
                sys.stderr.write(line + "\n")
            buf[0], buf[1] = time.time(), rest
        if not buf[1]:
            self._local.buf = None
        return len(s)

    def flush(self) -> None:
        pass

    def take(self) -> list[tuple[float, str]]:
        with self._lock:
            out, self.lines = self.lines, []
        return out


class Run:
    """State shared by the workloads: session, tracer, op counts, results."""

    def __init__(self, args, work: str, event_log: str | None) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.event_log = event_log
        self.tracer = tracing.Tracer() if args.trace else None
        self.progress = tracing.ProgressLog() if args.trace else None
        self.catalyst = tracing.CatalystLog() if args.trace else None
        self.spark = None
        self.setup_s = 0.0
        self.get_spark_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # end-to-end: per-operation latencies of an untraced run, and the
        # workload's figure over them
        self.latencies: list[float] = []
        self.latency_s = 0.0
        self.layers: dict[str, float] = {}
        # traced operation windows and counts, for per-op layer figures
        self.traced: list[tuple[float, float]] = []
        self.traced_ops = 0
        if self.tracer is not None:
            tracing.install(self.tracer)

    # -- engine session -------------------------------------------------

    def start_session(self):
        from airstrik_py_spark import session

        t0 = time.time()
        self.spark = session.get_spark("perfbench")
        self.get_spark_s = time.time() - t0
        if self.tracer is not None:
            # Registered before any query starts: a streaming query's batch
            # session copies its listeners when the query starts.
            self.spark.streams.addListener(self.progress)
            tracing.register_catalyst(self.spark, self.catalyst)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            if self.tracer is not None:
                # deliver queued listener events before the session goes
                self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def set_up(self, setup) -> None:
        """Time ``setup``: session start (the first in this process, so it
        launches the JVM) plus warm-up."""
        t0 = time.time()
        setup()
        self.setup_s = time.time() - t0

    # -- tracing --------------------------------------------------------

    def trace(self, on: bool) -> None:
        """Switch the spans on or off between ops.  The listeners and the
        event log stay on for the whole traced run; their records are
        matched to the traced operations by time."""
        if self.tracer is not None:
            self.tracer.active = on

    def call(self, name: str, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.call(name, fn, *args)

    def fail(self, errors: list[str]) -> int:
        self.errors += errors
        return 1 if errors else 0


def _cli_args(landing: str, out: str, **kw) -> argparse.Namespace:
    return argparse.Namespace(config=None, landing_dir=landing, out=out,
                              database_out="airstrikdb", **kw)


def _land(tp: T.Tape, i: int, staging: str, landing: str) -> None:
    """Write one snapshot aside, then rename it into the landing dir."""
    tmp = os.path.join(staging, tp.file_name(i) + ".part")
    with open(tmp, "wb") as f:
        f.write(tp.payload(i))
    os.rename(tmp, os.path.join(landing, tp.file_name(i)))


# ----------------------------------------------------------------- live_alarm


def live_alarm(run: Run) -> None:
    """Open loop: a feeder process lands a snapshot every FEED_PERIOD_S
    while ``cmd_run`` runs both streaming queries with the print sink."""
    from airstrik_py_spark import __main__ as cli

    tp, n_warm, n_feed = live_tape(run.seed, run.seconds)
    n_tape = n_warm + n_feed
    payloads = os.path.join(run.work, "payloads.jsonl")
    with open(payloads, "w") as f:
        for i in range(n_warm, n_tape):
            f.write(json.dumps({"index": i, "name": tp.file_name(i),
                                "body": tp.payload(i).decode()}) + "\n")
    pairs, fence = T.tape_pairs(tp), T.in_fence_pairs(tp)
    landing, staging = os.path.join(run.work, "landing"), os.path.join(run.work, "staging")
    out = os.path.join(run.work, "out")
    os.makedirs(landing)
    os.makedirs(staging)
    tap = StdoutTap(sys.stdout)
    sys.stdout = tap
    errors: list[BaseException] = []

    def target() -> None:
        try:
            cli.cmd_run(_cli_args(landing, out, once=False))
        except BaseException as exc:  # noqa: BLE001 - re-raised in main thread
            errors.append(exc)

    thread = threading.Thread(target=target, daemon=True)

    def setup() -> None:
        spark = run.start_session()
        thread.start()
        deadline = time.time() + 120
        while len(spark.streams.active) < 2:
            if errors:
                raise errors[0]
            if time.time() > deadline:
                raise RuntimeError("cmd_run did not start its two queries")
            time.sleep(0.05)
        for i in range(LIVE_WARM):
            _land(tp, i, staging, landing)
        for q in spark.streams.active:
            q.processAllAvailable()
        for i in range(LIVE_WARM, n_warm):
            _land(tp, i, staging, landing)
            for q in spark.streams.active:
                q.processAllAvailable()

    run.set_up(setup)
    warm_lines = tap.take()
    spark = run.spark
    query_ids = {str(q.id) for q in spark.streams.active}
    feed_log = os.path.join(run.work, "feeder.jsonl")
    start = time.time() + 0.3
    feeder = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
         "--payloads", payloads, "--staging", staging, "--landing", landing,
         "--start", repr(start), "--period", repr(FEED_PERIOD_S), "--log", feed_log],
    )
    try:
        half = start + n_feed * FEED_PERIOD_S / 2.0
        if run.tracer is not None:
            time.sleep(max(0.0, half - time.time()))
            run.trace(True)
        if feeder.wait(timeout=n_feed * FEED_PERIOD_S + 60) != 0:
            raise RuntimeError(f"feeder exited with {feeder.returncode}")
    finally:
        if feeder.poll() is None:
            feeder.kill()
            feeder.wait()
    for q in spark.streams.active:
        q.processAllAvailable()
    end = time.time()
    run.trace(False)
    if errors:
        raise errors[0]
    lines = tap.take()
    run.stop_session()
    thread.join(60)
    sys.stdout = tap.real

    with open(feed_log) as f:
        fed = [json.loads(line) for line in f]
    late = [r for r in fed if r["landed"] - r["due"] > FEEDER_SLACK_S]
    if len(fed) != n_feed or late:
        raise InvalidRun(f"feeder fell behind: {len(late)} late, {len(fed)}/{n_feed} landed")
    due = {tp.snapshots[r["index"]]["now"]: r["due"] for r in fed}
    rows = [(t, *checks.parse_alarm_line(line)) for t, line in warm_lines + lines]
    latency, run.attempted, run.failed, errs = checks.alarm_outcome(rows, due, pairs, fence)
    run.errors += errs
    # the trip store, once drained, holds exactly the sessions the watermark closed
    store = os.path.join(out, "airstrikdb")
    store_errs = checks.diff_rows("trip store", checks.read_store(store),
                                  T.closed_store_rows(tp, n_tape))
    run.attempted += 1
    run.failed += run.fail(store_errs)

    if run.tracer is None:
        run.latencies = list(latency.values())
        run.latency_s = iqm(run.latencies)
        return
    # traced run: the first half ran untraced, the second half traced
    untraced = [v for now, v in latency.items() if due[now] < half]
    traced = [v for now, v in latency.items() if due[now] >= half]
    run.layers["trace.overhead_share"] = _ratio(traced, untraced)
    run.layers["sinks.rows_out"] = sum(1 for t, _ in lines if t >= half) / max(
        len(run.tracer.alarm_epochs), 1)
    run.traced_ops = len(run.tracer.alarm_epochs)
    events = [e for e in run.progress.events if e["id"] in query_ids]
    _streaming_layers(run, events, fed, half, end)
    # The traced operations are the micro-batches of either query: the feed
    # period is longer than a batch, so the engine idles between them.
    run.traced = _busy(events, half, end)


def _busy(events: list[dict], t0: float, t1: float) -> list[tuple[float, float]]:
    """The union of the trigger intervals of the micro-batches that started
    in [t0, t1), as disjoint (start, end) windows."""
    start = tracing.progress_start
    merged: list[list[float]] = []
    for a, b in sorted((start(e), start(e) + e["duration_ms"].get("triggerExecution", 0) / 1000.0)
                       for e in events if t0 <= start(e) < t1):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def iqm(xs: list[float]) -> float:
    """Interquartile mean: the mean of the middle half of the samples.  As
    robust to outliers as the median, but it averages several samples where
    the median of a few picks one."""
    xs = sorted(xs)
    n = len(xs)
    mid = xs[n // 4: n - n // 4]
    return sum(mid) / len(mid)


def _ratio(traced: list[float], untraced: list[float]) -> float:
    if not traced or not untraced:
        return 0.0
    return statistics.median(traced) / statistics.median(untraced) - 1.0


def _streaming_layers(run: Run, events: list[dict], fed: list[dict], t0: float,
                      t1: float) -> None:
    """Per-batch figures of the alarm and trips queries for batches that
    started in [t0, t1).  A snapshot's queue wait runs from its due time to
    the start of the alarm batch that reads it."""
    alarm_ids = {e["id"] for e in events if not e["state"]}
    start = tracing.progress_start
    in_window = [e for e in events if t0 <= start(e) < t1]
    for q, pick in (("alarms", lambda e: e["id"] in alarm_ids),
                    ("trips", lambda e: e["id"] not in alarm_ids)):
        batches = [e for e in in_window if pick(e)]
        for phase, key in (("latest_offset", "latestOffset"), ("get_batch", "getBatch"),
                           ("query_planning", "queryPlanning"), ("add_batch", "addBatch"),
                           ("wal_commit", "walCommit"), ("trigger", "triggerExecution")):
            run.layers[f"streaming.{q}.{phase}_ms"] = _mean(
                e["duration_ms"].get(key, 0) for e in batches)
        for e in batches:  # root spans for the accounted share
            run.tracer.add(f"streaming.{q}.trigger", start(e),
                           start(e) + e["duration_ms"].get("triggerExecution", 0) / 1000.0)

    # A batch reads the snapshots that landed before its file listing
    # (latestOffset, at the start of its trigger) and after the previous one.
    batches = sorted((e for e in events if e["id"] in alarm_ids), key=lambda e: e["batch"])
    listed = [start(e) + e["duration_ms"].get("latestOffset", 0) / 1000.0 for e in batches]
    files, waits = [], []
    for e, lo, hi in zip(batches, [0.0] + listed, listed):
        if t0 <= start(e) < t1 and e["input_rows"]:
            read = [r for r in fed if lo < r["landed"] <= hi]
            files.append(len(read))
            waits += [start(e) - r["due"] for r in read]
    run.layers["sources.snapshot.files_per_batch"] = _mean(files)
    # the listener's count: snapshot records read, over every scan of the batch
    run.layers["sources.snapshot.input_rows"] = _mean(
        e["input_rows"] for e in in_window if e["id"] in alarm_ids and e["input_rows"])
    run.layers["streaming.queue_wait_s"] = statistics.median(waits) if waits else 0.0

    state = [s for e in in_window if e["id"] not in alarm_ids for s in e["state"]]
    run.layers["streaming.state_rows"] = _mean(s["rows"] for s in state)
    run.layers["streaming.state_memory_bytes"] = _mean(s["memory"] for s in state)
    run.layers["streaming.state_commit_ms"] = _mean(s["commit_ms"] for s in state)
    run.layers["streaming.rows_dropped_by_watermark"] = float(sum(s["dropped"] for s in state))

    rows_by_epoch = {e["batch"]: e["input_rows"] for e in events if e["id"] in alarm_ids}
    calls = run.tracer.alarm_epochs
    empty = sum(1 for ep in calls if rows_by_epoch.get(ep) == 0)
    run.layers["streaming.empty_batch_share"] = empty / len(calls) if calls else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class InvalidRun(RuntimeError):
    """The run cannot be timed (the open-loop schedule was not kept)."""


# --------------------------------------------------------------- repl_queries


def repl_queries(run: Run) -> None:
    """Closed loop, one client: a seeded command mix through Repl.execute,
    each result materialized, with an occasional CSV export through the
    CLI's csvdump command over the same landing dir."""
    from airstrik_py_spark import __main__ as cli
    from airstrik_py_spark.config import REFERENCE
    from airstrik_py_spark.repl import Repl

    tp = T.make_tape(run.seed, REPL_SNAPSHOTS)
    landing = os.path.join(run.work, "landing")
    tp.write(landing)
    # A fixed number of whole rounds, so that every run times the same
    # commands: a time-boxed loop would time fewer, colder rounds exactly
    # when the machine runs slow, and widen the spread between runs.
    n_cmds = len(T.REPL_ROUND) * max(1, int(run.seconds // REPL_ROUND_S))
    mix = T.repl_mix(tp, run.seed, n_cmds)
    # One command of each kind, with parameters the timed mix does not use.
    warm_cmds = T.repl_mix(tp, run.seed + 1, 2 * len(T.REPL_ROUND))
    warm_cmds = [next(c for c in warm_cmds if c.startswith(w)) for w in
                 ("list", "plane", "search", "sql SELECT hex", "sql SELECT flight_id",
                  "csvdump trip", "csvdump stats")] + [
                 next(c for c in warm_cmds if "& dump" in c)]
    state: dict = {}

    def execute(repl, cmd: str, k: int) -> list:
        """Run one command; return each statement's materialized result
        (rows, or the directory a dump or export wrote)."""
        cmd = cmd.replace("{dir}", os.path.join(run.work, f"out{k}"))
        if cmd.startswith("csvdump"):
            _, mode, out = cmd.split()
            run.call("cli.csvdump", cli.cmd_csvdump, _cli_args(landing, out, mode=mode))
            return [out]
        dfs = run.call("repl.execute", repl.execute, cmd)
        return [
            stmt.split(" ", 1)[1] if stmt.startswith("dump")
            else run.call("repl.action", df.collect)
            for stmt, df in zip(cmd.split(" & "), dfs)
        ]

    def setup() -> None:
        spark = run.start_session()
        repl = Repl(spark, cli._batch_obs(spark, landing), cli._trips(spark, REFERENCE, landing))
        for k, c in enumerate(warm_cmds):
            execute(repl, c, -k - 1)
        state["repl"] = repl

    tap = StdoutTap(sys.stdout)
    sys.stdout = tap
    run.set_up(setup)
    repl = state["repl"]
    results, traced_t, untraced_t = [], [], []
    for k in range(n_cmds):
        # trace every other whole round, so both sides time the same mix
        on = run.tracer is not None and k // len(T.REPL_ROUND) % 2 == 1
        run.trace(on)
        t0 = time.time()
        got = execute(repl, mix[k], k)
        t1 = time.time()
        run.trace(False)
        (traced_t if on else untraced_t).append(t1 - t0)
        if on:
            run.traced.append((t0, t1))
        results.append((mix[k], got))
    sys.stdout = tap.real

    rows_out = 0
    for cmd, got in results:
        want = T.repl_answer(tp, cmd)
        if cmd.startswith("csvdump"):
            check = checks.trip_csv_errors if " trip " in cmd else checks.stats_csv_errors
            errs = check(got[0], want[0])
            rows_out += len(want[0])
        else:
            norm = []
            for stmt, g in zip(cmd.split(" & "), got):
                if stmt.startswith("dump"):
                    norm.append(checks.count_json_rows(g))
                    rows_out += norm[-1]
                else:
                    norm.append(checks.normal_repl(stmt, g))
            errs = checks.repl_errors(cmd, norm, want)
        run.failed += run.fail(errs)
    run.attempted = len(results)
    run.traced_ops = len(run.traced)
    if run.tracer is None:
        # every command counts, dumps and exports included: the figure is
        # the mean command time over whole rounds
        run.latencies = untraced_t
        run.latency_s = statistics.mean(untraced_t)
    else:
        run.layers["trace.overhead_share"] = _ratio(traced_t, untraced_t)
        run.layers["sinks.rows_out"] = rows_out / len(results)


WORKLOADS = {"live_alarm": live_alarm, "repl_queries": repl_queries}

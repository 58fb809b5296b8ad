"""Self-tests of the benchmark's tape, truth and checks (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import csv
import json
import os

import checks
import run as runner
import tape as T
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_tape(tmp_path):
    T.make_tape(7, 40).write(str(tmp_path / "a"))
    T.make_tape(7, 40).write(str(tmp_path / "b"))
    T.make_tape(8, 40).write(str(tmp_path / "c"))
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert len(a) == 40 and a == b
    assert a != c


def test_tape_crosses_both_geofences():
    for seed in range(5):
        obs = T.make_tape(seed, 60).observations()
        dists = [(r["distance"], r["alt_geom"]) for r in obs]
        assert any(d <= 5.0 and (a is None or a <= 1000.0) for d, a in dists)
        assert any(5.0 < d <= 10.0 for d, _ in dists)
        assert any(d > 10.0 for d, _ in dists)


def test_trips_close_inside_the_tape():
    tp = T.make_tape(3, 600)
    last = tp.snapshots[-1]["now"]
    sessions = T.sessions(tp)
    closed = [s for s in sessions if s["end_sec"] + T.CFG.remember_s < last]
    assert len(closed) > len(sessions) // 2
    # some aircraft fly a second trip after a silence longer than `remember`
    per_hex = {}
    for s in sessions:
        per_hex.setdefault(s["flight_id"], []).append(s)
    assert any(len(v) > 1 for v in per_hex.values())
    # the repl's trips are the closed-or-open sessions long enough to keep
    assert all(t["end_sec"] - t["start_sec"] >= 90 for t in T.batch_trips(tp))
    assert len(T.stats_rows(tp)) == 2  # the tape straddles a local midnight


def _write_csv(d, header, rows):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])


def test_trip_csv_check_catches_damage(tmp_path):
    want = T.trip_csv_rows(T.make_tape(4, 300))
    good = str(tmp_path / "good")
    _write_csv(good, checks.TRIP_HEADER, want)
    assert checks.trip_csv_errors(good, want) == []
    for name, rows in (
        ("dropped", want[1:]),
        ("duplicated", want + want[:1]),
        ("altered", [want[0][:5] + (want[0][5] + 0.001,) + want[0][6:]] + want[1:]),
    ):
        d = str(tmp_path / name)
        _write_csv(d, checks.TRIP_HEADER, rows)
        assert checks.trip_csv_errors(d, want), name


def test_stats_csv_check_catches_damage(tmp_path):
    want = T.stats_rows(T.make_tape(4, 300))
    good = str(tmp_path / "good")
    _write_csv(good, checks.STATS_HEADER, want)
    assert checks.stats_csv_errors(good, want) == []
    bad = str(tmp_path / "bad")
    _write_csv(bad, checks.STATS_HEADER, [want[0][:2] + (want[0][2] + 1,) + want[0][3:]] + want[1:])
    assert checks.stats_csv_errors(bad, want)


def test_sessions_close_during_the_live_feed():
    # the warm-up prefix outlasts the close horizon, so the feed closes trips
    for seed in range(5):
        tp, n_warm, n_feed = workloads.live_tape(seed, 21)
        assert len(tp.snapshots) == n_warm + n_feed
        before = T.closed_store_rows(tp, n_warm)
        after = T.closed_store_rows(tp, n_warm + n_feed)
        assert set(before) < set(after), seed


def test_store_check_catches_damage(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tp = T.make_tape(2, 400)
    want = T.closed_store_rows(tp, 400)
    assert len(want) > 2

    def store(rows, name):
        d = tmp_path / name / "epoch=0"
        os.makedirs(d)
        cols = list(zip(*rows))
        pq.write_table(pa.table(dict(zip(checks.STORE_COLUMNS, cols))), str(d / "p.parquet"))
        return checks.read_store(str(tmp_path / name))

    def errors(rows, name):
        return checks.diff_rows("trip store", store(rows, name), want)

    assert errors(want, "good") == []
    assert errors(want[1:], "dropped")
    assert errors(want + want[:1], "dup")
    assert errors([want[0][:3] + (want[0][3] + 1,) + want[0][4:]] + want[1:], "n_obs")


def _alarm_rows(tp, nows, delay=0.5):
    """Alarm rows a correct engine could print: one alert per in-fence pair
    of each snapshot, ``delay`` after it is due (due = now here)."""
    fence = T.in_fence_pairs(tp)
    by_key = {(r["hex"], r["ts_sec"]): r for r in tp.observations()}
    return [(now + delay, "airstrik-alert",
             {"plane_hex": h, "plane_time": now, "distance": by_key[(h, now)]["distance"]})
            for h, now in sorted(fence, key=lambda p: p[1]) if now in nows]


def test_alarm_check_catches_damage():
    tp = T.make_tape(6, 60)
    pairs, fence = T.tape_pairs(tp), T.in_fence_pairs(tp)
    inside = next(r for r in tp.observations() if r["distance"] <= 5.0)
    outside = next(r for r in tp.observations() if r["distance"] > 10.0)

    def alert(r, topic="airstrik-alert"):
        return topic, {"plane_hex": r["hex"], "plane_time": r["ts_sec"],
                       "distance": r["distance"]}

    assert checks.alarm_errors([alert(inside)], pairs, fence) == []
    assert checks.alarm_errors([alert(outside, "airstrik-warning")], pairs, fence) == []
    assert checks.alarm_errors([alert(outside)], pairs, fence)  # alert outside fences
    moved = {**inside, "ts_sec": inside["ts_sec"] + 0.5}
    assert checks.alarm_errors([alert(moved)], pairs, fence)  # names no tape pair

    # a whole live run: every fed snapshot answered, no failure
    due = {s["now"]: s["now"] for s in tp.snapshots}
    rows = _alarm_rows(tp, set(due))
    latency, attempted, failed, errs = checks.alarm_outcome(rows, due, pairs, fence)
    assert (attempted, failed, errs) == (len(due), 0, [])
    assert max(latency) == max(now for _, now in fence)
    # an alert placed outside the fences fails its snapshot
    topic, row = alert(outside)
    bad = rows + [(row["plane_time"] + 1.0, topic, row)]
    assert checks.alarm_outcome(bad, due, pairs, fence)[2] == 1


def test_alarm_check_counts_unanswered_in_fence_snapshots():
    tp = T.make_tape(6, 60)
    pairs, fence = T.tape_pairs(tp), T.in_fence_pairs(tp)
    due = {s["now"]: s["now"] for s in tp.snapshots}
    in_fence = sorted({now for _, now in fence})
    # alarm output stops partway through the feed
    cut = in_fence[len(in_fence) // 2]
    rows = _alarm_rows(tp, {now for now in due if now < cut})
    latency, attempted, failed, errs = checks.alarm_outcome(rows, due, pairs, fence)
    assert attempted == len(due)
    assert failed == sum(1 for now in in_fence if now >= cut) > 0
    assert len(errs) == failed
    assert max(latency) < cut


def test_repl_check_catches_damage():
    tp = T.make_tape(9, 300)
    mix = T.repl_mix(tp, 9, 2 * len(T.REPL_ROUND))
    lst = next(c for c in mix if c == "list")
    plane = next(c for c in mix if c.startswith("plane"))
    want = T.repl_answer(tp, lst)
    assert checks.repl_errors(lst, want, want) == []
    rows = want[0]
    altered = [[(rows[0][0], rows[0][1], rows[0][2] + 1)] + rows[1:]]  # altered n_obs
    assert checks.repl_errors(lst, altered, want)
    want_p = T.repl_answer(tp, plane)
    assert want_p[0]
    assert checks.repl_errors(plane, [want_p[0][1:]], want_p)  # dropped trip
    assert checks.repl_errors(plane, [want_p[0] + want_p[0][:1]], want_p)  # duplicated


def test_printed_metric_names_equal_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    layers = {m["name"] for m in bench["per_layer"]}
    e2e = {m["name"] for m in bench["end_to_end"]}
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        assert set(json.load(f)["per_layer"]) == layers
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)
    assert sorted(runner.WORKLOAD_NAMES) == sorted(workloads.WORKLOADS)

    # every figure the traced run computes is a listed per-layer metric, and
    # together the two workloads compute every listed one
    class FakeRun:
        layers: dict = {}
        traced_ops = 1
        tracer = tracing.Tracer()
        traced = [(0.0, 1.0)]
        get_spark_s = 1.0
        catalyst = tracing.CatalystLog()
        event_log = "/nonexistent"
        latency_s = setup_s = 1.0

    assert set(runner.end_to_end_values(FakeRun())) == e2e
    live = FakeRun()
    live.layers = {"trace.overhead_share": 0.0}
    ev = {"id": "a", "batch": 0, "timestamp": "1970-01-01T00:00:00.500Z", "input_rows": 1,
          "duration_ms": {}, "state": []}
    live.progress = type("P", (), {"events": [ev, {**ev, "id": "t", "state": [
        {"rows": 1, "memory": 1, "commit_ms": 1, "dropped": 0}]}]})()
    live.tracer = tracing.Tracer()
    workloads._streaming_layers(live, live.progress.events, [{"landed": 0.2, "due": 0.1}],
                                0.0, 1.0)
    computed = set(runner.layer_metrics(live)) | {"sinks.rows_out"}
    assert computed == layers

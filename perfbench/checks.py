"""Output checks against the tape's ground truth, run outside timed regions.

Each check returns a list of error strings, empty when the output is right.
Engine outputs are first put in the same normal form as the truth rows.
"""

from __future__ import annotations

import ast
import csv
import glob
import math
import os
from collections import Counter

FENCE_KM = 10.0  # the widest REFERENCE geofence


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)
    return a == b


def _key(row: tuple) -> tuple:
    """Hashable form with floats rounded far below the compared precision."""
    return tuple(round(v, 9) if isinstance(v, float) else v for v in row)


def diff_rows(what: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Multiset comparison: a dropped, duplicated or altered row is an error."""
    g, w = Counter(map(_key, got)), Counter(map(_key, want))
    errors = [f"{what}: missing {row}" for row in (w - g).elements()]
    errors += [f"{what}: unexpected {row}" for row in (g - w).elements()]
    if not errors:
        # the rounded keys agree; confirm values at full tolerance
        for a, b in zip(sorted(got, key=_key), sorted(want, key=_key)):
            if not all(_same(x, y) for x, y in zip(a, b)):
                errors.append(f"{what}: {a} != {b}")
    return errors


def parse_alarm_line(line: str) -> tuple[str, dict]:
    """``[topic] {...}`` as the run command's print sink writes it."""
    topic, _, body = line.partition("] ")
    return topic.lstrip("["), ast.literal_eval(body)


def alarm_errors(rows: list[tuple[str, dict]], pairs: set, fence_pairs: set) -> list[str]:
    """An alarm must name a (hex, now) pair of the tape; an alert must also
    be inside a geofence, by the truth and by its own distance field."""
    errors = []
    for topic, row in rows:
        pair = (row["plane_hex"], row["plane_time"])
        if pair not in pairs:
            errors.append(f"alarm names no tape pair: {pair}")
        elif topic == "airstrik-alert" and (
            pair not in fence_pairs or not row["distance"] <= FENCE_KM
        ):
            errors.append(f"alert outside every fence: {pair} at {row['distance']} km")
        elif topic not in ("airstrik-alert", "airstrik-warning"):
            errors.append(f"unknown alarm topic {topic!r}")
    return errors


def _csv_rows(out_dir: str) -> tuple[list[str], list[list[str]]]:
    header, rows = [], []
    for path in sorted(glob.glob(os.path.join(out_dir, "*.csv"))):
        with open(path, newline="") as f:
            part = list(csv.reader(f))
        if part:
            header, rows = part[0], rows + part[1:]
    return header, rows


def _num(s: str) -> float | None:
    return None if s == "" else float(s)


TRIP_HEADER = ["flight_id", "flight_name", "lat", "lon", "alt_geom",
               "closest_dist", "start_time", "end_time"]
STATS_HEADER = ["day", "unique_planes", "total_trips", "unique_alarm_planes",
                "total_alarm_trips"]


def trip_csv_errors(out_dir: str, want: list[tuple]) -> list[str]:
    header, rows = _csv_rows(out_dir)
    if header != TRIP_HEADER:
        return [f"trip csv header {header}"]
    got = [
        (r[0], r[1] or None, _num(r[2]), _num(r[3]), _num(r[4]), _num(r[5]), r[6], r[7])
        for r in rows
    ]
    return diff_rows("trip csv", got, want)


def stats_csv_errors(out_dir: str, want: list[tuple]) -> list[str]:
    header, rows = _csv_rows(out_dir)
    if header != STATS_HEADER:
        return [f"stats csv header {header}"]
    got = [(r[0], *(int(x) for x in r[1:])) for r in rows]
    return diff_rows("stats csv", got, want)


STORE_COLUMNS = ["flight_id", "start_sec", "end_sec", "n_obs", "callsign",
                 "closest_dist", "closest_sec", "alarmed"]


def read_store(store_dir: str) -> list[tuple]:
    """Rows of the epoch-partitioned trip store, as ``tape.closed_store_rows`` tuples."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(store_dir, "epoch=*", "*.parquet"))
    rows = []
    for path in files:
        t = pq.read_table(path, columns=STORE_COLUMNS).to_pydict()
        rows += list(zip(*(t[c] for c in STORE_COLUMNS)))
    return rows


def alarm_outcome(rows: list[tuple[float, str, dict]], due: dict[float, float],
                  pairs: set, fence_pairs: set) -> tuple[dict, int, int, list[str]]:
    """Check and time the alarm rows of a live run.

    ``rows`` holds (print time, topic, row) for every alarm row printed;
    ``due`` maps the ``now`` of each fed snapshot to its due time.  A fed
    snapshot's answer is the first alarm row whose ``plane_time`` is that
    snapshot's or a newer fed one's: a micro-batch holding several snapshots
    alarms only on each aircraft's latest position, so a newer alarm answers
    the older snapshot.  Every fed snapshot is one operation, failed when
    one of its alarm rows is wrong, or when it holds an in-fence pair (which
    must raise an alert) and gets no answer; any other row is a further
    operation, failed when wrong.  Returns (latency per answered snapshot,
    attempted, failed, errors)."""
    first: dict[float, float] = {}
    bad: set[float] = set()
    errors: list[str] = []
    attempted = failed = 0
    for t, topic, row in rows:
        errs = alarm_errors([(topic, row)], pairs, fence_pairs)
        errors += errs
        if row["plane_time"] in due:
            first[row["plane_time"]] = min(first.get(row["plane_time"], t), t)
            if errs:
                bad.add(row["plane_time"])
        else:
            attempted += 1
            failed += 1 if errs else 0
    in_fence = {now for _, now in fence_pairs}
    latency: dict[float, float] = {}
    answered = math.inf
    for now in sorted(due, reverse=True):
        answered = min(answered, first.get(now, math.inf))
        if answered < math.inf:
            latency[now] = answered - due[now]
        elif now in in_fence:
            bad.add(now)
            errors.append(f"no alarm answers the in-fence snapshot at {now}")
    return latency, attempted + len(due), failed + len(bad), errors


def normal_repl(stmt: str, rows: list) -> list:
    """Engine rows of one repl statement, in ``tape.repl_answer`` form."""
    word = stmt.split(" ", 1)[0]
    tuples = [tuple(r) for r in rows]
    if word == "plane":
        return sorted(tuples, key=lambda r: r[0])
    return sorted(tuples)


def repl_errors(cmd: str, got: list, want: list) -> list[str]:
    if len(got) != len(want):
        return [f"repl {cmd!r}: {len(got)} results, want {len(want)}"]
    errors = []
    for stmt, g, w in zip(cmd.split(" & "), got, want):
        if isinstance(w, int):  # dump: rows written
            if g != w:
                errors.append(f"repl {stmt!r}: dumped {g} rows, want {w}")
        else:
            errors += diff_rows(f"repl {stmt!r}", g, w)
    return errors


def count_json_rows(out_dir: str) -> int:
    n = 0
    for path in glob.glob(os.path.join(out_dir, "*.json")):
        with open(path) as f:
            n += sum(1 for line in f if line.strip())
    return n

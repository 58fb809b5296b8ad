"""Seeded ADS-B snapshot tape and its plain-Python ground truth.

A tape is a list of dump1090 ``aircraft.json`` snapshots, one per second,
with straight-line flights passing at seeded distances from the reference
home (so both geofences are crossed), dropped packets, padded callsigns that
appear late, and unknown altitudes.  The same seed gives byte-identical
snapshot files.

The truth functions recompute, without Spark, what the engine must output
for a tape under the REFERENCE config: the batch trips behind the repl's
``trips`` view and ``csvdump``, the streaming session rows behind the ``run``
trip store, the daily stats rollup, the in-fence (hex, now) pairs an alert
may name, and the answers to the repl query mix.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import ROUND_HALF_UP, Decimal



class CFG:
    """The engine's REFERENCE profile (config.yaml defaults), restated here
    so the truth does not import the code it checks."""

    home_lat = 35.7270309
    home_lon = -78.695587
    remember_s = 60.0
    min_trip_length_s = 90.0
    utc_time_offset_h = -4
    most_generous_dist_km = 10.0
    most_generous_alt_m = 1000.0


EARTH_RADIUS_KM = 6371.0088
KM_PER_DEG_LAT = 111.32


def spark_round(x: float | None, nd: int) -> float | None:
    """Spark's ``round``: HALF_UP on the double's shortest decimal form."""
    if x is None:
        return None
    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def haversine_km(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Operation-for-operation twin of ``functions/geo.py::haversine_km``."""
    dlat = math.radians(lat2 - lat1) / 2.0
    dlon = math.radians(lon2 - lon1) / 2.0
    a = math.sin(dlat) * math.sin(dlat) + math.cos(math.radians(lat1)) * math.cos(
        math.radians(lat2)
    ) * math.sin(dlon) * math.sin(dlon)
    return (2.0 * EARTH_RADIUS_KM) * math.asin(math.sqrt(a))


def home_distance(lat: float | None, lon: float | None) -> float | None:
    if lat is None or lon is None:
        return None
    return spark_round(haversine_km(CFG.home_lat, CFG.home_lon, lat, lon), 4)


@dataclass
class Tape:
    snapshots: list[dict]
    # memoized full-tape truth inputs (observations, sessions)
    _memo: dict = field(default_factory=dict, repr=False)

    def file_name(self, i: int) -> str:
        return f"aircraft_{i:06d}.json"

    def payload(self, i: int) -> bytes:
        return json.dumps(self.snapshots[i], separators=(",", ":")).encode()

    def write(self, landing_dir: str) -> None:
        os.makedirs(landing_dir, exist_ok=True)
        for i in range(len(self.snapshots)):
            with open(os.path.join(landing_dir, self.file_name(i)), "wb") as f:
                f.write(self.payload(i))

    def observations(self, upto: int | None = None) -> list[dict]:
        """Flattened rows, one per aircraft per snapshot (the engine's obs)."""
        if upto is None and "obs" in self._memo:
            return self._memo["obs"]
        snaps = self.snapshots if upto is None else self.snapshots[:upto]
        rows = [
            {**a, "ts_sec": s["now"], "distance": home_distance(a["lat"], a["lon"])}
            for s in snaps
            for a in s["aircraft"]
        ]
        if upto is None:
            self._memo["obs"] = rows
        return rows

    @property
    def n_obs(self) -> int:
        return sum(len(s["aircraft"]) for s in self.snapshots)


def _hex(rng: random.Random, used: set[str]) -> str:
    while True:
        h = f"{rng.randrange(0xA00000, 0xAFFFFF):06x}"
        if h not in used:
            used.add(h)
            return h


def _callsign(rng: random.Random) -> str:
    letters = "".join(rng.choice("ABCDEFGHJKLMNPRSTUVWXYZ") for _ in range(3))
    return f"{letters}{rng.randrange(1, 9999)}".ljust(8)


def _flight_positions(rng, start, duration, r_km, forced_alt=None):
    """One straight flight: (t, lat, lon, heading, alt) per second; closest
    approach to home at r_km, some time inside the flight."""
    bearing = rng.uniform(0, 2 * math.pi)
    heading = (math.degrees(bearing) + 90.0 + rng.choice((0.0, 180.0))) % 360.0
    speed_kmh = rng.uniform(180, 600)
    t_close = start + duration * rng.uniform(0.2, 0.8)
    cx = r_km * math.sin(bearing)  # km east of home at closest approach
    cy = r_km * math.cos(bearing)  # km north
    vx = speed_kmh / 3600.0 * math.sin(math.radians(heading))
    vy = speed_kmh / 3600.0 * math.cos(math.radians(heading))
    alt0 = forced_alt if forced_alt is not None else rng.choice(
        (rng.uniform(300, 1000), rng.uniform(1000, 4000))
    )
    climb = rng.uniform(-2.0, 2.0)
    kx = KM_PER_DEG_LAT * math.cos(math.radians(CFG.home_lat))
    out = []
    for t in range(start, start + duration):
        x = cx + vx * (t - t_close)
        y = cy + vy * (t - t_close)
        out.append(
            (
                t,
                round(CFG.home_lat + y / KM_PER_DEG_LAT, 6),
                round(CFG.home_lon + x / kx, 6),
                round(heading, 1),
                round(alt0 + climb * (t - start), 1),
            )
        )
    return out


def make_tape(seed: int, n_snapshots: int, n_aircraft: int = 60) -> Tape:
    """A tape of ``n_snapshots`` one-second snapshots with about ``n_aircraft``
    aircraft each."""
    rng = random.Random(seed)
    # Straddle a local (UTC-4) midnight so the daily rollup has two days.
    day = 19_700 + rng.randrange(300)
    t0 = day * 86400 - CFG.utc_time_offset_h * 3600 - n_snapshots // 2
    end = t0 + n_snapshots
    used: set[str] = set()
    by_t: dict[int, list[dict]] = {t: [] for t in range(t0, end)}
    for slot in range(n_aircraft):
        # The first two slots start with a pass through each geofence.
        t = t0 - rng.randrange(0, 200)
        hexid = _hex(rng, used)
        first = True
        while t < end:
            # a third are shorter than min_trip_length: sessions, not trips
            duration = rng.randrange(40, 89) if rng.random() < 1 / 3 else rng.randrange(100, 400)
            if first and slot < 2:
                r_km, alt = (2.0, 600.0) if slot == 0 else (7.0, 800.0)
                duration = max(duration, 200)
                t = max(t, t0)
            else:
                r_km, alt = rng.uniform(0.3, 20.0), None
            first = False
            callsign = _callsign(rng)
            no_call = rng.randrange(0, 6)
            no_alt = rng.randrange(0, 4) if rng.random() < 0.3 else 0
            track = _flight_positions(rng, t, duration, r_km, alt)
            for k, (ts, lat, lon, hdg, alt_m) in enumerate(track):
                if ts < t0 or ts >= end:
                    continue
                # dropped packets, never the first or last of a flight
                if 0 < k < len(track) - 1 and rng.random() < 0.03:
                    continue
                by_t[ts].append(
                    {
                        "hex": hexid,
                        "flight": None if k < no_call else callsign,
                        "lat": lat,
                        "lon": lon,
                        "nav_heading": hdg,
                        "alt_geom": None if k < no_alt else alt_m,
                        "seen": round(rng.uniform(0.0, 0.9), 1),
                    }
                )
            t += duration
            if rng.random() < 0.4:
                t += rng.randrange(90, 200)  # same aircraft, a new trip
            else:
                t += rng.randrange(0, 20)
                hexid = _hex(rng, used)
    snapshots = [{"now": float(t), "aircraft": by_t[t]} for t in range(t0, end)]
    return Tape(snapshots)


# ---------------------------------------------------------------- truth


def sessions(tape: Tape, upto: int | None = None) -> list[dict]:
    """Per-hex sessions (a gap > remember splits them), folded into every
    field the trip outputs carry; ``upto`` limits the tape to a prefix."""
    by_hex: dict[str, list[dict]] = {}
    for row in tape.observations(upto):
        by_hex.setdefault(row["hex"], []).append(row)
    out = []
    for hexid, rows in by_hex.items():
        rows.sort(key=lambda r: r["ts_sec"])
        cur: list[dict] = []
        for row in rows:
            if cur and row["ts_sec"] - cur[-1]["ts_sec"] > CFG.remember_s:
                out.append(_fold(hexid, cur))
                cur = []
            cur.append(row)
        out.append(_fold(hexid, cur))
    if upto is None:
        tape._memo["sessions"] = out
    return out


def _fold(hexid: str, rows: list[dict]) -> dict:
    closest = min(rows, key=lambda r: (r["distance"], r["ts_sec"]))
    callsign = next(
        (r["flight"].replace(" ", "") for r in rows if r["flight"] is not None), None
    )

    def oldest_before(col):
        return next(
            (r[col] for r in rows if r[col] is not None and r["ts_sec"] <= closest["ts_sec"]),
            None,
        )

    # batch `alarmed` (sessions._alarmed_row): >= 2 distinct lat and lon
    # fixes so far, running last distance strictly inside the widest fence,
    # running last altitude unknown or under the widest ceiling
    alarmed = False
    n_lat = n_lon = 0
    prev_lat = prev_lon = dist = alt = None
    for r in rows:
        if r["lat"] is not None and r["lat"] != prev_lat:
            n_lat += 1
        if r["lon"] is not None and r["lon"] != prev_lon:
            n_lon += 1
        prev_lat = r["lat"] if r["lat"] is not None else prev_lat
        prev_lon = r["lon"] if r["lon"] is not None else prev_lon
        dist = r["distance"] if r["distance"] is not None else dist
        alt = r["alt_geom"] if r["alt_geom"] is not None else alt
        if (
            n_lat >= 2
            and n_lon >= 2
            and dist is not None
            and dist < CFG.most_generous_dist_km
            and (alt is None or alt <= CFG.most_generous_alt_m)
        ):
            alarmed = True
    # streaming `alarmed` (pipeline.stream_trips): per-event, same fence
    stream_alarmed = any(
        r["distance"] < CFG.most_generous_dist_km
        and (r["alt_geom"] is None or r["alt_geom"] <= CFG.most_generous_alt_m)
        for r in rows
    )
    return {
        "flight_id": hexid,
        "start_sec": rows[0]["ts_sec"],
        "end_sec": rows[-1]["ts_sec"],
        "n_obs": len(rows),
        "callsign": callsign,
        "closest_dist": closest["distance"],
        "closest_sec": closest["ts_sec"],
        "alarmed": alarmed,
        "stream_alarmed": stream_alarmed,
        "asof_lat": oldest_before("lat"),
        "asof_lon": oldest_before("lon"),
        "asof_alt": oldest_before("alt_geom"),
    }


def batch_trips(tape: Tape) -> list[dict]:
    """``__main__._trips``: sessions kept by the min-trip-length filter."""
    return [
        s for s in sessions(tape) if s["end_sec"] - s["start_sec"] >= CFG.min_trip_length_s
    ]


def closed_store_rows(tape: Tape, upto: int) -> list[tuple]:
    """Trip-store rows of a live run over the first ``upto`` snapshots, once
    it has drained: the sessions whose window end (last event + remember
    + 1 us) the trips query's watermark (newest event - 2 x remember) has
    reached."""
    watermark = max(s["now"] for s in tape.snapshots[:upto] if s["aircraft"]) - (
        2 * CFG.remember_s)
    return [
        (s["flight_id"], s["start_sec"], s["end_sec"], s["n_obs"], s["callsign"],
         s["closest_dist"], s["closest_sec"], s["stream_alarmed"])
        for s in sessions(tape, upto)
        if s["end_sec"] + CFG.remember_s + 1e-6 <= watermark
    ]


def _fmt_ts(sec: float) -> str:
    micros = int(spark_round(sec * 1_000_000.0, 0))
    return datetime.fromtimestamp(micros // 1_000_000, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def trip_csv_rows(tape: Tape) -> list[tuple]:
    """Rows of ``csvdump --mode trip`` in its column order."""
    return sorted(
        (t["flight_id"], t["callsign"], spark_round(t["asof_lat"], 6),
         spark_round(t["asof_lon"], 6), spark_round(t["asof_alt"], 6),
         t["closest_dist"], _fmt_ts(t["start_sec"]), _fmt_ts(t["end_sec"]))
        for t in batch_trips(tape)
    )


def day_of(sec: float) -> str:
    d = math.floor((sec + CFG.utc_time_offset_h * 3600.0) / 86400.0)
    return datetime.fromtimestamp(d * 86400, tz=timezone.utc).strftime("%Y-%m-%d")


def stats_rows(tape: Tape) -> list[tuple]:
    """Rows of ``csvdump --mode stats``: (day, unique_planes, total_trips,
    unique_alarm_planes, total_alarm_trips)."""
    days: dict[str, list[dict]] = {}
    for t in batch_trips(tape):
        days.setdefault(day_of(t["end_sec"]), []).append(t)
    return sorted(
        (
            day,
            len({t["flight_id"] for t in ts}),
            len(ts),
            len({t["flight_id"] for t in ts if t["alarmed"]}),
            sum(1 for t in ts if t["alarmed"]),
        )
        for day, ts in days.items()
    )


def tape_pairs(tape: Tape) -> set[tuple[str, float]]:
    """Every (hex, now) the tape holds: the only pairs an alarm may name."""
    return {(r["hex"], r["ts_sec"]) for r in tape.observations()}


def in_fence_pairs(tape: Tape) -> set[tuple[str, float]]:
    """(hex, now) pairs inside some geofence by distance: the only pairs an
    ``airstrik-alert`` may name (alarm_payload ignores altitude there)."""
    widest = CFG.most_generous_dist_km
    return {
        (r["hex"], r["ts_sec"])
        for r in tape.observations()
        if r["distance"] is not None and r["distance"] <= widest
    }


# ---------------------------------------------------------------- repl mix

SEARCH_FIELDS = (("alt_geom", 300.0, 4000.0), ("lat", 35.6, 35.85), ("lon", -78.85, -78.55),
                 ("nav_heading", 0.0, 360.0))
OPS = {">": float.__gt__, "<": float.__lt__, ">=": float.__ge__, "<=": float.__le__}


# The kinds of one round of the repl mix, in order.  The composition is the
# same for every seed (only the parameters are seeded), so a run's median
# does not depend on how many heavy commands its seed happened to draw.
REPL_ROUND = ("list", "plane", "search", "sql_obs", "plane", "sql_trips", "search",
              "dump", "plane", "export")


def repl_mix(tape: Tape, seed: int, n: int) -> list[str]:
    """``n`` commands: rounds of REPL_ROUND with seeded parameters.  Mostly
    repl reads, one ``dump`` and one CSV export (``csvdump trip|stats``, run
    through the CLI's csvdump command, alternating) per round.  ``{dir}`` is
    filled by the runner with a fresh path."""
    rng = random.Random(seed * 7919 + 1)
    hexes = sorted({t["flight_id"] for t in batch_trips(tape)})
    cmds = []
    for i in range(n):
        kind = REPL_ROUND[i % len(REPL_ROUND)]
        if kind == "export":
            kind = "trip" if i // len(REPL_ROUND) % 2 == 0 else "stats"
        if kind == "list":
            cmds.append("list")
        elif kind == "plane":
            cmds.append(f"plane {rng.choice(hexes)}")
        elif kind in ("search", "dump"):
            preds = []
            # a dump's search takes two predicates, so its size varies less
            n_preds = 2 if kind == "dump" else rng.randrange(1, 3)
            for fld, lo, hi in rng.sample(SEARCH_FIELDS, n_preds):
                op = rng.choice(tuple(OPS))
                preds.append(f"{fld}{op}{round(rng.uniform(lo, hi), 3)}")
            cmds.append("search " + " ".join(preds))
            if kind == "dump":
                cmds[-1] += " & dump {dir}"
        elif kind == "sql_obs":
            cut = round(rng.uniform(300.0, 4000.0), 1)
            cmds.append(
                "sql SELECT hex, count(*) AS n FROM obs "
                f"WHERE alt_geom < {cut} GROUP BY hex"
            )
        elif kind == "sql_trips":
            cut = round(rng.uniform(0.3, 20.0), 3)
            cmds.append(
                "sql SELECT flight_id, count(*) AS n FROM trips "
                f"WHERE closest_dist < {cut} GROUP BY flight_id"
            )
        else:
            cmds.append(f"csvdump {kind} {{dir}}")
    return cmds


def repl_answer(tape: Tape, cmd: str) -> list:
    """The expected result of each ``&``-separated statement of ``cmd``, in
    the normal form ``checks.normal_repl`` gives the engine's rows."""
    out = []
    last_search: set[str] = set()
    for stmt in cmd.split(" & "):
        word, _, rest = stmt.partition(" ")
        if word == "csvdump":
            out.append(trip_csv_rows(tape) if rest.startswith("trip") else stats_rows(tape))
        elif word == "list":
            per: dict[str, list[int]] = {}
            for t in batch_trips(tape):
                acc = per.setdefault(t["flight_id"], [0, 0])
                acc[0] += 1
                acc[1] += t["n_obs"]
            out.append(sorted((h, a, b) for h, (a, b) in per.items()))
        elif word == "plane":
            ts = sorted((t for t in batch_trips(tape) if t["flight_id"] == rest),
                        key=lambda t: t["start_sec"])
            out.append([(i + 1, None, t["callsign"], t["n_obs"]) for i, t in enumerate(ts)])
        elif word == "search":
            preds = [_parse_pred(p) for p in rest.split()]
            last_search = {
                r["hex"]
                for r in tape.observations()
                if all(r[f] is not None and OPS[op](float(r[f]), v) for f, op, v in preds)
            }
            out.append(sorted((h,) for h in last_search))
        elif word == "dump":
            out.append(sum(1 for r in tape.observations() if r["hex"] in last_search))
        elif word == "sql" and " FROM obs " in rest:
            cut = float(rest.split("alt_geom < ")[1].split()[0])
            cnt: dict[str, int] = {}
            for r in tape.observations():
                if r["alt_geom"] is not None and r["alt_geom"] < cut:
                    cnt[r["hex"]] = cnt.get(r["hex"], 0) + 1
            out.append(sorted(cnt.items()))
        else:
            cut = float(rest.split("closest_dist < ")[1].split()[0])
            cnt = {}
            for t in batch_trips(tape):
                if t["closest_dist"] < cut:
                    cnt[t["flight_id"]] = cnt.get(t["flight_id"], 0) + 1
            out.append(sorted(cnt.items()))
    return out


def _parse_pred(tok: str) -> tuple[str, str, float]:
    for op in (">=", "<=", ">", "<"):
        if op in tok:
            fld, val = tok.split(op, 1)
            return fld, op, float(val)
    raise ValueError(tok)

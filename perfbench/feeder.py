"""Open-loop snapshot feeder: lands tape snapshots in a landing directory on
a fixed wall-clock schedule, the way dump1090 rewrites aircraft.json once a
second.

Runs as its own process so the schedule never waits on the engine.  Each
snapshot is written into a staging directory on the same filesystem and then
renamed into the landing directory, so the engine's file source never sees a
partial file.  One JSON line per snapshot (index, due, landed) goes to the
log as it lands.

    python3 perfbench/feeder.py --payloads FILE --staging DIR --landing DIR \
        --start EPOCH_S --period S --log FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time


def feed(payloads: list[dict], staging: str, landing: str, start: float,
         period: float, log) -> None:
    for k, item in enumerate(payloads):
        due = start + k * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(staging, item["name"] + ".part")
        with open(tmp, "w") as f:
            f.write(item["body"])
        os.rename(tmp, os.path.join(landing, item["name"]))
        landed = time.time()
        log.write(json.dumps({"index": item["index"], "due": due, "landed": landed}) + "\n")
        log.flush()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--payloads", required=True, help="JSON lines: index, name, body")
    p.add_argument("--staging", required=True)
    p.add_argument("--landing", required=True)
    p.add_argument("--start", type=float, required=True)
    p.add_argument("--period", type=float, default=1.0)
    p.add_argument("--log", required=True)
    a = p.parse_args()
    with open(a.payloads) as f:
        payloads = [json.loads(line) for line in f]
    with open(a.log, "w") as log:
        feed(payloads, a.staging, a.landing, a.start, a.period, log)


if __name__ == "__main__":
    main()

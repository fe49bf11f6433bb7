"""Seeded trip-event generator and mock-broker segment writer.

The generator is its own process: ``python gen.py backlog SPEC`` writes
the preloaded backlog and exits; ``python gen.py live SPEC`` paces the
live segments by due time, regardless of how the engine keeps up (an
open loop), and writes a manifest line per segment.  Both derive the
same event sequence from ``SPEC["seed"]``, so the backlog and live parts
never overlap or drift.

It writes the mock broker's documented log format itself (one JSON line
``{"key", "value", "ts_epoch"}`` per record in ``p<partition>-<seq>.jsonl``)
rather than calling the package's producer: each segment is written to a
hidden temp file and renamed into place, so a whole-log scan never sees a
half-written segment.  ``ts_epoch`` carries the segment's creation time,
the Kafka ``LogAppendTime`` of its records.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random
import sys
import time
from pathlib import Path

N_STATIONS = 600
ZIPF_S = 1.1
UNKNOWN_SHARE = 0.01
LATE_SHARE = 0.05
#: out-of-order events move back by at most this much event time, well
#: inside Topology 1's one-day watermark delay
LATE_MAX_S = 30 * 60
N_PARTITIONS = 2
#: live segments are numbered from here, so they sort after the backlog's
LIVE_SEQ0 = 100_000


def stations(seed: int) -> list[dict]:
    """The static station dimension (STATION schema), seeded."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for sid in range(N_STATIONS):
        docks = rng.randint(11, 47)
        out.append({
            "id": sid,
            "name": f"Station {sid:03d}",
            "totalDocks": docks,
            "docksInService": docks - rng.randint(0, 3),
            "status": "In Service",
            "latitude": round(41.7 + rng.random() * 0.3, 6),
            "longitude": round(-87.8 + rng.random() * 0.2, 6),
            "location": f"loc-{sid}",
        })
    return out


def iso_ms(epoch_ms: int) -> str:
    t = dt.datetime.fromtimestamp(epoch_ms / 1000.0, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{epoch_ms % 1000:03d}Z"


def events(spec: dict, count: int) -> list[dict]:
    """The first ``count`` events of the run: Zipf-popular stations, 1 %
    unknown station ids, 5 % out of order.  Event ``i`` is generated at
    ``i / rate`` generator seconds; event time advances ``speed`` times as
    fast as generator time, from ``t0_ms``."""
    rng = random.Random(spec["seed"])
    order = list(range(N_STATIONS))
    rng.shuffle(order)
    cum, acc = [], 0.0
    for rank in range(1, N_STATIONS + 1):
        acc += 1.0 / rank**ZIPF_S
        cum.append(acc)
    rate, speed, t0 = spec["rate"], spec["speed"], spec["t0_ms"]
    out = []
    for i in range(count):
        if rng.random() < UNKNOWN_SHARE:
            station = N_STATIONS + rng.randrange(100)
        else:
            station = order[bisect.bisect_left(cum, rng.random() * acc)]
        t_ms = t0 + int(i / rate * speed * 1000)
        if rng.random() < LATE_SHARE:
            t_ms -= rng.randrange(LATE_MAX_S * 1000)
        out.append({
            "id": i,
            "type": 1 if rng.random() < 0.5 else 2,
            "dateTime": t_ms,
            "stationId": station,
            "duration": round(60 + rng.random() * 1800, 1),
            "userType": "Subscriber" if rng.random() < 0.8 else "Customer",
            "gender": "Male" if rng.random() < 0.6 else "Female",
            "week": 1 + (t_ms // (7 * 86_400_000)) % 52,
            "temperature": round(rng.uniform(-5.0, 30.0), 1),
            "events": "clear",
        })
    return out


def partition_of(event: dict) -> int:
    return event["stationId"] % N_PARTITIONS


class SegmentWriter:
    """Writes segments atomically and numbers them per partition."""

    def __init__(self, path: str, first_seq: int = 0) -> None:
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)
        self.next_seq = {p: first_seq for p in range(N_PARTITIONS)}

    def write(self, partition: int, batch: list[dict], created: float) -> str:
        seq = self.next_seq[partition]
        self.next_seq[partition] = seq + 1
        name = f"p{partition}-{seq:06d}.jsonl"
        lines = []
        for e in batch:
            value = dict(e, dateTime=iso_ms(e["dateTime"]))
            lines.append(json.dumps({"key": str(e["stationId"]),
                                     "value": json.dumps(value),
                                     "ts_epoch": created}))
        tmp = self.path / f".{name}.tmp"
        tmp.write_text("\n".join(lines) + "\n")
        os.rename(tmp, self.path / name)
        return name


def _by_partition(batch: list[dict]) -> dict[int, list[dict]]:
    parts: dict[int, list[dict]] = {p: [] for p in range(N_PARTITIONS)}
    for e in batch:
        parts[partition_of(e)].append(e)
    return parts


def _manifest_line(name, part, batch, created, due) -> dict:
    return {"name": name, "partition": part, "n": len(batch),
            "created": created, "due": due}


def live_plan(spec: dict) -> list[list[dict]]:
    """The live events cut into ticks."""
    b, tick, rate = spec["backlog"], spec["tick_s"], spec["rate"]
    per_tick = int(round(rate * tick))
    n_ticks = int(round(spec["seconds"] / tick))
    evs = events(spec, b + per_tick * n_ticks)[b:]
    return [evs[k * per_tick:(k + 1) * per_tick] for k in range(n_ticks)]


def write_backlog(spec: dict) -> list[dict]:
    writer = SegmentWriter(spec["log"])
    evs = events(spec, spec["backlog"])
    manifest = []
    for k in range(0, len(evs), spec["backlog_segment"]):
        chunk = evs[k:k + spec["backlog_segment"]]
        created = time.time()
        for part, batch in _by_partition(chunk).items():
            if batch:
                name = writer.write(part, batch, created)
                manifest.append(_manifest_line(name, part, batch, created, created))
    return manifest


def write_live(spec: dict) -> list[dict]:
    """Pace each tick by its due time; never wait for the engine."""
    writer = SegmentWriter(spec["log"], first_seq=LIVE_SEQ0)
    ticks = live_plan(spec)
    start = spec["start_at"]
    manifest = []
    for k, tick_events in enumerate(ticks):
        due = start + (k + 1) * spec["tick_s"]
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        created = time.time()
        for part, batch in _by_partition(tick_events).items():
            if batch:
                name = writer.write(part, batch, created)
                manifest.append(_manifest_line(name, part, batch, created, due))
    return manifest


def main(argv: list[str]) -> int:
    mode, spec_path = argv[1], argv[2]
    spec = json.loads(Path(spec_path).read_text())
    manifest = write_backlog(spec) if mode == "backlog" else write_live(spec)
    out = Path(spec_path).with_suffix(f".{mode}.manifest.json")
    out.write_text(json.dumps(manifest))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

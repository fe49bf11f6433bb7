"""Independent streaming oracles.

The expected etl-topic contents are computed here in plain Python from
the records the generator wrote, never with the package's operators, so
a bug shared by the batch and streaming paths still shows.  The topic logs are read back and diffed row by row.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from pathlib import Path


def read_log(path: str | Path) -> list[tuple[int, dict]]:
    """Every record of a mock-broker log as (segment seq, record), in
    (partition, seq, line) order.  A sink segment's seq is its epoch."""
    out = []
    for f in sorted(Path(path).glob("p*-*.jsonl")):
        seq = int(f.stem.split("-")[1])
        for line in f.read_text().splitlines():
            if line.strip():
                out.append((seq, json.loads(line)))
    return out


def input_events(path: str | Path) -> list[dict]:
    return [json.loads(rec["value"]) for _, rec in read_log(path)]


def to_epoch(ts: str) -> float:
    """ISO-8601 (``Z`` or offset) -> epoch seconds."""
    t = dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return t.timestamp()


def _known(events: list[dict], stations: list[dict]):
    by_id = {s["id"]: s for s in stations}
    for e in events:
        s = by_id.get(e["stationId"])
        if s is not None:
            yield e, s


# ---------------------------------------------------------------------------
# Topology 1: per-(station, day) aggregation, update mode
# ---------------------------------------------------------------------------


def expected_daily(events: list[dict], stations: list[dict]) -> dict[tuple, dict]:
    acc: dict[tuple, list] = {}
    for e, s in _known(events, stations):
        t = to_epoch(e["dateTime"])
        day = dt.datetime.fromtimestamp(t, tz=dt.timezone.utc).date().isoformat()
        a = acc.setdefault((s["name"], day), [0.0, 0, 0, 0, float("-inf")])
        a[0] += e["temperature"]
        a[1] += 1
        a[2 if e["type"] == 1 else 3] += 1
        a[4] = max(a[4], t)
    return {
        k: {"avgTemperature": a[0] / a[1], "startedTrips": a[2],
            "endedTrips": a[3], "updateTime": a[4]}
        for k, a in acc.items()
    }


def latest_per_key(topic: str | Path, key_fields: tuple[str, ...]):
    """Final value per key (highest epoch wins) and the record count."""
    latest: dict[tuple, tuple[int, dict]] = {}
    n = 0
    for epoch, rec in read_log(topic):
        row = json.loads(rec["value"])
        key = tuple(row[f] for f in key_fields)
        n += 1
        if key not in latest or epoch >= latest[key][0]:
            latest[key] = (epoch, row)
    return {k: row for k, (_, row) in latest.items()}, n


def diff_daily(expected: dict[tuple, dict], got: dict[tuple, dict]) -> list[str]:
    """Row-level differences between the oracle and the etl topic."""
    bad = []
    for k in expected.keys() - got.keys():
        bad.append(f"missing {k}")
    for k in got.keys() - expected.keys():
        bad.append(f"extra {k}")
    for k in expected.keys() & got.keys():
        want, row = expected[k], got[k]
        ok = (
            row["startedTrips"] == want["startedTrips"]
            and row["endedTrips"] == want["endedTrips"]
            and math.isclose(row["avgTemperature"], want["avgTemperature"],
                             rel_tol=1e-9, abs_tol=1e-9)
            and abs(to_epoch(row["updateTime"]) - want["updateTime"]) < 5e-4
        )
        if not ok:
            bad.append(f"wrong {k}: {row} != {want}")
    return bad

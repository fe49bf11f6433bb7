"""The benchmark's own arithmetic: percentiles, latency attribution, the
event-log parser, and that every oracle rejects a corrupted output.

Run with ``python -m pytest perfbench/tests -q``; no JVM is started.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import pytest

import common
import gen
import oracle


def _iso(epoch: float) -> str:
    t = dt.datetime.fromtimestamp(epoch, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _progress(batch_id: int, start: float, trigger_ms: int, offsets: dict,
              **phases) -> dict:
    return {"batchId": batch_id, "timestamp": _iso(start),
            "durationMs": {"triggerExecution": trigger_ms, "addBatch": 1, **phases},
            "sources": [{"endOffset": json.dumps({str(k): v for k, v in offsets.items()})}]}


# ---------------------------------------------------------------------------
# percentile rule
# ---------------------------------------------------------------------------


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert common.percentile(xs, 50) == 50
    assert common.percentile(xs, 95) == 95
    assert common.percentile([7.0], 99) == 7.0


def test_tail_needs_ten_samples_beyond():
    assert common.samples_beyond(200, 95) == 10
    assert common.tail_percentile(list(range(200)), 95) == 189
    with pytest.raises(ValueError):
        common.tail_percentile(list(range(199)), 95)
    with pytest.raises(ValueError):
        common.tail_percentile(list(range(50)), 90)


def test_tail_mean_is_the_mean_of_the_slowest_share():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0]
    assert common.tail_mean(xs, 0.25) == pytest.approx(8.5)
    assert common.tail_mean(xs, 0.01) == 9.0  # at least one value
    # every value in the tail moves it
    assert common.tail_mean(xs[:-1] + [40.0], 0.25) > common.tail_mean(xs, 0.25)


# ---------------------------------------------------------------------------
# latency attribution
# ---------------------------------------------------------------------------


def test_segment_latency_is_due_to_end_of_first_covering_batch():
    t = 1_700_000_000.0
    segs = [
        {"name": "a", "partition": 0, "end_offset": 10, "due": t, "created": t + 0.01},
        {"name": "b", "partition": 1, "end_offset": 5, "due": t + 1, "created": t + 1},
        {"name": "c", "partition": 0, "end_offset": 20, "due": t + 2, "created": t + 2},
    ]
    progress = [
        _progress(1, t + 2.5, 500, {0: 20, 1: 5}),  # out of order on purpose
        _progress(0, t + 0.5, 1000, {0: 10, 1: 0}),
    ]
    lat = common.segment_latencies(segs, progress)
    assert lat == pytest.approx([1.5, 2.0, 1.0])


def test_unconsumed_segment_is_an_error():
    segs = [{"name": "x", "partition": 0, "end_offset": 99, "due": 0.0}]
    with pytest.raises(ValueError):
        common.segment_latencies(segs, [_progress(0, 1.0, 10, {0: 5})])


def test_batch_ids_must_be_contiguous():
    ps = [{"batchId": i} for i in (3, 4, 6)]
    assert common.check_batch_ids(ps) == [5]
    assert common.check_batch_ids([{"batchId": 0}, {"batchId": 1}]) == []


def test_phase_spans_account_for_trigger_execution():
    spans = common.Spans()
    p = _progress(0, 1000.0, 100, {0: 1}, latestOffset=20, walCommit=10,
                  getBatch=0, queryPlanning=15, commitOffsets=5)
    p["durationMs"]["addBatch"] = 45
    assert common.phase_spans(spans, [p], None) == pytest.approx(0.95)
    root, *children = spans.records
    assert root["name"] == "triggerExecution" and root["end"] - root["start"] == pytest.approx(0.1)
    assert all(c["parent"] == root["id"] for c in children)
    assert children[-1]["end"] <= root["end"] + 1e-9


# ---------------------------------------------------------------------------
# event-log parser
# ---------------------------------------------------------------------------


def _task_end(stage: int, launch: int, finish: int, cpu_ns: int, gc_ms: int,
              shuffle: int) -> str:
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
    })


def test_event_log_parser(tmp_path: Path):
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart"}),
        _task_end(1, 0, 100, 2_000_000_000, 10, 100),
        _task_end(2, 0, 10, 500_000_000, 0, 0),
        _task_end(2, 0, 20, 500_000_000, 5, 50),
        _task_end(2, 0, 90, 0, 0, 0),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(lines) + "\n")
    # the same events as a rolling log: a directory of numbered parts
    rolling = tmp_path / "eventlog_v2_app-1"
    rolling.mkdir()
    (rolling / "events_2_app-1").write_text("\n".join(lines[3:]) + "\n")
    (rolling / "events_1_app-1").write_text("\n".join(lines[:3]) + "\n")
    for path in (log, rolling):
        got = common.parse_event_log(path)
        assert got["exec.task_cpu_s"] == pytest.approx(3.0)
        assert got["exec.gc_s"] == pytest.approx(0.015)
        assert got["exec.shuffle_write_bytes"] == 150
        # the widest stage is 2: durations 10, 20, 90 -> max / median = 4.5
        assert got["exec.task_skew"] == pytest.approx(4.5)


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------

SPEC = {"seed": 3, "rate": 1000, "speed": 720.0, "t0_ms": 1_700_000_000_000,
        "backlog": 500, "backlog_segment": 200, "tick_s": 0.1, "seconds": 1}


def test_generator_is_seeded_and_shaped():
    a, b = gen.events(SPEC, 2000), gen.events(SPEC, 2000)
    assert a == b
    assert a != gen.events(dict(SPEC, seed=4), 2000)
    unknown = sum(e["stationId"] >= gen.N_STATIONS for e in a) / len(a)
    assert 0.0 < unknown < 0.03
    late = [e for i, e in enumerate(a)
            if e["dateTime"] < SPEC["t0_ms"] + int(i / SPEC["rate"] * SPEC["speed"] * 1000)]
    assert 0.02 < len(late) / len(a) < 0.08
    ticks = gen.live_plan(SPEC)
    assert len(ticks) == 10 and [e["id"] for e in ticks[0]][0] == SPEC["backlog"]


def test_segments_are_renamed_into_place(tmp_path: Path):
    manifest = gen.write_backlog(dict(SPEC, log=str(tmp_path)))
    names = sorted(p.name for p in tmp_path.iterdir())
    assert names == sorted(m["name"] for m in manifest)
    assert not any(n.startswith(".") for n in names)
    assert sum(m["n"] for m in manifest) == SPEC["backlog"]
    events = oracle.input_events(tmp_path)
    assert len(events) == SPEC["backlog"]


# ---------------------------------------------------------------------------
# the streaming oracles reject corrupted topics
# ---------------------------------------------------------------------------

STATIONS = gen.stations(1)[:3]
EVENTS = [
    {"stationId": 0, "type": 1, "temperature": 10.0, "dateTime": "2024-03-01T10:00:00.000Z"},
    {"stationId": 0, "type": 2, "temperature": 20.0, "dateTime": "2024-03-01T11:30:00.500Z"},
    {"stationId": 1, "type": 1, "temperature": 5.5, "dateTime": "2024-03-01T10:10:00.000Z"},
    {"stationId": 1, "type": 1, "temperature": 6.5, "dateTime": "2024-03-02T00:10:00.000Z"},
    {"stationId": 999, "type": 1, "temperature": 0.0, "dateTime": "2024-03-01T10:00:00.000Z"},
    {"stationId": 2, "type": 2, "temperature": 1.0, "dateTime": "2024-03-01T14:00:00.000Z"},
]


def _write_topic(path: Path, rows_by_epoch: dict[int, list[dict]]) -> None:
    path.mkdir(parents=True, exist_ok=True)
    for epoch, rows in rows_by_epoch.items():
        recs = [json.dumps({"key": r.get("stationName", ""), "value": json.dumps(r)})
                for r in rows]
        (path / f"p0-{epoch:06d}.jsonl").write_text("\n".join(recs) + "\n")


def _daily_rows() -> list[dict]:
    want = oracle.expected_daily(EVENTS, STATIONS)
    return [{"stationName": k[0], "eventDay": k[1], "avgTemperature": v["avgTemperature"],
             "startedTrips": v["startedTrips"], "endedTrips": v["endedTrips"],
             "updateTime": _iso(v["updateTime"])} for k, v in want.items()]


def _daily_diff(tmp_path: Path, rows_by_epoch) -> list[str]:
    _write_topic(tmp_path, rows_by_epoch)
    got, _ = oracle.latest_per_key(tmp_path, ("stationName", "eventDay"))
    return oracle.diff_daily(oracle.expected_daily(EVENTS, STATIONS), got)


def test_daily_oracle_accepts_the_right_topic(tmp_path: Path):
    rows = _daily_rows()
    assert len(rows) == 4  # the unknown station is dropped by the join
    stale = dict(rows[0], startedTrips=0)
    # an older update of a key is superseded by the later epoch
    assert _daily_diff(tmp_path, {0: [stale], 1: rows}) == []


@pytest.mark.parametrize("corrupt", ["value", "missing", "extra", "stale_last"])
def test_daily_oracle_rejects_corruption(tmp_path: Path, corrupt: str):
    rows = _daily_rows()
    epochs = {0: rows}
    if corrupt == "value":
        rows[1] = dict(rows[1], avgTemperature=rows[1]["avgTemperature"] + 0.1)
    elif corrupt == "missing":
        rows.pop()
    elif corrupt == "extra":
        rows.append(dict(rows[0], eventDay="2024-03-09"))
    else:  # the latest update carries an old value
        epochs[1] = [dict(rows[0], endedTrips=rows[0]["endedTrips"] + 1)]
    assert _daily_diff(tmp_path, epochs)


# ---------------------------------------------------------------------------
# the batch oracle comparison rejects a corrupted result
# ---------------------------------------------------------------------------


def test_batch_oracle_comparison_rejects_corruption(tmp_path: Path):
    compare = pytest.importorskip("kafkastreamsproject_spark.testing.compare")
    import tables

    tables.generate(tmp_path, 0.001, 5)
    con = compare.duckdb_connection(str(tmp_path))
    try:
        got = con.execute(
            "SELECT user_id, COUNT(*) AS n, ROUND(AVG(value), 6) AS v "
            "FROM events GROUP BY user_id").df()
    finally:
        con.close()
    same = got.sample(frac=1.0, random_state=1)  # row order does not matter
    assert compare.canonical_rows(same) == compare.canonical_rows(got)
    bad = got.copy()
    bad.loc[bad.index[0], "n"] += 1
    assert compare.canonical_rows(bad) != compare.canonical_rows(got)


def test_batch_compare_reports_each_kind_of_corruption():
    pytest.importorskip("kafkastreamsproject_spark.testing.compare")
    import pandas as pd

    import batch

    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert batch.compare(want.iloc[::-1], want) is None  # row order does not matter
    assert "row count" in batch.compare(want.iloc[:2], want)
    assert "columns" in batch.compare(want.rename(columns={"v": "w"}), want)
    wrong = want.copy()
    wrong.loc[1, "v"] = 9.0
    assert "mismatch" in batch.compare(wrong, want)

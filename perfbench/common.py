"""Shared measurement helpers: percentiles, memory sampling, spans, the
Spark event-log parser and the micro-batch progress arithmetic.

Nothing here imports Spark, so the unit tests under ``perfbench/tests``
exercise every rule without a JVM.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import threading
import time
from pathlib import Path

#: a tail percentile is reported only when at least this many samples
#: lie beyond it
MIN_BEYOND = 10


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank ``q``
    percentile (ties aside)."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(values: list[float], q: float) -> float:
    """The ``q`` percentile, refusing a sample too small to support it:
    at least :data:`MIN_BEYOND` samples must lie beyond it."""
    beyond = samples_beyond(len(values), q)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {len(values)} samples leaves {beyond} beyond it;"
            f" at least {MIN_BEYOND} are required"
        )
    return percentile(values, q)


def tail_mean(values: list[float], share: float) -> float:
    """Mean of the slowest ``share`` of a non-empty sample (at least one
    value): a tail figure that every value in the tail moves."""
    if not values:
        raise ValueError("tail mean of an empty sample")
    k = max(1, math.ceil(share * len(values)))
    return statistics.fmean(sorted(values)[-k:])


def median(values: list[float], default: float = 0.0) -> float:
    return statistics.median(values) if values else default


# ---------------------------------------------------------------------------
# peak memory of the process tree
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    task_dir = Path(f"/proc/{pid}/task")
    try:
        tids = [t.name for t in task_dir.iterdir()]
    except OSError:
        return kids
    for tid in tids:
        try:
            text = (task_dir / tid / "children").read_text()
        except OSError:
            continue
        kids.extend(int(c) for c in text.split())
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Summed resident memory of ``root`` and every descendant, in MB."""
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_kb(pid)
        stack.extend(_children(pid))
    return total / 1024.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, summed
    over CPUs (``steal`` in ``/proc/stat``): a validity check on a shared
    host, not a property of the program."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class RssSampler:
    """Samples the summed RSS of this process's tree (driver, JVM, Python
    workers, generator) from ``/proc`` on a background thread and keeps
    the peak."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Spans:
    """In-memory span log: (id, parent, layer, name, start, end) in epoch
    seconds, written out once when the benchmark ends."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.records)
        self.records.append({"id": sid, "parent": parent, "layer": layer,
                             "name": name, "start": start, "end": end, **attrs})
        return sid

    def span(self, layer: str, name: str, parent: int | None = None, **attrs):
        return _SpanCtx(self, layer, name, parent, attrs)

    def write(self, path: Path) -> None:
        with open(path, "w") as fh:
            for r in self.records:
                fh.write(json.dumps(r) + "\n")


class _SpanCtx:
    def __init__(self, spans: Spans, layer: str, name: str, parent, attrs) -> None:
        self._spans, self._layer, self._name = spans, layer, name
        self._parent, self._attrs = parent, attrs
        self.id: int | None = None
        self.seconds = 0.0

    def __enter__(self) -> "_SpanCtx":
        # reserve the id now so children opened inside can point at it
        self.id = self._spans.add(self._layer, self._name, time.time(), 0.0,
                                  self._parent, **self._attrs)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self._t0
        rec = self._spans.records[self.id]
        rec["end"] = rec["start"] + self.seconds


# ---------------------------------------------------------------------------
# micro-batch progress
# ---------------------------------------------------------------------------

#: progress phases in the order the micro-batch engine runs them, and the
#: layer each belongs to
PHASES = [
    ("latestOffset", "sources.mockbroker"),
    ("walCommit", "streaming.pipeline"),
    ("getBatch", "sources.mockbroker"),
    ("queryPlanning", "streaming.pipeline"),
    ("addBatch", "streaming.pipeline"),
    ("commitOffsets", "streaming.pipeline"),
]


def progress_start(p: dict) -> float:
    """Epoch seconds at which a batch's trigger started."""
    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


def progress_end(p: dict) -> float:
    return progress_start(p) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def end_offsets(p: dict) -> dict[int, int]:
    """The batch's end offset per partition (the source reports JSON)."""
    raw = p["sources"][0]["endOffset"]
    if isinstance(raw, str):
        raw = json.loads(raw)
    return {int(k): int(v) for k, v in (raw or {}).items()}


def check_batch_ids(progress: list[dict]) -> list[int]:
    """Batch ids missing from a run's progress list (first to last)."""
    ids = sorted({p["batchId"] for p in progress})
    if not ids:
        return []
    have = set(ids)
    return [i for i in range(ids[0], ids[-1] + 1) if i not in have]


def segment_latencies(segments: list[dict], progress: list[dict]) -> list[float]:
    """One latency per generator segment: the time it was due -> end of
    the first micro-batch whose end offset covers the segment's last record.
    A segment no batch covered is a failure and raises."""
    batches = sorted(progress, key=lambda p: p["batchId"])
    covering = [(end_offsets(p), progress_end(p)) for p in batches]
    out = []
    for seg in segments:
        part, last = seg["partition"], seg["end_offset"]
        for offs, end in covering:
            if offs.get(part, 0) >= last:
                out.append(end - seg["due"])
                break
        else:
            raise ValueError(f"segment {seg['name']} was never consumed")
    return out


def phase_spans(spans: Spans, progress: list[dict], parent: int | None) -> float:
    """Add one span per batch (``triggerExecution``) with its progress
    phases laid end to end as children; return the smallest share of a
    batch's ``triggerExecution`` that its phases account for."""
    worst = 1.0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        d = p["durationMs"]
        start, total = progress_start(p), d.get("triggerExecution", 0)
        bid = spans.add("streaming.pipeline", "triggerExecution", start,
                        start + total / 1000.0, parent, batch=p["batchId"])
        t, covered = start, 0
        for phase, layer in PHASES:
            ms = d.get(phase)
            if ms is None:
                continue
            spans.add(layer, phase, t, t + ms / 1000.0, bid, batch=p["batchId"])
            t += ms / 1000.0
            covered += ms
        if total > 0:
            worst = min(worst, covered / total)
    return worst


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def _event_lines(path: Path):
    """Lines of an event log: one file, or a rolling-log directory
    (``eventlog_v2_<app>/events_<n>_<app>``) read in part order."""
    if path.is_dir():
        parts = sorted(path.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    else:
        parts = [path]
    for part in parts:
        with open(part) as fh:
            yield from fh


def parse_event_log(path: Path) -> dict[str, float]:
    """Task totals from a Spark event log (JSON lines): executor CPU
    seconds, GC seconds, shuffle bytes written, and the task-time skew
    (max / median task duration) of the stage with the most tasks."""
    cpu_ns = gc_ms = shuffle = 0
    durations: dict[tuple[int, int], list[float]] = {}
    for line in _event_lines(Path(path)):
        if '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        key = (ev.get("Stage ID", -1), ev.get("Stage Attempt ID", 0))
        took = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        durations.setdefault(key, []).append(float(took))
    skew = 0.0
    if durations:
        widest = max(durations.values(), key=len)
        med = statistics.median(widest)
        skew = max(widest) / med if med > 0 else 1.0
    return {
        "exec.task_cpu_s": cpu_ns / 1e9,
        "exec.gc_s": gc_ms / 1000.0,
        "exec.shuffle_write_bytes": float(shuffle),
        "exec.task_skew": skew,
    }

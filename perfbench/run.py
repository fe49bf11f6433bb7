#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Workloads:

- ``etl_daily``: Topology 1 (per-(station, day) aggregation, update mode)
  over the mock broker: backlog catch-up, then a live open loop;
- ``batch_queries``: closed-loop sweep of 14 registry queries over seeded
  synthetic tables.

End-to-end metrics (every workload reports each):

- ``setup_s``: process start to the first timed operation (session
  start, warm-up, backlog preload, median stream build-and-start), less
  the oracle side of the batch correctness check;
- ``latency_p50_s`` / ``latency_tail_s``: time from input to result.
  Streaming: a segment's due time to the end of the batch that emitted
  its result (p50 and p95, 25 segments a second).  Batch: one query's
  build and full materialization, each query's median over the timed
  passes; the p50 of the 14 queries, and the mean of their slowest
  quarter (a p90 of 14 would be one query alone);
- ``throughput_per_s``: backlog events consumed per second of catch-up
  (streaming), queries completed per second of sweep (batch).

Run from the repository root.  Inputs derive from ``--seed``; scratch
files live under ``.perfbench_out/`` and are removed at exit.  The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``.  ``failed / attempted`` is the error rate (also the
per-layer ``error_rate``); a per-layer metric reads 0 on a workload that
does not exercise its layer.

A traced run measures once untraced, then restarts the session with
Spark's event log on and measures again; per-layer metrics come from
the second measurement, ``trace.overhead_ratio`` is its ``latency_p50_s``
over the first one's (the second runs in a warmer JVM, which biases the
ratio low), and the spans go to ``.perfbench_out/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]

import common  # noqa: E402

WORKLOADS = ["etl_daily", "batch_queries"]


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric units, as ``BENCHMARK.json`` names
    them."""
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Session:
    """Starts (and restarts) the engine's session with the benchmark's
    observability settings."""

    def __init__(self, out: Path) -> None:
        self.out = out
        self.spark = None
        self.event_dir: Path | None = None

    def start(self, traced: bool):
        from kafkastreamsproject_spark.session import get_spark

        conf = {
            # keep every batch's progress, not the last 100
            "spark.sql.streaming.numRecentProgressUpdates": "1000000",
            "spark.ui.showConsoleProgress": "false",
            # no JVM perf-data files; the JVM's temp files in the run directory
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if traced:
            self.event_dir = self.out / "eventlog"
            self.event_dir.mkdir(parents=True, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_dir.resolve().as_uri(),
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, then end its JVM and wait for it.  The JVM exits
        when its stdin closes; PySpark keeps the process on its gateway."""
        from pyspark import SparkContext

        try:
            self.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()

    def event_log(self) -> dict[str, float]:
        logs = list(self.event_dir.iterdir())
        return common.parse_event_log(max(logs, key=lambda p: p.stat().st_mtime))


def run_streaming(args, sess: Session, root: Path, spans: common.Spans,
                  timings: dict) -> dict:
    import streaming

    topo = streaming.Topology(sess.spark, args.seed)
    res = streaming.measure(topo, root / "m0", args.seed, args.seconds, spans)
    timings["session.warmup_s"] = res["warm_s"]
    out = streaming.evaluate(topo, res, timings)
    if args.trace:
        sess.stop()
        spark = sess.start(traced=True)
        topo = streaming.Topology(spark, args.seed)
        res = streaming.measure(topo, root / "m1", args.seed, args.seconds, spans)
        traced = streaming.evaluate(topo, res, timings, traced=True)
        traced["layers"]["trace.phase_coverage_min"] = common.phase_spans(
            spans, streaming.executed(res["progress"]), None)
        out = _merge_traced(out, traced, sess)
    return out


def run_batch(args, sess: Session, root: Path, spans: common.Spans,
              timings: dict) -> dict:
    import batch
    from kafkastreamsproject_spark.plans.registry import all_queries

    spark = sess.spark
    data = batch.prepare(root, args.seed, spans)
    specs = all_queries()
    # the cold checked pass warms the JVM; its oracle side counts in no figure
    with spans.span("session", "warmup") as sp:
        problems, oracle_s = batch.checked_pass(spark, specs, data, spans)
    timings["session.warmup_s"] = sp.seconds - oracle_s
    setup = time.perf_counter() - PROCESS_T0 - oracle_s
    res = batch.measure(spark, specs, data, args.seconds, spans, traced=False)
    out = batch.evaluate(res, setup, problems)
    if args.trace:
        sess.stop()
        spark = sess.start(traced=True)
        batch.run_pass(spark, specs, data, spans, False, "w-traced")
        res = batch.measure(spark, specs, data, args.seconds, spans, traced=True)
        out = _merge_traced(out, batch.evaluate(res, setup, problems), sess)
    return out


def _merge_traced(untraced: dict, traced: dict, sess: Session) -> dict:
    """Per-layer numbers from the traced measurement; end-to-end numbers
    and the overhead ratio against the untraced one."""
    sess.stop()  # flushes the event log
    layers = dict(traced["layers"])
    layers.update(sess.event_log())
    base = untraced["e2e"]["latency_p50_s"]
    layers["trace.overhead_ratio"] = traced["e2e"]["latency_p50_s"] / base if base else 0.0
    return {**untraced, "layers": layers,
            "attempted": untraced["attempted"] + traced["attempted"],
            "failed": untraced["failed"] + traced["failed"],
            "problems": untraced["problems"] + traced["problems"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import kafkastreamsproject_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2
    # local[N] over half the CPUs this process may run on, unless set: the
    # Python driver, its py4j and UDF workers, the generator and the JVM's
    # compiler and GC threads need the rest, and with every CPU given to
    # tasks the figures follow the host's scheduler more than the engine
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) // 2)))
    # Spark's Python workers unpickle the mock-broker source by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    # on SIGTERM, unwind through the finally blocks: stop Spark and the
    # generator, remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = REPO / ".perfbench_out"
    out.mkdir(exist_ok=True)
    root = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=out))
    # keep Spark's and Python's scratch files inside the run directory
    tmp = root / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = None
    spans = common.Spans()
    timings = {"process_t0": PROCESS_T0}
    sess = Session(root)
    steal0 = common.cpu_steal_s()
    try:
        with common.RssSampler() as rss:
            with spans.span("session", "start") as sp:
                sess.start(traced=False)
            timings["session.start_s"] = sp.seconds
            if args.workload == "batch_queries":
                result = run_batch(args, sess, root, spans, timings)
            else:
                result = run_streaming(args, sess, root, spans, timings)
    finally:
        try:
            sess.close()
        finally:
            shutil.rmtree(root, ignore_errors=True)

    e2e = result["e2e"]
    e2e_units, units = metric_units()
    layers = {k: 0.0 for k in units}
    layers.update({k: v for k, v in timings.items() if k in units})
    layers.update(result["layers"])
    layers["error_rate"] = result["failed"] / max(result["attempted"], 1)
    layers["host.cpu_steal_s"] = common.cpu_steal_s() - steal0
    layers["process.peak_rss_mb"] = rss.peak_mb
    unknown = (set(layers) - set(units)) | (set(e2e) ^ set(e2e_units))
    if unknown:
        raise KeyError(f"metrics not as BENCHMARK.json lists them: {sorted(unknown)}")
    for p in result["problems"][:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    detail = {"workload": args.workload, "seed": args.seed, "e2e": e2e,
              "layers": layers, "problems": result["problems"]}
    (out / f"last-{args.workload}-{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(detail, indent=1))
    if args.trace:
        spans.write(out / f"spans-{args.workload}-{args.seed}.jsonl")
    shown = layers if args.trace else e2e
    unit = units if args.trace else e2e_units
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": float(v), "unit": unit[k]} for k, v in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

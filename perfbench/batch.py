"""The ``batch_queries`` workload: a closed-loop sweep of registry queries.

One query at a time, each built through its public builder and run to
full materialization with the no-op writer (``count()`` would let
Catalyst prune the output columns).

The first, cold pass is the correctness check: every query is built and
collected by Spark, then compared with its DuckDB oracle through the
helpers of ``kafkastreamsproject_spark.testing.compare``.  Its Spark half
is JVM warm-up and counts in ``setup_s``; its oracle half (DuckDB and the
row canonicalization) counts in no figure.  Timed passes follow until
``--seconds`` have passed, and at least ``MIN_TIMED_PASSES`` of them.

The JIT keeps speeding the sweep up for many passes (the first timed
pass is the slowest), and a shared host slows single passes by 15 % or
more, so every latency figure starts from each query's median over the
timed passes: one slow pass in three moves none of them.
"""

from __future__ import annotations

import time
from pathlib import Path

import common
import tables

#: the query set of the repository's ``bench.py`` (``BENCH_QUERIES``)
QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "daily_agg",
    "enrich_join",
    "windowed_counts",
    "anomaly_detect",
    "sessionization",
    "top3_orders_per_customer",
    "dedup_exact_keep_first",
    "minhash_lsh_pairs",
    "ann_topk_cosine",
    "time_rollup",
    "stratified_sample",
]
#: table scale factor: the size the repository's oracle gate runs at.  A
#: sweep is dominated by per-query fixed costs at this size, and larger
#: tables would not fit the run budget with their oracle check
SCALE = 0.01
#: at least this many timed passes: a median of three passes per query
MIN_TIMED_PASSES = 3
#: the batch tail latency is the mean of this slowest share of the queries
TAIL_SHARE = 0.25


def compare(got, want) -> str | None:
    """How a collected result differs from its oracle's, or ``None``:
    row count, column names, then the canonical rows of
    ``testing.compare`` (sorted, so row order does not matter)."""
    from kafkastreamsproject_spark.testing.compare import canonical_rows

    if len(got) != len(want):
        return f"row count {len(got)} (spark) != {len(want)} (oracle)"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    got_rows, want_rows = canonical_rows(got), canonical_rows(want)
    if got_rows != want_rows:
        diffs = [(g, w) for g, w in zip(got_rows, want_rows) if g != w][:3]
        return f"value mismatch; first diffs (spark vs oracle): {diffs}"
    return None


def checked_pass(spark, specs, data: Path, spans: common.Spans) -> tuple[list[str], float]:
    """Run every query once, collected, against its DuckDB oracle.
    Returns the failures and the seconds spent on the oracle side."""
    from kafkastreamsproject_spark.testing.compare import duckdb_connection

    bad, oracle_s = [], 0.0
    con = duckdb_connection(str(data))
    try:
        for name in QUERIES:
            spec = specs[name]
            try:
                with spans.span("plans", "collect", query=name):
                    got = spec.spark(spark, str(data)).toPandas()
                with spans.span("plans", "oracle_check", query=name) as check:
                    diff = compare(got, con.execute(spec.oracle).df())
                oracle_s += check.seconds
            except Exception as exc:  # a failed query counts, the sweep goes on
                diff = f"{type(exc).__name__}: {str(exc)[:300]}"
            if diff is not None:
                bad.append(f"{name}: {diff}")
    finally:
        con.close()
    return bad, oracle_s


def run_pass(spark, specs, data: Path, spans: common.Spans, traced: bool,
             tag: str) -> dict[str, tuple[float, float, int, int]]:
    """One sweep; per query (build_s, exec_s, stages, tasks)."""
    sc = spark.sparkContext
    out = {}
    for name in QUERIES:
        group = f"{tag}:{name}"
        if traced:
            sc.setJobGroup(group, name)
        with spans.span("plans", "query", query=name, sweep=tag) as sp:
            with spans.span("plans", "build", parent=sp.id, query=name) as b:
                df = specs[name].spark(spark, str(data))
            with spans.span("plans", "execute", parent=sp.id, query=name) as x:
                df.write.format("noop").mode("overwrite").save()
        stages = tasks = 0
        if traced:
            st = sc.statusTracker()
            for jid in st.getJobIdsForGroup(group):
                job = st.getJobInfo(jid)
                for sid in job.stageIds if job else []:
                    info = st.getStageInfo(sid)
                    if info is not None:
                        stages += 1
                        tasks += info.numTasks
        out[name] = (b.seconds, x.seconds, stages, tasks)
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def prepare(root: Path, seed: int, spans: common.Spans) -> Path:
    data = root / "tables"
    with spans.span("sources.testdata", "generate"):
        tables.generate(data, SCALE, seed)
    return data


def measure(spark, specs, data: Path, seconds: int, spans: common.Spans,
            traced: bool) -> dict:
    """Timed closed-loop passes for at least ``seconds`` and at least
    ``MIN_TIMED_PASSES``."""
    passes, sweeps = [], []
    t0 = time.perf_counter()
    while len(passes) < MIN_TIMED_PASSES or time.perf_counter() - t0 < seconds:
        with spans.span("plans", "sweep") as sp:
            passes.append(run_pass(spark, specs, data, spans, traced, f"t{len(passes)}"))
        sweeps.append(sp.seconds)
    return {"passes": passes, "sweeps": sweeps}


def evaluate(res: dict, setup_s: float, problems: list[str]) -> dict:
    per_query = {name: [p[name] for p in res["passes"]] for name in QUERIES}
    lats = [common.median([b + x for b, x, _, _ in runs]) for runs in per_query.values()]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": common.median(lats),
        # the slowest 4 of 14 queries; a p90 would be one query alone
        "latency_tail_s": common.tail_mean(lats, TAIL_SHARE),
        "throughput_per_s": len(QUERIES) / common.median(res["sweeps"]),
    }
    layers = {"latency.samples": float(len(QUERIES) * len(res["passes"]))}
    build_tot = exec_tot = 0.0
    for name, runs in per_query.items():
        b = common.median([r[0] for r in runs])
        x = common.median([r[1] for r in runs])
        layers[f"plans.{name}.build_s"] = b
        layers[f"plans.{name}.exec_s"] = x
        layers[f"plans.{name}.stages"] = float(runs[-1][2])
        layers[f"plans.{name}.tasks"] = float(runs[-1][3])
        build_tot += b
        exec_tot += x
    layers["plans.build_s_total"] = build_tot
    layers["plans.exec_s_total"] = exec_tot
    attempted = len(QUERIES) * (1 + len(res["passes"]))
    return {"e2e": e2e, "layers": layers, "attempted": attempted,
            "failed": len(problems), "problems": problems}

"""Seeded synthetic copies of the engine's testdata tables.

Same table names, columns, types and value domains as the TPC-H-like
star schema plus ``events``/``documents``/``embeddings`` that the batch
queries read (see ``kafkastreamsproject_spark/schemas.py``), generated
with NumPy and written as one parquet file per table, so the benchmark
needs no data outside its checkout.

The shape follows the statistics of the repository's sf0.001, sf0.01
and sf0.1 fixture tables (read with DuckDB from their parquet files):

- rows per unit scale factor: customer 150k, supplier 10k, part 200k,
  orders 1.5M, lineitem 6M, events 1M; ``documents`` is
  ``max(500, 50k x sf)`` and ``embeddings`` ``max(500, 20k x sf)``
  (500 / 500 at sf0.01, 5,000 / 2,000 at sf0.1);
- ``events.user_id`` is uniform over ``customer rows / 10`` users (150 at
  sf0.01, about 67 events each); ``value`` is exponential with mean 50
  (median 34.6); ``ts`` uniform over January 2024 with microseconds;
- ``documents.text``: 10 to 99 words drawn uniformly from a 30-word
  vocabulary (mean 54 words, 298 characters); 5 % of the documents are
  another document's text plus the word ``dup`` (near duplicates), so
  exact duplicates appear only when two copy one text (none at sf0.01,
  8 pairs at sf0.1);
- ``embeddings``: isotropic unit vectors of 64 float32s (no cluster
  structure: a label's centroid has norm about 1/sqrt(label size)) with
  labels uniform over 0-9;
- ``part.p_name``: 8 adjectives x 8 nouns; order, line-item and price
  domains uniform as in TPC-H (line items pick their order uniformly,
  1-13 per order).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the data spark query table row column key value join merge sort "
         "hash scan filter group agg order part line customer batch stream "
         "window big small fast slow vector").split()
NEAR_DUP_SHARE = 0.05

#: rows per table at scale factor 1
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
             "documents": 50_000, "embeddings": 20_000}
#: the fixtures keep at least this many documents and embeddings
MIN_TEXT_ROWS = 500
EMBED_DIM = 64
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, origin, span: int, n: int) -> pa.Array:
    us = origin + (rng.integers(0, span, n) * _DAY_US).astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def generate(out: Path, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out``; return the row counts."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n = {t: max(10, int(rows * sf)) for t, rows in BASE_ROWS.items()}
    for t in ("documents", "embeddings"):
        n[t] = max(MIN_TEXT_ROWS, n[t])

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
        "o_orderdate": _days(rng, _EPOCH_1995, 2405, o),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2499, li)})
    e = n["events"]
    ts = _EPOCH_2024 + rng.integers(0, 30 * _DAY_US, e).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, c // 10), e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    d = n["documents"]
    vocab = np.asarray(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
             for _ in range(d)]
    for i in rng.choice(d, int(round(d * NEAR_DUP_SHARE)), replace=False):
        j = (int(i) + int(rng.integers(1, d))) % d  # any other document
        texts[i] = texts[j] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, d),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    vecs = rng.normal(0.0, 1.0, (m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"region": 5, "nation": 25, **n}

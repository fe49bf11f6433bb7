"""The synthetic batch tables keep the fixture statistics ``tables.py``
records."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import tables


def test_tables_match_the_fixture_shape(tmp_path: Path):
    rows = tables.generate(tmp_path, 0.01, 7)
    assert rows == {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
                    "part": 2000, "orders": 15000, "lineitem": 60000,
                    "events": 10000, "documents": 500, "embeddings": 500}
    read = lambda t: pq.read_table(tmp_path / f"{t}.parquet").to_pydict()  # noqa: E731

    events = read("events")
    assert sorted(set(events["user_id"])) == list(range(150))
    assert 45 < np.median(events["value"]) / np.log(2) < 55  # exponential, mean 50

    texts = read("documents")["text"]
    near = [t for t in texts if t.endswith(" dup")]
    assert len(near) == 25
    # a copied text may itself be replaced later; most originals remain
    assert sum(t[:-4] in texts for t in near) >= 20
    words = {w for t in texts for w in t.split()}
    assert len(words) == 31
    plain = [len(t.split()) for t in texts if "dup" not in t]
    assert min(plain) >= 10 and max(plain) <= 99

    emb = read("embeddings")
    vecs = np.asarray(emb["embedding"], dtype=np.float64)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
    labels = np.asarray(emb["label"])
    assert set(labels) == set(range(10))
    # no cluster structure: each label's centroid is as short as noise
    for k in range(10):
        size = (labels == k).sum()
        assert np.linalg.norm(vecs[labels == k].mean(0)) < 3 / np.sqrt(size)

    assert len(set(read("part")["p_name"])) == 64

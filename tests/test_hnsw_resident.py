"""Single-query HNSW search on the segment graphs held in driver memory
(``HNSWIndex.search``) against the batch operator (``knn_join_hnsw``):
with fixed seeds and a beam narrower than a segment, both walk the same
graphs from the same rounded query, so the hits and their scores are
identical — across metrics, inline filters, a deleted-then-re-appended
key and the int8 / PQ storage tiers. The resident copy must also never
outlive a mutation, including after ``compact`` resets the generation."""

from __future__ import annotations

import sys
import threading

import numpy as np
import pytest

from valkey_search_spark.operators.hnsw import HNSWIndex, knn_join_hnsw

DIM = 16
K, EF = 5, 8          # a real beam: segments hold ~100 rows


def _rows(seed=3, n=300):
    rng = np.random.RandomState(seed)
    centres = rng.randn(6, DIM) * 4
    return [(i, [float(x) for x in centres[i % 6] + rng.randn(DIM)],
             int(i % 10)) for i in range(n)]


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")


def _queries(seed=11, n=4):
    rng = np.random.RandomState(seed)
    return [[float(x) for x in rng.randn(DIM) * 3] for _ in range(n)]


def _same_as_join(spark, idx, where=None):
    """Every query's resident hits equal its knn_join_hnsw hits."""
    qs = _queries()
    qdf = spark.createDataFrame([(i, q) for i, q in enumerate(qs)],
                                "qid bigint, embedding array<float>")
    joined = knn_join_hnsw(qdf, idx, k=K, ef=EF, where=where).collect()
    for i, q in enumerate(qs):
        want = [(r["vec_id"], r["distance"]) for r in
                sorted((r for r in joined if r["qid"] == i),
                       key=lambda r: r["rank"])]
        got = [(r["vec_id"], r["__score"])
               for r in idx.search(q, k=K, ef=EF, where=where)]
        assert want and got == want


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_resident_hits_equal_knn_join(spark, tmp_path, metric):
    idx = HNSWIndex.build(_frame(spark, _rows()), str(tmp_path / "idx"),
                          metric=metric, m=6, ef_construction=24,
                          n_segments=3, payload_cols=("label",))
    _same_as_join(spark, idx)
    _same_as_join(spark, idx, where="label < 4")


def test_resident_hits_after_delete_and_reappend(spark, tmp_path):
    rows = _rows()
    idx = HNSWIndex.build(_frame(spark, rows), str(tmp_path / "idx"),
                          m=6, ef_construction=24, n_segments=3,
                          payload_cols=("label",))
    top = [r["vec_id"] for r in idx.search(_queries()[0], k=K, ef=EF)]
    idx.delete(top[:3])
    _same_as_join(spark, idx)
    # the first deleted key comes back, at the query itself
    idx.append(_frame(spark, [(top[0], _queries()[0], 1)]))
    _same_as_join(spark, idx)
    _same_as_join(spark, idx, where="label = 1")
    assert idx.search(_queries()[0], k=1, ef=EF)[0]["vec_id"] == top[0]


@pytest.mark.parametrize("tier", [{"quantize": True}, {"pq_m": 4}])
def test_resident_hits_equal_knn_join_storage_tiers(spark, tmp_path, tier):
    idx = HNSWIndex.build(_frame(spark, _rows()), str(tmp_path / "idx"),
                          m=6, ef_construction=24, n_segments=3,
                          payload_cols=("label",), **tier)
    _same_as_join(spark, idx)
    _same_as_join(spark, idx, where="label >= 5")


def test_resident_copy_never_outlives_a_mutation(spark, tmp_path):
    rows = _rows(n=120)
    idx = HNSWIndex.build(_frame(spark, rows), str(tmp_path / "idx"),
                          m=6, ef_construction=24, n_segments=2)
    q = _queries()[0]

    def keys(k=200):
        return {r["vec_id"] for r in idx.search(q, k=k, ef=10 ** 6)}

    live = set(range(120))
    assert keys() == live
    idx.delete([1, 2])
    live -= {1, 2}
    assert keys() == live
    idx.append(_frame(spark, [(500, q, 0)]))
    live |= {500}
    assert keys() == live
    assert idx.search(q, k=1, ef=EF)[0]["vec_id"] == 500
    idx.compact(max_segment_rows=60)
    assert idx.gen == 0
    idx.delete([500, 3])                 # generation 1 again, new files
    live -= {500, 3}
    assert keys() == live
    # compact and delete again: the generation matches the one searched
    # just above, but the files do not
    idx.compact(max_segment_rows=60)
    idx.delete([4])
    live -= {4}
    assert keys() == live

    # readers search while a writer deletes: none fails, and each sees
    # a state between the first and the last delete
    victims = [10, 11, 12, 13]
    errors, seen = [], []

    def reader():
        try:
            for _ in range(4):
                seen.append(keys())
        except Exception as e:           # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for v in victims:
            idx.delete([v])
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors and len(seen) == 16
    assert all(live - set(victims) <= s <= live for s in seen)
    assert keys() == live - set(victims)

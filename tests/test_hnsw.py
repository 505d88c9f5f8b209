"""HNSW segment-graph tier (operators/hnsw.py).

Oracles: numpy brute force and DuckDB-style exact scans. The key
property pinned here is the one the driver row relies on: with
ef >= segment rows and connected level-0 graphs, search is EXACT
(degenerates to an exhaustive walk), so full-explore results are
byte-comparable to brute force — including under inline filters and
tombstoned deletes (reference semantics:
/root/reference/src/indexes/vector_hnsw.cc filtered search + soft
deletes)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from valkey_search_spark.operators.hnsw import (
    HNSWIndex, knn_join_hnsw, _build_graph, _search_graph)

from .conftest import load


# ---------------------------------------------------------------------------
# numpy kernel
# ---------------------------------------------------------------------------

def _bfs_connected(nbrs):
    seen, stack = {0}, [0]
    while stack:
        c = stack.pop()
        for j in nbrs[c][0]:
            if j not in seen:
                seen.add(j)
                stack.append(j)
    return len(seen) == len(nbrs)


@pytest.fixture(scope="module")
def graph800():
    rng = np.random.RandomState(7)
    # clustered data — the hard case for connectivity
    centers = rng.randn(8, 24) * 4
    vecs = np.vstack([centers[i % 8] + rng.randn(1, 24)
                      for i in range(800)])
    built = _build_graph(vecs, m=8, ef_c=60, seed=3, metric="l2")
    return vecs, built


def test_degree_caps_and_levels(graph800):
    vecs, (levels, nbrs, entry, top) = graph800
    assert all(len(n[0]) <= 16 for n in nbrs)              # M0 = 2M
    assert all(all(len(lv) <= 8 for lv in n[1:]) for n in nbrs)
    assert all(len(nbrs[i]) == levels[i] + 1 for i in range(len(nbrs)))
    assert levels[entry] == top
    # every link target participates at that level (pruning may leave
    # one-directional edges — standard HNSW, hnswlib does the same)
    for i, n in enumerate(nbrs):
        for lev, lst in enumerate(n):
            for j in lst:
                assert levels[j] >= lev and j != i


def test_level0_connected_on_clusters(graph800):
    _, (_, nbrs, _, _) = graph800
    assert _bfs_connected(nbrs)


def test_full_explore_is_exact(graph800):
    vecs, (levels, nbrs, entry, top) = graph800
    rng = np.random.RandomState(11)
    for _ in range(10):
        q = rng.randn(24)
        hits = _search_graph(vecs, levels, nbrs, entry, top, q,
                             10, len(vecs), "l2")
        d = ((vecs - q) ** 2).sum(1)
        exact = sorted(zip(d.tolist(), range(len(vecs))))[:10]
        assert [n for _, n in hits] == [n for _, n in exact]


def test_recall_at_moderate_ef(graph800):
    vecs, (levels, nbrs, entry, top) = graph800
    rng = np.random.RandomState(13)
    hit = 0
    for _ in range(50):
        q = rng.randn(24)
        got = {n for _, n in _search_graph(
            vecs, levels, nbrs, entry, top, q, 10, 50, "l2")}
        exact = set(np.argsort(((vecs - q) ** 2).sum(1))[:10].tolist())
        hit += len(got & exact)
    assert hit / 500 >= 0.9


def test_inline_filter_traverses_past_blocked_nodes(graph800):
    """A sparse allowed-mask must still find ITS exact top-k under full
    explore: traversal is unfiltered, only collection is filtered."""
    vecs, (levels, nbrs, entry, top) = graph800
    rng = np.random.RandomState(17)
    allowed = rng.random_sample(len(vecs)) < 0.05           # ~40 nodes
    q = rng.randn(24)
    hits = _search_graph(vecs, levels, nbrs, entry, top, q,
                         5, len(vecs), "l2", allowed=allowed)
    d = ((vecs - q) ** 2).sum(1)
    exact = [i for i in np.argsort(d) if allowed[i]][:5]
    assert [n for _, n in hits] == exact


def test_single_node_and_empty():
    v = np.array([[1.0, 2.0]])
    levels, nbrs, entry, top = _build_graph(v, 4, 10, 0, "l2")
    assert _search_graph(v, levels, nbrs, entry, top,
                         np.array([0.0, 0.0]), 3, 10, "l2") \
        == [(5.0, 0)]
    levels, nbrs, entry, top = _build_graph(
        np.zeros((0, 2)), 4, 10, 0, "l2")
    assert entry == -1


# ---------------------------------------------------------------------------
# Spark index
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def hindex(spark, sf_dir, tmp_path_factory):
    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path_factory.mktemp("hnsw") / "idx")
    idx = HNSWIndex.build(emb, path, metric="l2", m=8, ef_construction=60,
                          max_segment_rows=60, payload_cols=("label",))
    return idx, emb


def _brute(emb_rows, qvec, k, pred=lambda r: True):
    q = np.asarray(qvec, dtype=np.float64)
    scored = []
    for r in emb_rows:
        if r["embedding"] is None or not pred(r):
            continue
        v = np.asarray(r["embedding"], dtype=np.float64)
        scored.append((float(np.sqrt(((v - q) ** 2).sum())), r["vec_id"]))
    return sorted(scored)[:k]


def test_full_explore_matches_brute_force(hindex):
    idx, emb = hindex
    rows = emb.collect()
    qvec = [float(x) for x in rows[3]["embedding"]]
    got = [(round(r["__score"], 9), r["vec_id"])
           for r in idx.search(qvec, k=7, ef=10 ** 6)]
    want = [(round(d, 9), v) for d, v in _brute(rows, qvec, 7)]
    assert got == want


def test_inline_filter_full_explore_exact(hindex):
    idx, emb = hindex
    rows = emb.collect()
    qvec = [float(x) for x in rows[5]["embedding"]]
    got = [(round(r["__score"], 9), r["vec_id"])
           for r in idx.search(qvec, k=5, ef=10 ** 6,
                               where="label between 3 and 5")]
    want = [(round(d, 9), v) for d, v in
            _brute(rows, qvec, 5, lambda r: 3 <= r["label"] <= 5)]
    assert got == want


def test_knn_join_full_explore_matches_brute(hindex):
    idx, emb = hindex
    rows = emb.collect()
    queries = (emb.where(F.col("vec_id") < 20)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    res = knn_join_hnsw(queries, idx, k=3, ef=10 ** 6)
    got = {(r["qid"], r["rank"]): r["vec_id"] for r in res.collect()}
    for qr in rows:
        if qr["vec_id"] >= 20:
            continue
        want = _brute(rows, qr["embedding"], 3)
        for rank, (_, vid) in enumerate(want, 1):
            assert got[(qr["vec_id"], rank)] == vid


def test_knn_join_recall_at_moderate_ef(hindex):
    idx, emb = hindex
    queries = (emb.where(F.col("vec_id") < 40)
               .select(F.col("vec_id").alias("qid"), "embedding"))
    approx = knn_join_hnsw(queries, idx, k=5, ef=48)
    exact = knn_join_hnsw(queries, idx, k=5, ef=10 ** 6)
    a = {(r["qid"], r["vec_id"]) for r in approx.collect()}
    e = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.85


def test_load_round_trip(hindex, spark):
    idx, emb = hindex
    re = HNSWIndex.load(spark, idx.path)
    assert (re.metric, re.m, re.n_segments, re.key_col,
            re.payload_cols) == \
        (idx.metric, idx.m, idx.n_segments, idx.key_col,
         idx.payload_cols)
    qvec = [float(x) for x in emb.first()["embedding"]]
    a = idx.search(qvec, k=4, ef=10 ** 6)
    b = re.search(qvec, k=4, ef=10 ** 6)
    assert sorted((r["vec_id"], round(r["__score"], 9)) for r in a) == \
        sorted((r["vec_id"], round(r["__score"], 9)) for r in b)


def test_cosine_ip_metrics(spark, sf_dir, tmp_path):
    emb = load(spark, sf_dir, "embeddings")
    rows = emb.collect()
    qvec = [float(x) for x in rows[2]["embedding"]]
    qn = np.asarray(qvec) / np.linalg.norm(qvec)
    for metric in ("cosine", "ip"):
        idx = HNSWIndex.build(emb, str(tmp_path / f"h_{metric}"),
                              metric=metric, m=8, ef_construction=60,
                              max_segment_rows=120)
        got = [(r["vec_id"], round(r["__score"], 6))
               for r in idx.search(qvec, k=5, ef=10 ** 6)]
        scored = []
        for r in rows:
            v = np.asarray(r["embedding"], dtype=np.float64)
            if metric == "cosine":
                n = np.linalg.norm(v)
                if n == 0:
                    continue
                d = 1.0 - float((v / n) @ qn)
            else:
                d = 1.0 - float(v @ np.asarray(qvec))
            scored.append((d, r["vec_id"]))
        want = [(v, round(d, 6)) for d, v in sorted(
            (round(d, 12), v) for d, v in scored)[:5]]
        assert got == want


# ---------------------------------------------------------------------------
# mutations
# ---------------------------------------------------------------------------

def test_append_delete_compact(spark, tmp_path):
    rng = np.random.RandomState(5)

    def mk(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in rng.randn(8)]) for i in ids],
            "vec_id: long, embedding: array<float>")

    base = mk(range(100))
    idx = HNSWIndex.build(base, str(tmp_path / "hmut"), metric="l2",
                          m=6, ef_construction=40, max_segment_rows=50)
    qvec = [0.0] * 8

    def top(k=100):
        return {r["vec_id"] for r in idx.search(qvec, k=k, ef=10 ** 6)}

    assert top() == set(range(100))
    idx.delete([3, 4, 5])
    assert top() == set(range(100)) - {3, 4, 5}
    idx.append(mk(range(100, 120)))
    assert top(200) == (set(range(120)) - {3, 4, 5})
    # re-append a deleted key: later generation wins
    idx.append(mk([4]))
    assert 4 in top(200)
    segs_before = idx.n_segments
    idx.compact(max_segment_rows=50)
    assert idx.n_segments <= segs_before
    assert top(200) == (set(range(120)) - {3, 5})
    # exactness after the full mutation cycle
    reload = HNSWIndex.load(spark, idx.path)
    assert {r["vec_id"] for r in
            reload.search(qvec, k=200, ef=10 ** 6)} == \
        (set(range(120)) - {3, 5})


def test_delete_writes_tombstones_in_stored_key_type(spark, tmp_path):
    """A list delete (Python ints infer bigint) and a DataFrame delete
    over an int-keyed index must both write the STORED physical key
    type, or later reads fail on mixed parquet column types."""
    import glob

    import pyarrow.parquet as pq

    rng = np.random.RandomState(11)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(200)],
        "vec_id: int, embedding: array<float>")
    idx = HNSWIndex.build(df, str(tmp_path / "h"), m=6, ef_construction=40,
                          max_segment_rows=100)
    idx.delete([1, 2])
    idx.delete(df.where(F.col("vec_id").isin(3, 4)).select("vec_id"))

    def key_type(path):
        return pq.read_schema(path).field("vec_id").type

    stored = key_type(glob.glob(f"{idx.path}/__seg=*/*.parquet")[0])
    tombs = glob.glob(f"{idx._tomb_path()}/*.parquet")
    assert tombs and {key_type(p) for p in tombs} == {stored}
    assert idx.scan_raw().count() == 200 - 4


def test_append_writes_rows_in_stored_key_type(spark, tmp_path):
    """A bigint-keyed batch appended into an int-keyed index must be
    written in the STORED key type: a bigint file beside int files fails
    every later read of the dataset."""
    import glob

    import pyarrow.parquet as pq

    rng = np.random.RandomState(12)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(100)],
        "vec_id: int, embedding: array<float>")
    idx = HNSWIndex.build(base, str(tmp_path / "h"), m=6, ef_construction=40,
                          max_segment_rows=100)
    extra = [float(x) for x in rng.randn(8)]
    idx.append(spark.createDataFrame([(1000, extra)],
                                     "vec_id: bigint, embedding: array<float>"))

    types = {pq.read_schema(p).field("vec_id").type
             for p in glob.glob(f"{idx.path}/__seg=*/*.parquet")}
    assert len(types) == 1
    assert idx.scan_raw().count() == 101
    top = idx.search(extra, k=1, ef=200)[0]
    assert top["vec_id"] == 1000 and top["__score"] < 1e-6


def test_deterministic_rebuild(spark, sf_dir, tmp_path):
    emb = load(spark, sf_dir, "embeddings").repartition(7)
    a = HNSWIndex.build(emb, str(tmp_path / "a"), m=8,
                        ef_construction=50, max_segment_rows=80)
    b = HNSWIndex.build(emb.repartition(3), str(tmp_path / "b"), m=8,
                        ef_construction=50, max_segment_rows=80)
    ga = spark.read.parquet(a.path).orderBy("__seg", "__node").collect()
    gb = spark.read.parquet(b.path).orderBy("__seg", "__node").collect()
    assert [(r["__seg"], r["__node"], r["vec_id"], r["__level"],
             r["__nbrs"]) for r in ga] == \
        [(r["__seg"], r["__node"], r["vec_id"], r["__level"],
          r["__nbrs"]) for r in gb]


def test_quantized_tier_recall_and_round_trip(spark, sf_dir, tmp_path):
    """int8 storage: graph built on full-precision floats, vectors
    stored quantized (~4x fewer scan bytes), distances computed on the
    dequantized values — same contract as IVF's quantize=True tier."""
    emb = load(spark, sf_dir, "embeddings")
    fidx = HNSWIndex.build(emb, str(tmp_path / "f"), m=8,
                           ef_construction=60, max_segment_rows=120)
    qidx = HNSWIndex.build(emb, str(tmp_path / "q"), m=8,
                           ef_construction=60, max_segment_rows=120,
                           quantize=True)
    assert qidx.quantized
    # storage actually shrank (vector column dominates)
    import os

    def pbytes(p):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(p) for f in fs
                   if f.endswith(".parquet"))
    assert pbytes(qidx.path) < 0.75 * pbytes(fidx.path)

    qvec = [float(x) for x in emb.first()["embedding"]]
    exact = [r["vec_id"] for r in
             fidx.search(qvec, k=10, ef=10 ** 6)]
    quant = [r["vec_id"] for r in
             qidx.search(qvec, k=10, ef=10 ** 6)]
    assert len(set(exact) & set(quant)) >= 9   # int8 error can swap a tail
    # scan_raw dequantizes to float arrays
    row = qidx.scan_raw().first()
    assert isinstance(row["embedding"][0], float)
    # load() restores the tier; delete works through the same path
    re = HNSWIndex.load(spark, qidx.path)
    assert re.quantized
    re.delete([quant[0]])
    after = [r["vec_id"] for r in re.search(qvec, k=10, ef=10 ** 6)]
    assert quant[0] not in after


def test_result_heap_ties_keep_smallest_keys(spark, tmp_path):
    """Duplicate vectors tied exactly at the k boundary: the kept set
    must be the smallest keys (distance asc, key asc) — the eviction
    order of the bounded result heap, and what the brute-force oracle
    returns."""
    rows = [(int(i), [1.0, 1.0]) for i in range(5)]          # 5-way tie
    rows += [(int(100 + i), [50.0 + i, 50.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    idx = HNSWIndex.build(df, str(tmp_path / "ties"), m=4,
                          ef_construction=20, max_segment_rows=100)
    got = [r["vec_id"] for r in idx.search([0.0, 0.0], k=3, ef=10 ** 6)]
    assert got == [0, 1, 2]


def test_every_node_reachable_across_seeds():
    """Build-time reachability repair: heuristic pruning may orphan a
    node (out-edges only); the repair pass guarantees directed BFS from
    the entry reaches every node, which the full-explore==exact
    contract depends on."""
    for seed in range(6):
        rng = np.random.RandomState(seed)
        centers = rng.randn(6, 8) * 6
        vecs = np.vstack([centers[i % 6] + 0.05 * rng.randn(8)
                          for i in range(300)])
        levels, nbrs, entry, top = _build_graph(vecs, m=4, ef_c=20,
                                                seed=seed, metric="l2")
        seen, stack = {entry}, [entry]
        while stack:
            c = stack.pop()
            for j in nbrs[c][0]:
                if j not in seen:
                    seen.add(j)
                    stack.append(j)
        assert len(seen) == len(vecs), f"seed {seed}: orphaned nodes"


def test_full_explore_exactness_property():
    """Property: for ANY small vector set (random, clustered, or with
    duplicates) and both metrics, full-explore beam == brute force,
    including the (distance, node) tiebreak — the contract the
    knn_hnsw driver row stands on, fuzzed beyond the fixed fixtures."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=20, deadline=None)
    @given(st.integers(1, 120), st.integers(2, 6), st.integers(0, 10 ** 6),
           st.sampled_from(["l2", "ip"]), st.booleans())
    def check(n, dim, seed, metric, with_dups):
        rng = np.random.RandomState(seed)
        vecs = rng.randn(n, dim)
        if with_dups and n >= 4:
            vecs[n // 2] = vecs[0]             # exact duplicates
            vecs[n // 2 + 1] = vecs[1]
        levels, nbrs, entry, top = _build_graph(vecs, m=4, ef_c=16,
                                                seed=seed, metric=metric)
        q = rng.randn(dim)
        k = min(5, n)
        sq = (vecs * vecs).sum(axis=1) if metric == "l2" else None
        got = [nn for _, nn in _search_graph(
            vecs, levels, nbrs, entry, top, q, k, n + 10, metric, sq=sq)]
        if metric == "l2":
            d = ((vecs - q) ** 2).sum(1)
        else:
            # the CANONICAL elementwise form, matching _search_graph's
            # exact re-emission. `vecs @ q` is NOT row-deterministic:
            # BLAS GEMV summation order varies with matrix shape, so
            # two bit-identical duplicate rows can score 1 ulp apart
            # and flip the (distance, node) tiebreak — the r11
            # falsifying example (n=6, seed=0, ip, dups) had the
            # MATMUL oracle itself ranking the duplicate pair
            # inconsistently. (v*q).sum(1) pairwise-sums per row, so
            # identical rows always tie exactly.
            d = 1.0 - (vecs * q).sum(axis=1)
        want = [nn for _, nn in sorted(zip(d.tolist(), range(n)))[:k]]
        assert got == want, (n, dim, seed, metric, with_dups)

    check()

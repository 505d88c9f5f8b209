"""HNSW PQ storage tier (operators/hnsw.py pq_m): graph built on
floats, storage = m code bytes per vector, JVM reconstruction on read.
Approximate by design — pins are recall bounds, reconstruction error,
frozen-codebook mutations and tier composition, not exactness."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from valkey_search_spark.operators.hnsw import HNSWIndex, knn_join_hnsw


def _clustered(spark, n_clusters=8, per=40, dim=16, seed=2):
    rng = np.random.RandomState(seed)
    rows = []
    for c in range(n_clusters):
        center = np.zeros(dim)
        center[c % dim] = 60.0 * (1 + c // dim)
        for i in range(per):
            rows.append((c * per + i,
                         [float(x) for x in center + rng.randn(dim)]))
    return spark.createDataFrame(rows,
                                 "vec_id bigint, embedding array<float>")


@pytest.fixture(scope="module")
def pq_idx(spark, tmp_path_factory):
    df = _clustered(spark)
    path = str(tmp_path_factory.mktemp("hnsw_pq") / "idx")
    idx = HNSWIndex.build(df, path, metric="l2", m=8, ef_construction=48,
                          max_segment_rows=10_000, n_segments=4, pq_m=8)
    return df, idx


def test_recall_vs_float_index(spark, pq_idx, tmp_path):
    df, idx = pq_idx
    fidx = HNSWIndex.build(df, str(tmp_path / "f"), metric="l2", m=8,
                           ef_construction=48, max_segment_rows=10_000,
                           n_segments=4)
    q = df.where(F.col("vec_id") < 40) \
          .select(F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join_hnsw(q, fidx, k=10, ef=10**6).select("qid", "vec_id")
    approx = knn_join_hnsw(q, idx, k=10, ef=10**6).select("qid", "vec_id")
    n = exact.count()
    hits = approx.join(exact, ["qid", "vec_id"]).count()
    assert n == 400
    assert hits / n >= 0.8          # separated blobs, PQ-coarse inside


def test_scan_raw_reconstructs(spark, pq_idx):
    df, idx = pq_idx
    rec = {r["vec_id"]: np.asarray(r["embedding"])
           for r in idx.scan_raw().collect()}
    src = {r["vec_id"]: np.asarray(r["embedding"]) for r in df.collect()}
    assert rec.keys() == src.keys()
    err = np.mean([np.linalg.norm(rec[k] - src[k]) /
                   max(np.linalg.norm(src[k]), 1e-9) for k in src])
    assert err < 0.25               # lossy, but recognizably the vector
    # and the artifact really stores code BYTES, not floats
    raw = spark.read.parquet(idx.path)
    field = dict(zip(raw.schema.names, raw.schema.fields))["embedding"]
    assert "tinyint" in field.dataType.simpleString()


def test_persistence_roundtrip(spark, pq_idx):
    df, idx = pq_idx
    loaded = HNSWIndex.load(spark, idx.path)
    assert loaded.pq is not None and loaded.pq.m == idx.pq.m
    q = df.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
    a = sorted(map(tuple, knn_join_hnsw(q, idx, k=3, ef=64)
                   .select("qid", "vec_id", "rank").collect()))
    b = sorted(map(tuple, knn_join_hnsw(q, loaded, k=3, ef=64)
                   .select("qid", "vec_id", "rank").collect()))
    assert a == b


def test_append_uses_frozen_codebook_and_compact_keeps_it(spark,
                                                          tmp_path):
    df = _clustered(spark, n_clusters=4, per=30)
    idx = HNSWIndex.build(df, str(tmp_path / "mut"), metric="l2", m=6,
                          ef_construction=32, max_segment_rows=10_000,
                          n_segments=2, pq_m=8)
    cb_before = idx.pq.centroids.copy()
    add = df.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding")
    idx.append(add)
    qv = [float(x) for x in df.first()["embedding"]]
    q = spark.createDataFrame([(0, qv)], "qid long, embedding array<float>")
    got = {r["vec_id"] for r in
           knn_join_hnsw(q, idx, k=2, ef=10**6).collect()}
    assert 9000 in got or 0 in got   # appended twin of vec 0 competes
    idx.compact()
    assert np.array_equal(idx.pq.centroids, cb_before)
    loaded = HNSWIndex.load(spark, idx.path)
    assert np.array_equal(loaded.pq.centroids, cb_before)
    got2 = {r["vec_id"] for r in
            knn_join_hnsw(q, loaded, k=2, ef=10**6).collect()}
    assert got2 == got


def test_pq_composes_with_routing(spark, tmp_path):
    df = _clustered(spark, n_clusters=4, per=30)
    idx = HNSWIndex.build(df, str(tmp_path / "pr"), metric="l2", m=6,
                          ef_construction=32, max_segment_rows=10_000,
                          n_segments=4, pq_m=8, partitioner="kmeans")
    q = df.where(F.col("vec_id") < 8) \
          .select(F.col("vec_id").alias("qid"), "embedding")
    full = knn_join_hnsw(q, idx, k=4, ef=10**6)
    routed = knn_join_hnsw(q, idx, k=4, ef=10**6,
                           route_segments=len(idx.seg_map))
    a = sorted(map(tuple, full.select("qid", "vec_id", "rank").collect()))
    b = sorted(map(tuple, routed.select("qid", "vec_id", "rank").collect()))
    assert a == b and len(a) == 32


def test_validation(spark, tmp_path):
    df = _clustered(spark, n_clusters=2, per=10)
    with pytest.raises(ValueError, match="mutually exclusive"):
        HNSWIndex.build(df, str(tmp_path / "x"), quantize=True, pq_m=8)
    with pytest.raises(ValueError, match="divisible"):
        HNSWIndex.build(df, str(tmp_path / "y"), pq_m=5)  # dim 16 % 5


def test_engine_builds_pq_graph_artifact(spark, tmp_path):
    from valkey_search_spark import SearchEngine, VectorField

    df = _clustered(spark, n_clusters=3, per=20)
    e = SearchEngine(spark)
    e.ft_create("pqv", df, [VectorField("embedding", dim=16,
                                        metric="l2")],
                key_column="vec_id")
    e.ft_build_ann("pqv", "embedding", str(tmp_path / "art"),
                   algorithm="hnsw", pq_m=8, m=6, ef_construction=32,
                   n_segments=2, max_segment_rows=10_000)
    qv = [float(x) for x in df.first()["embedding"]]
    rows = e.ft_search("pqv",
                       "*=>[KNN 3 @embedding $v EF_RUNTIME 1000000 AS d]",
                       params={"v": qv}, limit=(0, 3)).collect()
    assert len(rows) == 3
    info = e.catalog.info("pqv")
    ann = next(a for a in info["attributes"]
               if a["attribute"] == "embedding")["index"]["ann"]
    assert ann["storage"] == "pq_graph"


def test_opq_tier_roundtrips_and_persists(spark, tmp_path):
    # correlated data is where OPQ's rotation earns its keep; here we
    # pin plumbing: rotation persists, reconstruction stays bounded,
    # search works end to end
    rng = np.random.RandomState(7)
    base = rng.randn(100, 4) @ rng.randn(4, 16)       # rank-4 correlation
    rows = [(i, [float(x) for x in base[i] * 10]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    idx = HNSWIndex.build(df, str(tmp_path / "opq"), metric="l2", m=6,
                          ef_construction=32, max_segment_rows=10_000,
                          n_segments=2, pq_m=8, pq_opq_iters=4)
    assert idx.pq.rotation is not None
    loaded = HNSWIndex.load(spark, idx.path)
    assert np.allclose(loaded.pq.rotation, idx.pq.rotation)
    q = df.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
    hits = knn_join_hnsw(q, loaded, k=3, ef=10**6)
    by_q = {r["qid"]: r["vec_id"] for r in hits.where("rank = 1").collect()}
    assert len(by_q) == 2          # self usually wins; rank-1 exists
    with pytest.raises(ValueError, match="requires pq_m"):
        HNSWIndex.build(df, str(tmp_path / "bad"), pq_opq_iters=2)


def test_pq_with_inline_filter_payload(spark, tmp_path):
    # payload columns ride next to PQ codes; the in-traversal filter
    # masks results while the beam still walks the whole graph
    df = _clustered(spark, n_clusters=3, per=20).withColumn(
        "grp", (F.col("vec_id") % 2).cast("int"))
    idx = HNSWIndex.build(df, str(tmp_path / "pf"), metric="l2", m=6,
                          ef_construction=32, max_segment_rows=10_000,
                          n_segments=2, pq_m=8, payload_cols=("grp",))
    q = df.limit(1).select(F.col("vec_id").alias("qid"), "embedding")
    hits = knn_join_hnsw(q, idx, k=5, ef=10**6, where="grp = 1").collect()
    assert len(hits) == 5
    assert all(r["vec_id"] % 2 == 1 for r in hits)

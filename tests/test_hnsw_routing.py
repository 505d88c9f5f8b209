"""HNSW segment routing (partitioner="kmeans" + route_segments).

The routing contract: segments become spatially coherent KMeans
clusters with persisted centroids; a routed search prunes each query to
its r nearest clusters plus every non-routable (appended) segment. With
r >= the cluster count, or route_segments=None, results are IDENTICAL
to the unrouted search — so the full-explore exactness contract is
untouched. Oracles: brute-force DuckDB / the unrouted join itself.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from valkey_search_spark.operators.hnsw import HNSWIndex, knn_join_hnsw

from .conftest import load


def _clustered_df(spark, n_clusters=6, per=40, dim=8, seed=7):
    """Well-separated gaussian blobs: cluster c sits at 100*e_c, jitter
    sigma=1 — routing to the nearest centroid is unambiguous."""
    rng = np.random.RandomState(seed)
    rows = []
    for c in range(n_clusters):
        center = np.zeros(dim)
        center[c % dim] = 100.0 * (1 + c // dim)
        for i in range(per):
            v = center + rng.randn(dim)
            rows.append((c * per + i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


@pytest.fixture(scope="module")
def kidx(spark, tmp_path_factory):
    df = _clustered_df(spark)
    path = str(tmp_path_factory.mktemp("hnsw_route") / "idx")
    return df, HNSWIndex.build(df, path, metric="l2", m=8,
                               ef_construction=48, n_segments=6,
                               partitioner="kmeans",
                               max_segment_rows=10_000)


def _exact(df, qids, k):
    rows = df.collect()
    mat = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in rows}
    out = set()
    for qid in qids:
        q = mat[qid]
        ds = sorted((float(np.sqrt(((v - q) ** 2).sum())), kk)
                    for kk, v in mat.items())
        for d, kk in ds[:k]:
            out.add((qid, kk))
    return out


def test_routed_r1_exact_on_separated_clusters(spark, kidx):
    df, idx = kidx
    qids = [0, 45, 130, 201]
    q = df.where(F.col("vec_id").isin(qids)) \
          .select(F.col("vec_id").alias("qid"), "embedding")
    res = knn_join_hnsw(q, idx, k=5, ef=10**6, route_segments=1)
    got = {(r["qid"], r["vec_id"]) for r in res.collect()}
    assert got == _exact(df, qids, 5)


def test_route_all_clusters_equals_unrouted(spark, kidx):
    df, idx = kidx
    q = df.where(F.col("vec_id") < 30) \
          .select(F.col("vec_id").alias("qid"), "embedding")
    full = knn_join_hnsw(q, idx, k=4, ef=64)
    routed = knn_join_hnsw(q, idx, k=4, ef=64,
                           route_segments=len(idx.seg_map))
    a = sorted((r["qid"], r["vec_id"], round(r["distance"], 9), r["rank"])
               for r in full.collect())
    b = sorted((r["qid"], r["vec_id"], round(r["distance"], 9), r["rank"])
               for r in routed.collect())
    assert a == b


def test_routed_graph_scan_is_partition_pruned(spark, kidx):
    df, idx = kidx
    q = df.where(F.col("vec_id") == 0) \
          .select(F.col("vec_id").alias("qid"), "embedding")
    res = knn_join_hnsw(q, idx, k=3, ef=64, route_segments=1)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the graph-side parquet scan must carry the __seg partition filter
    assert "__seg" in plan and ("PartitionFilters: [" in plan)
    seg_rows = res.count()
    assert seg_rows == 3


def test_routed_hybrid_inline_filter(spark, tmp_path):
    # routing composes with an inline payload filter: r=1 returns the
    # same filtered hits as the unrouted full explore, all matching
    df = _clustered_df(spark, n_clusters=4, per=30).withColumn(
        "grp", F.concat(F.lit("c"),
                        F.floor(F.col("vec_id") / 30).cast("string")))
    idx = HNSWIndex.build(df, str(tmp_path / "pf"), metric="l2", m=8,
                          ef_construction=40, n_segments=4,
                          partitioner="kmeans", max_segment_rows=10_000,
                          payload_cols=("grp",))
    q = df.where(F.col("vec_id") == 35) \
          .select(F.col("vec_id").alias("qid"), "embedding")
    routed = knn_join_hnsw(q, idx, k=3, ef=10**6, route_segments=1,
                           where="grp = 'c1'")
    full = knn_join_hnsw(q, idx, k=3, ef=10**6, where="grp = 'c1'")
    got = sorted(r["vec_id"] for r in routed.collect())
    assert got == sorted(r["vec_id"] for r in full.collect())
    assert len(got) == 3 and all(v // 30 == 1 for v in got)


def test_hash_index_rejects_routing(spark, tmp_path):
    df = _clustered_df(spark, n_clusters=2, per=20)
    idx = HNSWIndex.build(df, str(tmp_path / "h"), metric="l2", m=4,
                          ef_construction=24, n_segments=2)
    with pytest.raises(ValueError, match="kmeans-partitioned"):
        knn_join_hnsw(df.select(F.col("vec_id").alias("qid"), "embedding"),
                      idx, k=2, route_segments=1)
    # unrouted still fine
    assert knn_join_hnsw(
        df.limit(1).select(F.col("vec_id").alias("qid"), "embedding"),
        idx, k=2).count() == 2


def test_appended_segments_always_probed(spark, kidx, tmp_path):
    # append a NEW far-away cluster; routed search from inside it must
    # still find it even though its segment has no centroid
    df, _ = kidx
    path = str(tmp_path / "app")
    idx = HNSWIndex.build(df, path, metric="l2", m=8, ef_construction=48,
                          n_segments=6, partitioner="kmeans",
                          max_segment_rows=10_000)
    far = [(9000 + i, [float(500.0 + j + i) for j in range(8)])
           for i in range(10)]
    add = spark.createDataFrame(far, "vec_id bigint, embedding array<float>")
    idx.append(add)
    assert idx.routable_segments() != set(range(idx.n_segments))
    q = add.where(F.col("vec_id") == 9000) \
           .select(F.col("vec_id").alias("qid"), "embedding")
    res = knn_join_hnsw(q, idx, k=3, ef=10**6, route_segments=1)
    got = [r["vec_id"] for r in res.orderBy("rank").collect()]
    assert got[0] == 9000 and set(got) <= {9000 + i for i in range(10)}


def test_compact_restores_routability(spark, kidx, tmp_path):
    df, _ = kidx
    path = str(tmp_path / "cmp")
    idx = HNSWIndex.build(df, path, metric="l2", m=8, ef_construction=48,
                          n_segments=6, partitioner="kmeans",
                          max_segment_rows=10_000)
    add = spark.createDataFrame(
        [(9000, [500.0] * 8)], "vec_id bigint, embedding array<float>")
    idx.append(add)
    assert len(idx.routable_segments()) < idx.n_segments
    idx.compact(max_segment_rows=10_000)
    assert idx.partitioner == "kmeans"
    assert idx.routable_segments() == set(range(idx.n_segments))
    # the appended row survived and routes correctly
    q = add.select(F.col("vec_id").alias("qid"), "embedding")
    res = knn_join_hnsw(q, idx, k=1, ef=10**6, route_segments=1)
    assert [r["vec_id"] for r in res.collect()] == [9000]


def test_meta_roundtrip_preserves_routing_state(spark, kidx):
    _, idx = kidx
    loaded = HNSWIndex.load(spark, idx.path)
    assert loaded.partitioner == "kmeans"
    assert loaded.seg_map == idx.seg_map
    assert np.allclose(loaded.centroids, idx.centroids)


def test_oversized_cluster_splits_and_stays_exact(spark, tmp_path):
    # one hot cluster (120 rows) over a 50-row cap -> hash-split into
    # sub-segments sharing the centroid; full-explore routed search with
    # r covering that centroid stays exact
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(6)]) for i in range(120)]
    rows += [(1000 + i, [float(50 + x) for x in rng.randn(6)])
             for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    idx = HNSWIndex.build(df, str(tmp_path / "split"), metric="l2", m=6,
                          ef_construction=32, n_segments=2,
                          partitioner="kmeans", max_segment_rows=50)
    assert any(len(ids) > 1 for ids in idx.seg_map)
    assert idx.n_segments > 2
    qids = [0, 7, 1000]
    q = df.where(F.col("vec_id").isin(qids)) \
          .select(F.col("vec_id").alias("qid"), "embedding")
    res = knn_join_hnsw(q, idx, k=4, ef=10**6, route_segments=1)
    got = {(r["qid"], r["vec_id"]) for r in res.collect()}
    assert got == _exact(df, qids, 4)


def test_cosine_routing(spark, tmp_path):
    # two angular clusters; cosine routing must pick the right one
    rng = np.random.RandomState(11)
    rows = []
    for i in range(30):
        rows.append((i, [float(10 + rng.randn()), float(rng.randn() * .1),
                         0.0, 0.0]))
        rows.append((100 + i, [0.0, 0.0, float(10 + rng.randn()),
                               float(rng.randn() * .1)]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    idx = HNSWIndex.build(df, str(tmp_path / "cos"), metric="cosine", m=6,
                          ef_construction=32, n_segments=2,
                          partitioner="kmeans", max_segment_rows=10_000)
    q = df.where(F.col("vec_id") == 100) \
          .select(F.col("vec_id").alias("qid"), "embedding")
    res = knn_join_hnsw(q, idx, k=5, ef=10**6, route_segments=1)
    got = [r["vec_id"] for r in res.orderBy("rank").collect()]
    assert got[0] == 100 and all(v >= 100 for v in got)


def test_realdata_routed_recall(spark, sf_dir, tmp_path):
    # real embeddings (not synthetic blobs): routed recall@10 vs the
    # unrouted full-explore join must clear 0.9 at r=half the clusters
    emb = load(spark, sf_dir, "embeddings")
    idx = HNSWIndex.build(emb, str(tmp_path / "real"), metric="l2", m=8,
                          ef_construction=48, n_segments=8,
                          partitioner="kmeans", max_segment_rows=10**6)
    q = emb.where(F.col("vec_id") < 40) \
           .select(F.col("vec_id").alias("qid"), "embedding")
    exact = knn_join_hnsw(q, idx, k=10, ef=10**6).select("qid", "vec_id")
    routed = knn_join_hnsw(q, idx, k=10, ef=10**6,
                           route_segments=4).select("qid", "vec_id")
    n = exact.count()
    hits = routed.join(exact, ["qid", "vec_id"]).count()
    assert n == 40 * 10
    assert hits / n >= 0.9


def test_quantized_kmeans_routing(spark, tmp_path):
    # int8 storage + kmeans partitioning compose: centroids come from
    # the pre-quantize floats, search dequantizes in the pruned scan.
    # int8 rounding (step ~0.8 at |v|~100) legitimately reorders
    # within-blob near-ties, so the pin is the routing CONTRACT — the
    # routed r=1 full-explore equals the unrouted full-explore on the
    # same quantized index, and every hit is from the query's own blob
    df = _clustered_df(spark, n_clusters=4, per=30)
    idx = HNSWIndex.build(df, str(tmp_path / "qk"), metric="l2", m=6,
                          ef_construction=32, n_segments=4,
                          partitioner="kmeans", quantize=True,
                          max_segment_rows=10_000)
    assert idx.quantized and idx.partitioner == "kmeans"
    qids = [0, 35, 70, 105]
    q = df.where(F.col("vec_id").isin(qids)) \
          .select(F.col("vec_id").alias("qid"), "embedding")
    res = knn_join_hnsw(q, idx, k=5, ef=10**6, route_segments=1)
    base = knn_join_hnsw(q, idx, k=5, ef=10**6)
    a = sorted((r["qid"], r["vec_id"], r["rank"]) for r in res.collect())
    b = sorted((r["qid"], r["vec_id"], r["rank"]) for r in base.collect())
    assert a == b and len(a) == 20
    for qid, vid, _ in a:                 # same blob of 30 ids
        assert vid // 30 == qid // 30
    # persistence round-trips the combination
    loaded = HNSWIndex.load(spark, idx.path)
    assert loaded.quantized and loaded.seg_map == idx.seg_map


def test_route_segments_zero_rejected(spark, kidx):
    df, idx = kidx
    q = df.limit(1).select(F.col("vec_id").alias("qid"), "embedding")
    with pytest.raises(ValueError, match="route_segments must be >= 1"):
        knn_join_hnsw(q, idx, k=2, route_segments=0)


def test_routed_with_all_null_queries_returns_empty(spark, kidx):
    _, idx = kidx
    q = spark.createDataFrame([(1, None)],
                              "qid long, embedding array<float>")
    assert knn_join_hnsw(q, idx, k=3, ef=64, route_segments=1) \
        .collect() == []


def test_sample_fraction_survives_meta_and_compact(spark, tmp_path):
    df = _clustered_df(spark, n_clusters=3, per=30)
    idx = HNSWIndex.build(df, str(tmp_path / "sf"), metric="l2", m=6,
                          ef_construction=32, n_segments=3,
                          partitioner="kmeans", max_segment_rows=10_000,
                          sample_fraction=0.9)
    assert HNSWIndex.load(spark, idx.path).sample_fraction == 0.9
    idx.compact(max_segment_rows=10_000)
    assert idx.sample_fraction == 0.9
    assert HNSWIndex.load(spark, idx.path).sample_fraction == 0.9

"""IVF ANN index: build/load, partition-pruned probing, recall vs brute force
(reference ANN surface: /root/reference/src/indexes/vector_hnsw.cc:315-340)."""

import math

import pytest
from pyspark.sql import functions as F

from valkey_search_spark.functions.distance import distance_column
from valkey_search_spark.operators.ann import IVFIndex, recall_at_k

SF = "/root/testdata/sf0.001"
QVEC = [round(math.sin(i + 1), 6) for i in range(64)]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def ivf(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "emb_l2")
    return IVFIndex.build(emb, path, vec_col="embedding", metric="l2",
                          n_lists=8, seed=42)


def _brute(emb, metric, k=10):
    return (emb.withColumn("__score",
                           distance_column("embedding", QVEC, metric))
               .orderBy("__score").limit(k))


def test_full_probe_is_exact(ivf, emb):
    """nprobe = n_lists degrades to exact search: identical top-k set."""
    approx = ivf.search(QVEC, k=10, nprobe=ivf.n_lists)
    assert recall_at_k(approx, _brute(emb, "l2"), "vec_id", 10) == 1.0


def test_partial_probe_recall(ivf, emb):
    """Probing half the lists keeps recall high on clustered data."""
    approx = ivf.search(QVEC, k=10, nprobe=4)
    assert recall_at_k(approx, _brute(emb, "l2"), "vec_id", 10) >= 0.5


def test_partition_pruning_in_plan(ivf):
    plan = ivf.search(QVEC, k=10, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    # the probed-list predicate must reach the scan as a partition filter
    assert "__list" in plan


def test_prefilter_hybrid(ivf):
    out = ivf.search(QVEC, k=5, nprobe=ivf.n_lists,
                     prefilter=F.col("label").between(3, 5))
    rows = out.collect()
    assert len(rows) == 5 and all(3 <= r["label"] <= 5 for r in rows)


def test_load_roundtrip(spark, ivf):
    again = IVFIndex.load(spark, ivf.path)
    assert again.n_lists == ivf.n_lists
    a = [r["vec_id"] for r in again.search(QVEC, k=5, nprobe=2).collect()]
    b = [r["vec_id"] for r in ivf.search(QVEC, k=5, nprobe=2).collect()]
    assert a == b


def test_cosine_metric(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "emb_cos")
    idx = IVFIndex.build(emb, path, vec_col="embedding", metric="cosine",
                         n_lists=4, seed=42)
    approx = idx.search(QVEC, k=10, nprobe=4)
    # normalize ingest side for the brute-force comparison, as ft_create does
    norm = F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0),
                              lambda a, x: a + x.cast("double") * x))
    unit = emb.withColumn("embedding",
                          F.transform(F.col("embedding"),
                                      lambda x: (x / norm).cast("float")))
    assert recall_at_k(approx, _brute(unit, "cosine"), "vec_id", 10) == 1.0


def test_ivf_recall_on_clusterable_data(spark, tmp_path):
    """On data with real cluster structure (a Gaussian mixture), IVF recall
    rises monotonically-ish with nprobe and small probe budgets already
    recover the true neighbors — the positive counterpart of SCALE.md's
    uniform-data caveat."""
    import numpy as np
    from pyspark.sql import Row

    from valkey_search_spark.operators.ann import IVFIndex

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((16, 32)) * 10.0     # well-separated
    rows = []
    for i in range(1600):
        c = centers[i % 16]
        v = c + rng.standard_normal(32)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)
    idx = IVFIndex.build(df, str(tmp_path / "clustered"), "embedding",
                         metric="l2", n_lists=16)

    q = [float(x) for x in centers[3] + 0.1]
    exact_ids = [r["vec_id"] for r in idx.search(q, k=10, nprobe=16).collect()]

    def recall(nprobe):
        got = {r["vec_id"] for r in idx.search(q, k=10, nprobe=nprobe).collect()}
        return len(got & set(exact_ids)) / 10

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r1 >= 0.9     # one probed list already holds the cluster


def test_max_list_rows_bounds_skew(spark, emb, tmp_path):
    """A skew-bounded build hash-splits oversized lists: no physical
    parquet partition exceeds the cap, probing a centroid probes all of
    its sub-lists, full-probe search stays exact, and the split map
    round-trips through load."""
    path = str(tmp_path / "skew")
    # n_lists=2 over 1000 vectors forces ~500-row lists; cap at 150
    idx = IVFIndex.build(emb, path, vec_col="embedding", metric="l2",
                         n_lists=2, seed=42, max_list_rows=150)
    sizes = {r["__list"]: r["n"] for r in
             spark.read.parquet(path).groupBy("__list")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert idx.n_physical_lists > idx.n_lists == 2
    assert len(sizes) == idx.n_physical_lists
    assert max(sizes.values()) <= 150, sizes
    # every physical id appears exactly once across the map
    flat = [p for ids in idx.list_map for p in ids]
    assert sorted(flat) == list(range(idx.n_physical_lists))
    # probing one centroid expands to exactly one centroid's sub-lists
    probe1 = idx._probe_lists(QVEC, 1)
    assert any(set(ids) == set(probe1) for ids in idx.list_map)
    # full probe == exact brute force, unchanged by splitting
    approx = idx.search(QVEC, k=10, nprobe=idx.n_lists)
    assert recall_at_k(approx, _brute(emb, "l2"), "vec_id", 10) == 1.0
    # load round-trip preserves the split map
    again = IVFIndex.load(spark, path)
    assert again.list_map == idx.list_map


def test_max_list_rows_bucketed_join_unchanged(spark, emb, tmp_path):
    """knn_join_bucketed at full AND partial probe returns the same
    rows against a split index as against the unsplit one."""
    from valkey_search_spark.operators.ann import knn_join_bucketed

    base = emb.select(F.col("vec_id").alias("cid"), "embedding")
    plain = IVFIndex.build(base, str(tmp_path / "plain"), "embedding",
                           n_lists=4, seed=42)
    split = IVFIndex.build(base, str(tmp_path / "split"), "embedding",
                           n_lists=4, seed=42, max_list_rows=120)
    assert split.n_physical_lists > 4
    q = emb.limit(25).select(F.col("vec_id").alias("qid"), "embedding")
    for nprobe in (4, 2):
        a = sorted(map(tuple, knn_join_bucketed(
            q, plain, k=3, nprobe=nprobe).collect()))
        b = sorted(map(tuple, knn_join_bucketed(
            q, split, k=3, nprobe=nprobe).collect()))
        assert a == b, nprobe

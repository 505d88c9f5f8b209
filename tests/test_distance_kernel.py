"""The one distance module (functions/distance.py): the numpy kernel and
the SQL expression against sequential float64 numpy, the (distance, key)
top-k cut, the per-pair re-score, the cosine unit rule, and the unknown
metric check that runs before any Spark job."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from valkey_search_spark.functions.distance import (
    canonical, distance_sql, distances, emit, sq_norms, top_k, unit_rows,
    unit_vector_expr,
)

from valkey_search_spark.operators.ann import knn_join

from .test_exact_knn import GOOD, QUERIES, _oracle

METRICS = ["l2", "ip", "cosine"]


def _stored(metric):
    """GOOD as the kernel sees it: float32 storage, cosine rows unit."""
    v = GOOD.astype(np.float64)
    if metric == "cosine":
        v = unit_rows(v).astype(np.float32).astype(np.float64)
    return v


def _query(metric, q):
    q = np.array(q, dtype=np.float64)
    return unit_rows(q) if metric == "cosine" else q


@pytest.mark.parametrize("qname", sorted(QUERIES))
@pytest.mark.parametrize("metric", METRICS)
def test_numpy_kernel_matches_sequential(metric, qname):
    with np.errstate(all="ignore"):
        got = emit(distances(_query(metric, QUERIES[qname]), _stored(metric),
                             metric), metric)
    np.testing.assert_allclose(got, _oracle(metric, QUERIES[qname]),
                               rtol=1e-12, atol=0, equal_nan=True)


@pytest.mark.parametrize("metric", METRICS)
def test_norm_expansion_matches_sequential_on_finite_queries(metric):
    # the l2 expansion ||v||² - 2v·q + ||q||² is inf - inf on an infinite
    # component, so only the finite query takes this form
    raw = [QUERIES["finite"], [0.5, -1.0, 2.0, 0.0, 1e-3, 7.0]]
    qs = np.vstack([_query(metric, q) for q in raw])
    v = _stored(metric)
    got = emit(distances(qs, v, metric, sq_norms(v, metric)), metric)
    for row, q in zip(got, raw):
        np.testing.assert_allclose(row, _oracle(metric, q), rtol=1e-12,
                                   atol=0)


@pytest.mark.parametrize("qname", ["nan", "pinf", "ninf"])
def test_norm_expansion_takes_direct_form_on_non_finite_queries(qname):
    # ||q||² is not finite, so the expansion would be inf - inf: the query
    # takes the direct form, alone or as a row of a query batch
    raw = QUERIES[qname]
    v = _stored("l2")
    want = _oracle("l2", raw)
    with np.errstate(all="ignore"):
        one = emit(distances(np.array(raw), v, "l2", sq_norms(v, "l2")), "l2")
        qs = np.vstack([QUERIES["finite"], raw])
        batch = emit(distances(qs, v, "l2", sq_norms(v, "l2")), "l2")
    np.testing.assert_allclose(one, want, rtol=1e-12, atol=0, equal_nan=True)
    np.testing.assert_allclose(batch[1], want, rtol=1e-12, atol=0,
                               equal_nan=True)
    np.testing.assert_allclose(batch[0], _oracle("l2", QUERIES["finite"]),
                               rtol=1e-12, atol=0)


def test_norm_expansion_scores_non_finite_rows_directly():
    # a stored row whose squared norm is not finite (an infinite or NaN
    # component, or an overflowing norm) would be inf - inf in the
    # expansion: a query vector takes the direct form for the matrix, a
    # query batch scores only that row directly and keeps the expansion
    # (the same values, bit for bit) for the other rows
    v = _stored("l2")
    bad = np.vstack([v, np.full(v.shape[1], np.inf),
                     np.full(v.shape[1], np.nan), np.full(v.shape[1], 1e200)])
    qs = np.vstack([QUERIES["finite"], [0.5, -1.0, 2.0, 0.0, 1e-3, 7.0]])
    with np.errstate(over="ignore"):
        assert sq_norms(bad, "l2") is None
        one = distances(qs[0], bad, "l2", sq_norms(bad, "l2"))
        batch = distances(qs, bad, "l2", sq_norms(bad, "l2"))
    np.testing.assert_array_equal(one[:len(v)], distances(qs[0], v, "l2"))
    np.testing.assert_array_equal(batch[:, :len(v)],
                                  distances(qs, v, "l2", sq_norms(v, "l2")))
    for got in (one, batch):
        assert np.isinf(got[..., len(v)]).all()
        assert np.isnan(got[..., len(v) + 1]).all()
        assert np.isinf(got[..., len(v) + 2]).all()


def test_knn_join_batch_over_a_nan_row(spark):
    # a NaN component survives dropna: the broadcast join scores that row
    # NaN (last) for every query of a batch, and the rest exactly
    rows = [[float(i), 1.0, -1.0] for i in range(6)] + [[np.nan, 0.0, 0.0]]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)], "cid int, embedding array<double>")
    queries = spark.createDataFrame(
        [(j, [j + 0.25, 1.0, -1.0]) for j in range(4)],
        "qid int, embedding array<double>")
    got = {(r["qid"], r["rank"]): (r["cid"], r["distance"])
           for r in knn_join(queries, corpus, k=7, metric="l2",
                             batch_size=4).collect()}
    for j in range(4):
        ranked = [got[(j, rank)] for rank in range(1, 8)]
        # NaN, which pandas hands to Spark as NULL
        assert ranked[-1] == (6, None)
        want = sorted((abs(j + 0.25 - i), i) for i in range(6))
        assert [c for c, _ in ranked[:-1]] == [i for _, i in want]
        np.testing.assert_allclose([d for _, d in ranked[:-1]],
                                   [d for d, _ in want], rtol=1e-12)


@pytest.mark.parametrize("metric", METRICS)
def test_sql_kernel_matches_sequential(spark, metric):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(GOOD)],
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("v", T.ArrayType(T.FloatType()))]))
    if metric == "cosine":
        df = df.withColumn("v", unit_vector_expr(F.col("v")))
    names = sorted(QUERIES)
    rows = df.orderBy("i").select(*[
        F.expr(distance_sql("v", QUERIES[n], metric)).alias(n)
        for n in names]).collect()
    for n in names:
        np.testing.assert_allclose([r[n] for r in rows],
                                   _oracle(metric, QUERIES[n]),
                                   rtol=1e-12, atol=0, equal_nan=True)


@pytest.mark.parametrize("bad", ["L2", "dot", "euclidean"])
def test_unknown_metric_raises(bad):
    q, m = np.ones(3), np.ones((2, 3))
    for call in (lambda: distances(q, m, bad),
                 lambda: canonical(q, m, bad),
                 lambda: distance_sql("v", [1.0, 2.0], bad)):
        with pytest.raises(ValueError, match="unknown metric"):
            call()


def _ref_top_k(d, keys, k):
    order = sorted(range(len(d)), key=lambda j: (math.isnan(d[j]),
                                                 0.0 if math.isnan(d[j])
                                                 else d[j], keys[j]))
    return order[:k]


@pytest.mark.parametrize("n,k", [(6, 4), (40, 3), (40, 50), (0, 3),
                                 (5, 0)])
def test_top_k_order_ties_nan(n, k):
    rng = np.random.default_rng(n * 100 + k)
    keys = rng.permutation(n) * 7
    d = rng.integers(0, 4, size=(5, n)).astype(np.float64)   # many ties
    d[1, rng.random(n) < 0.5] = np.nan
    d[2, :] = np.nan
    d[3, rng.random(n) < 0.3] = -0.0
    got = top_k(d, keys, k)
    assert got.shape == (5, min(k, n))
    for i, row in enumerate(d):
        want = _ref_top_k(row, keys, k)
        assert [keys[j] for j in got[i]] == [keys[j] for j in want]
        np.testing.assert_array_equal(top_k(row, keys, k), got[i])


def test_top_k_boundary_tie_keeps_lowest_keys():
    d = np.array([0.5] * 30 + [0.1] * 2 + [0.9] * 8)
    keys = np.arange(40)[::-1]          # the tied 0.5s carry keys 39..10
    got = top_k(d, keys, 5)
    assert keys[got].tolist() == [8, 9, 10, 11, 12]
    assert d[got].tolist() == [0.1, 0.1, 0.5, 0.5, 0.5]


def test_top_k_string_and_per_cell_keys():
    d = np.array([[1.0, 1.0, 0.0], [2.0, 2.0, 2.0]])
    keys = np.array([["b", "a", "z"], ["c", "a", "b"]], dtype=object)
    assert top_k(d, keys, 2).tolist() == [[2, 1], [1, 2]]


@pytest.mark.parametrize("metric", METRICS)
def test_canonical_is_independent_of_batch_shape(metric):
    rng = np.random.default_rng(11)
    q = rng.normal(size=37)
    rows = rng.normal(size=(64, 37))
    alone = canonical(q, rows[:1], metric)[0]
    for m in (2, 7, 64):
        assert canonical(q, rows[:m], metric)[0] == alone
    qs = np.vstack([rng.normal(size=37), q, rng.normal(size=37)])
    batched = canonical(qs, np.stack([rows[3:9], rows[:6], rows[1:7]]),
                        metric)
    assert batched.shape == (3, 6)
    assert batched[1, 0] == alone


def test_unit_rows_leaves_zero_rows():
    x = np.array([[3.0, 4.0], [0.0, 0.0], [-0.0, 2.0]])
    u = unit_rows(x)
    np.testing.assert_array_equal(u[1], [0.0, 0.0])
    np.testing.assert_allclose(u[[0, 2]], [[0.6, 0.8], [0.0, 1.0]])
    np.testing.assert_array_equal(unit_rows(np.zeros(3)), np.zeros(3))
    np.testing.assert_allclose(unit_rows(np.array([3.0, 4.0])), [0.6, 0.8])


def test_unknown_metric_fails_before_any_spark_job(spark, tmp_path):
    from valkey_search_spark.operators.ann import IVFIndex, knn_join
    from valkey_search_spark.operators.hnsw import HNSWIndex

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>")
    q = vecs.withColumnRenamed("vec_id", "qid")
    c = vecs.withColumnRenamed("vec_id", "cid")
    sc = spark.sparkContext
    calls = {
        "knn_join": lambda: knn_join(q, c, k=3, metric="L2"),
        "ivf": lambda: IVFIndex.build(vecs, str(tmp_path / "ivf"),
                                      metric="dot", n_lists=2),
        "hnsw": lambda: HNSWIndex.build(vecs, str(tmp_path / "hnsw"),
                                        metric="dot"),
    }
    for name, call in calls.items():
        group = f"unknown-metric-{name}"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError, match="unknown metric"):
                call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert not sc.statusTracker().getJobIdsForGroup(group), name

"""Exact KNN semantics: the one-expression distance kernel against
float64 numpy distances, untracked vectors never ranked, and the top-k
cut taken before untracked rows are dropped."""

import math

import numpy as np
import pytest
from pyspark.sql import types as T

from valkey_search_spark import SearchEngine, VectorField

DIM = 6
SUBNORMAL = float(np.float32(1e-45))          # smallest float32 subnormal
QUERIES = {
    "finite": [-0.0, SUBNORMAL, 1e38, 0.5, -2.25, 3.0],
    "nan": [0.5, math.nan, -1.0, 0.25, 2.0, -0.0],
    "pinf": [1.0, -0.5, math.inf, 0.0, 1e38, SUBNORMAL],
    "ninf": [-math.inf, 0.75, -0.0, 2.0, -1.5, 0.125],
}
GOOD = np.random.default_rng(7).normal(size=(8, DIM)).astype(np.float32)
BAD = {"null": None, "short": [1.0, 2.0, 3.0],
       "null_elem": [1.0, None, 0.5, 0.25, -1.0, 2.0]}


@pytest.fixture(scope="module")
def eng(spark):
    rows = [(f"g{i}", [float(x) for x in v]) for i, v in enumerate(GOOD)]
    rows += [(k, v) for k, v in BAD.items()]
    df = spark.createDataFrame(rows, T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("v", T.ArrayType(T.FloatType()))]))
    e = SearchEngine(spark)
    for metric in ("l2", "ip", "cosine"):
        e.ft_create(metric, df, [VectorField("v", dim=DIM, metric=metric)],
                    key_column="id")
    return e


def _seqsum(terms):
    # Spark's aggregate folds left to right from 0.0
    acc = np.float64(0.0)
    for t in terms:
        acc = acc + t
    return acc


def _oracle(metric, q):
    v = GOOD.astype(np.float64)
    q = np.array(q, dtype=np.float64)
    with np.errstate(all="ignore"):
        if metric == "cosine":
            # ingest stores float32(v / ||v||); the query is normalized
            # in float64 unless its norm is not > 0
            v = (v / np.sqrt((v * v).sum(axis=1, keepdims=True))
                 ).astype(np.float32).astype(np.float64)
            n = np.sqrt(_seqsum(q * q))
            q = q / n if n > 0 else q
        if metric == "l2":
            return [float(np.sqrt(_seqsum((r - q) * (r - q)))) for r in v]
        return [float(1.0 - _seqsum(r * q)) for r in v]


@pytest.mark.parametrize("qname", sorted(QUERIES))
@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_distance_matches_numpy(eng, metric, qname):
    q = QUERIES[qname]
    rows = eng.ft_search(metric, "*=>[KNN 20 @v $q]", params={"q": q},
                         limit=(0, 20)).collect()
    # KNN 20 over 8 eligible rows: all 8, and never an untracked vector
    assert sorted(r["__key"] for r in rows) == [f"g{i}" for i in range(8)]
    want = dict(zip((f"g{i}" for i in range(8)), _oracle(metric, q)))
    got = {r["__key"]: r["__v_score"] for r in rows}
    np.testing.assert_allclose([got[k] for k in want], list(want.values()),
                               rtol=1e-12, atol=0, equal_nan=True)
    # ascending distance, NaN after every number, ties broken by key
    order = sorted(want, key=lambda k: (math.isnan(want[k]),
                                        0.0 if math.isnan(want[k])
                                        else want[k], k))
    assert [r["__key"] for r in rows] == order


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_count_only_after_cut(eng, metric):
    q = QUERIES["finite"]
    assert eng.ft_search(metric, "*=>[KNN 20 @v $q]", params={"q": q},
                         count_only=True) == 8
    assert eng.ft_search(metric, "*=>[KNN 3 @v $q]", params={"q": q},
                         count_only=True) == 3


def test_null_element_vector_is_untracked(eng, tmp_path):
    """A vector with a null element is rejected at ingest like a
    wrong-length one, so an ANN build over the index never sees it."""
    eng.ft_create("ivf", eng.catalog.get("l2").doc_df,
                  [VectorField("v", dim=DIM, metric="l2")], key_column="id")
    vecs = {r["__key"]: r["_v_v"]
            for r in eng.catalog.get("ivf").indexed_df().collect()}
    assert all(vecs[k] is None for k in BAD)
    assert all(vecs[f"g{i}"] is not None for i in range(8))
    eng.ft_build_ann("ivf", "v", str(tmp_path / "ivf"), algorithm="ivf",
                     n_lists=2)
    # EF_RUNTIME 40 at k 20 probes both lists
    rows = eng.ft_search("ivf", "*=>[KNN 20 @v $q EF_RUNTIME 40]",
                         params={"q": [float(x) for x in GOOD[0]]},
                         limit=(0, 20)).collect()
    assert sorted(r["__key"] for r in rows) == [f"g{i}" for i in range(8)]


def test_ivf_float_scores_equal_exact_for_cosine(eng, tmp_path):
    """The IVF float tier scores a cosine query through the same SQL
    kernel as the exact scan, which makes the query unit itself, so a
    full probe reports the exact scan's scores bit for bit."""
    eng.ft_create("ivf_cos", eng.catalog.get("cosine").doc_df,
                  [VectorField("v", dim=DIM, metric="cosine")],
                  key_column="id")
    eng.ft_build_ann("ivf_cos", "v", str(tmp_path / "ivf_cos"),
                     algorithm="ivf", n_lists=2)
    from valkey_search_spark.functions.distance import unit_rows

    # queries whose unit vector moves when made unit a second time
    rng = np.random.default_rng(11)
    queries = []
    while len(queries) < 5:
        q = rng.normal(size=DIM).astype(np.float32).astype(np.float64)
        if not np.array_equal(unit_rows(unit_rows(q)), unit_rows(q)):
            queries.append(q.tolist())
    for q in queries:
        exact = {r["__key"]: r["__v_score"] for r in eng.ft_search(
            "cosine", "*=>[KNN 8 @v $q]", params={"q": q}).collect()}
        ivf = {r["__key"]: r["__v_score"] for r in eng.ft_search(
            "ivf_cos", "*=>[KNN 8 @v $q EF_RUNTIME 40]",
            params={"q": q}).collect()}
        assert ivf == exact

"""FT.SEARCH KNN reply semantics through ``CommandDispatcher.execute_reply``,
on the exact FLAT scan and on the HNSW graph with ``EF_RUNTIME`` (a beam
wide enough to explore every node, so both paths return the exact top-k).

The reply's total is the number of top-k hits (at most k, fewer when
fewer vectors match); OFFSET/LIMIT page through those hits in (distance,
key) order, or in SORTBY order when given. Every answer is checked
against a numpy brute force over the same rows."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from valkey_search_spark import (
    CommandDispatcher, NumericField, SearchEngine, TagField, VectorField,
)

DIM = 8
ROWS = 1200
NULL_EVERY = 37          # every 37th row has no vector (untracked)


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    rng = np.random.RandomState(11)
    vecs = rng.randn(ROWS, DIM).astype(np.float32)
    prices = rng.permutation(ROWS).astype(float) / 7.0       # distinct
    rows = [(i, f"c{i % 20}", float(prices[i]),
             None if i % NULL_EVERY == 0 else [float(x) for x in vecs[i]])
            for i in range(ROWS)]
    df = spark.createDataFrame(
        rows, "id bigint, cat string, price double, vec array<float>")
    eng = SearchEngine(spark)
    for name, algo in (("kflat", "flat"), ("khnsw", "hnsw")):
        eng.ft_create(name, df, [
            VectorField("vec", dim=DIM, metric="l2", algo=algo, m=8,
                        ef_construction=40),
            TagField("cat"), NumericField("price")], key_column="id",
            cache=True)
    eng.ft_build_ann("khnsw", "vec", str(tmp_path_factory.mktemp("knnrep")),
                     algorithm="hnsw", max_segment_rows=400)
    q = rng.randn(DIM).astype(np.float32)
    return CommandDispatcher(eng, source=None), rows, q


def _truth(rows, q, k, cat=None):
    """Top-k keys by (l2 distance, key) over the rows with a vector."""
    qd = q.astype(np.float64)
    scored = sorted(
        (float(np.sqrt(((np.asarray(v, dtype=np.float32).astype(np.float64)
                         - qd) ** 2).sum())), i)
        for i, c, _, v in rows
        if v is not None and (cat is None or c == cat))
    return [str(i) for _, i in scored[:k]]


def _query(index, k, pre="*"):
    ef = " EF_RUNTIME 100000" if index == "khnsw" else ""
    return f"{pre}=>[KNN {k} @vec $v{ef}]"


def _search(disp, q, index, k, *extra, pre="*"):
    blob = struct.pack(f"<{DIM}f", *q)
    return disp.execute_reply(["FT.SEARCH", index, _query(index, k, pre),
                               "PARAMS", "2", "v", blob, *extra])


def _keys(reply, nocontent=False):
    return reply[1:] if nocontent else reply[1::2]


INDEXES = ["kflat", "khnsw"]


@pytest.mark.parametrize("index", INDEXES)
@pytest.mark.parametrize("off,num", [(0, 3), (4, 3), (8, 5), (0, 10)])
def test_page_within_k(setup, index, off, num):
    disp, rows, q = setup
    rep = _search(disp, q, index, 10, "LIMIT", str(off), str(num))
    want = _truth(rows, q, 10)
    assert rep[0] == 10
    assert _keys(rep) == want[off:off + num]
    for fv in rep[2::2]:
        d = dict(zip(fv[::2], fv[1::2]))
        assert {"id", "cat", "price", "__vec_score"} <= set(d)


@pytest.mark.parametrize("index", INDEXES)
def test_offset_past_k(setup, index):
    disp, rows, q = setup
    assert _search(disp, q, index, 10, "LIMIT", "12", "5") == [10]
    assert _search(disp, q, index, 10, "LIMIT", "10", "1") == [10]


@pytest.mark.parametrize("index", INDEXES)
def test_nocontent_and_limit_zero(setup, index):
    disp, rows, q = setup
    want = _truth(rows, q, 10)
    rep = _search(disp, q, index, 10, "NOCONTENT", "LIMIT", "0", "5")
    assert rep[0] == 10 and rep[1:] == want[:5]
    assert _search(disp, q, index, 10, "LIMIT", "0", "0") == [10]


@pytest.mark.parametrize("index", INDEXES)
def test_sortby_reorders_the_top_k(setup, index):
    disp, rows, q = setup
    price = {str(i): p for i, _, p, _ in rows}
    top = _truth(rows, q, 10)
    rep = _search(disp, q, index, 10, "SORTBY", "price", "LIMIT", "0", "10")
    assert rep[0] == 10 and _keys(rep) == sorted(top, key=price.get)
    rep = _search(disp, q, index, 10, "SORTBY", "price", "DESC",
                  "LIMIT", "2", "3")
    assert rep[0] == 10
    assert _keys(rep) == sorted(top, key=price.get, reverse=True)[2:5]


@pytest.mark.parametrize("index", INDEXES)
def test_withsortkeys(setup, index):
    disp, rows, q = setup
    price = {str(i): p for i, _, p, _ in rows}
    top = sorted(_truth(rows, q, 10), key=price.get)
    rep = _search(disp, q, index, 10, "SORTBY", "price", "WITHSORTKEYS",
                  "LIMIT", "0", "4")
    assert rep[0] == 10 and _keys(rep) == top[:4]
    for key, fv in zip(rep[1::2], rep[2::2]):
        d = dict(zip(fv[::2], fv[1::2]))
        assert float(d["__sortkey"]) == pytest.approx(price[key])


@pytest.mark.parametrize("index", INDEXES)
def test_null_vectors_are_not_hits(setup, index):
    """A filter matching fewer than k vectors: the total counts only rows
    with a vector, and no null-vector row is returned."""
    disp, rows, q = setup
    want = _truth(rows, q, 100, cat="c0")
    n_c0 = sum(1 for r in rows if r[1] == "c0")
    assert len(want) < n_c0 < 100            # c0 holds null-vector rows
    rep = _search(disp, q, index, 100, "LIMIT", "0", "100",
                  pre="@cat:{c0}")
    assert rep[0] == len(want) and _keys(rep) == want
    rep = _search(disp, q, index, 100, "LIMIT", "3", "4", pre="@cat:{c0}")
    assert rep[0] == len(want) and _keys(rep) == want[3:7]
    rep = _search(disp, q, index, 100, "LIMIT", str(len(want)), "4",
                  pre="@cat:{c0}")
    assert rep == [len(want)]


@pytest.mark.parametrize("index", INDEXES)
def test_large_k_small_page(setup, index):
    disp, rows, q = setup
    rep = _search(disp, q, index, 1000, "LIMIT", "0", "10")
    assert rep[0] == 1000 and len(rep) == 21
    assert _keys(rep) == _truth(rows, q, 10)

"""The hybrid-KNN planner (plans/planner.py): selectivity estimated from
per-index statistics, pre-filter exact vs the ANN path chosen by modelled
cost. The first tests need no Spark (synthetic statistics); the rest show
the statistics are collected once per index version, that planning runs
no Spark job once they are, and that TIMEOUT bounds every job of an op."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from valkey_search_spark import (
    CommandDispatcher, NumericField, SearchEngine, TagField, TextField,
    VectorField,
)
from valkey_search_spark.parser.filter_parser import parse_query
from valkey_search_spark.plans.planner import (
    IndexStats, NumericStats, TagStats, estimate_match_fraction, knn_cost,
)

BUCKETS = 64


def _stats(rows: int) -> IndexStats:
    """``price`` uniform over [0, rows), every row tagged: ``hot`` on half
    of them, the other half spread evenly over 100 more tags."""
    q = [rows * i / BUCKETS for i in range(BUCKETS + 1)]
    return IndexStats(rows, {"price": NumericStats(rows, q)},
                      {"cat": TagStats(top={"hot": rows // 2, "c0": rows // 200},
                                       pairs=rows, distinct=101, fold=True)})


def _frac(query: str, stats: IndexStats):
    return estimate_match_fraction(parse_query(query, None).predicate, stats)


def test_leaf_and_composite_estimates():
    s = _stats(1_000_000)
    assert _frac("*", s) == 1.0
    assert _frac("@price:[0 (400000]", s) == pytest.approx(0.4)
    assert _frac("@price:[(999999 +inf]", s) == pytest.approx(0.0, abs=1e-5)
    assert _frac("@cat:{HOT}", s) == 0.5               # folded, top-k count
    # outside the top k: the rest of the pairs over the rest of the tags
    assert _frac("@cat:{c42}", s) == pytest.approx(495_000 / 99 / 1e6)
    assert _frac("@cat:{hot|c0}", s) == pytest.approx(0.505)
    # AND: the smallest child; OR: the sum capped at the rows; NOT: the rest
    assert _frac("@cat:{hot} @price:[0 (1000]", s) == pytest.approx(0.001)
    assert _frac("@cat:{hot} | @price:[0 (800000]", s) == 1.0
    assert _frac("-@cat:{hot}", s) == 0.5
    # what the statistics cannot say is unknown, through any composite
    for q in ("@cat:{ho*}", "@t:hello", "@nope:[0 1]",
              "@price:[0 1] | @t:hello", "-@t:hello"):
        assert _frac(q, s) is None, q


def _never():
    raise AssertionError("the estimate was asked for below the bound")


def test_cost_chooses_the_graph_only_where_it_is_cheaper():
    big, dim = 10_000_000, 64
    loose = _frac("@price:[0 (4000000]", _stats(big))
    narrow = _frac("@price:[0 (500]", _stats(big))
    for share in (None, 1 / 8):                  # HNSW graph, IVF 1/8 probed
        c = knn_cost(big, dim, share, lambda: loose)
        assert c.ann and c.ann_ms < c.exact_ms
        assert c.estimated_rows == pytest.approx(4_000_000)
        c = knn_cost(big, dim, share, lambda: narrow)
        assert not c.ann and c.exact_ms < c.ann_ms
        # an unknown estimate (a TEXT leaf) always chooses exact
        text = _frac("@t:hello", _stats(big))
        c = knn_cost(big, dim, share, lambda: text)
        assert not c.ann and c.estimated_rows is None and c.exact_ms is None
        # the 20k x 64, 40% shape where inline HNSW measured slower than
        # exact and recall 0.34: past the bound, and exact
        shape = _frac("@price:[0 (8000]", _stats(20_000))
        c = knn_cost(20_000, dim, share, lambda: shape)
        assert not c.ann and c.estimated_rows == pytest.approx(8_000)
        # 8k x 64 (the benchmark's hybrid index): scoring every row costs
        # less than the ANN path, so no estimate is asked for
        c = knn_cost(8_000, dim, share, _never)
        assert not c.ann and c.estimated_rows is None
        assert c.exact_ms <= c.ann_ms


ROWS, DIM = 600, 8


def _frame(spark, seed: int, rows: int = ROWS):
    rng = np.random.RandomState(seed)
    data = [(i, f"c{i % 3}", float(i), f"word{i % 7}",
             [float(x) for x in rng.randn(DIM)]) for i in range(rows)]
    return spark.createDataFrame(
        data, "id bigint, cat string, price double, body string, "
              "vec array<float>")


def _fields():
    return [VectorField("vec", dim=DIM, metric="l2", algo="hnsw", m=8,
                        ef_construction=40),
            TagField("cat"), NumericField("price"), TextField("body")]


def _jobs(sc, group, call):
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# prices scoring 250x dearer than measured, so a 600 x 8 index sits past
# the cost bound as a ~10^5-row one would: the filter's size decides
LARGE_SCORE_MS = 0.025


def test_stats_collected_once_per_index_version(spark, tmp_path, monkeypatch):
    from valkey_search_spark.catalog import IndexSchema
    from valkey_search_spark.plans import planner

    collected = []
    orig = IndexSchema._collect_stats

    def counting(self, view):
        collected.append(self.name)
        return orig(self, view)

    monkeypatch.setattr(IndexSchema, "_collect_stats", counting)
    eng = SearchEngine(spark)
    eng.ft_create("pl", _frame(spark, 1), _fields(), key_column="id",
                  cache=True)
    eng.ft_build_ann("pl", "vec", str(tmp_path / "g1"), algorithm="hnsw")
    q = {"v": [0.1] * DIM}
    hybrid = "@price:[0 299]=>[KNN 5 @vec $v]"
    first = eng.ft_search_reply("pl", hybrid, params=q)
    # below the bound: the index is counted, its statistics not collected
    assert not collected and first[0] == 5
    assert eng.ft_explain("pl", hybrid, params=q)["knn"]["estimated_rows"] is None
    monkeypatch.setattr(planner, "SCORE_MS", LARGE_SCORE_MS)
    assert eng.ft_search_reply("pl", hybrid, params=q) == first
    assert collected == ["pl"]
    sc = spark.sparkContext
    # planning the next hybrid op starts no job at all ...
    ex, jobs = _jobs(sc, "planner-explain",
                     lambda: eng.ft_explain("pl", hybrid, params=q))
    assert jobs == 0 and ex["knn"]["mode"] == "prefilter"
    assert ex["knn"]["estimated_rows"] == pytest.approx(300, rel=0.1)
    # ... so the op is its reply job alone
    reply, jobs = _jobs(sc, "planner-reply",
                        lambda: eng.ft_search_reply("pl", hybrid, params=q))
    assert reply == first and jobs == 1
    assert collected == ["pl"]
    # a re-created index is a new version: it is counted and its
    # statistics collected again, from its own rows
    eng.ft_create("pl", _frame(spark, 2, rows=ROWS + 100), _fields(),
                  key_column="id", cache=True)
    eng.ft_build_ann("pl", "vec", str(tmp_path / "g2"), algorithm="hnsw")
    eng.ft_search_reply("pl", hybrid, params=q)
    assert collected == ["pl", "pl"]
    schema = eng.catalog.get("pl")
    assert schema.row_count() == schema.stats().rows == ROWS + 100


def test_stats_of_empty_tag_fields_and_empty_indexes(spark):
    # a TAG field no row holds a tag in, and an index of no rows, have
    # statistics too (the aggregates over no input are NULL)
    eng = SearchEngine(spark)
    frame = spark.createDataFrame(
        [(i, None, float(i)) for i in range(20)],
        "id bigint, cat string, price double")
    fields = [TagField("cat"), NumericField("price")]
    eng.ft_create("pe", frame, fields, key_column="id")
    eng.ft_create("p0", frame.limit(0), fields, key_column="id")
    s = eng.catalog.get("pe").stats()
    assert s.rows == 20 and s.tags["cat"].top == {}
    assert s.tags["cat"].pairs == s.tags["cat"].distinct == 0
    assert estimate_match_fraction(
        parse_query("@cat:{a}", None).predicate, s) == 0.0
    s = eng.catalog.get("p0").stats()
    assert s.rows == 0 and s.tags["cat"].top == {}
    assert s.numeric["price"] == (0, [])
    assert estimate_match_fraction(
        parse_query("@cat:{a} @price:[0 5]", None).predicate, s) == 0.0


def test_timeout_groups_every_job_of_an_op(spark, tmp_path, monkeypatch):
    """With TIMEOUT set, the planner's row count and statistics (a default
    hybrid op on a new index, priced as a large one) and the graph path's
    resident load and allowed-set jobs (an inline EF_RUNTIME op on a new
    artifact) run in the op's group."""
    from valkey_search_spark.plans import planner

    monkeypatch.setattr(planner, "SCORE_MS", LARGE_SCORE_MS)
    eng = SearchEngine(spark)
    eng.ft_create("pt", _frame(spark, 3), _fields(), key_column="id",
                  cache=True)
    eng.ft_build_ann("pt", "vec", str(tmp_path / "g"), algorithm="hnsw")
    disp = CommandDispatcher(eng, source=None)
    blob = struct.pack(f"<{DIM}f", *([0.25] * DIM))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for knn in ("[KNN 5 @vec $v]", "[KNN 5 @vec $v EF_RUNTIME 40]"):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup(None))
        reply = disp.execute_reply(["FT.SEARCH", "pt", f"@cat:{{c1}}=>{knn}",
                                    "PARAMS", "2", "v", blob,
                                    "TIMEOUT", "600000"])
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert reply[0] == 5
        assert set(tracker.getJobIdsForGroup(None)) == before, knn
    assert eng.catalog.get("pt")._stats is not None

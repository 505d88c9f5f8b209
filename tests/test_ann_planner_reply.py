"""ANN-vs-exact planner chooser in ft_search + RESP reply shapes."""

import math

import pytest
from pyspark.sql import functions as F

from valkey_search_spark import NumericField, SearchEngine, TagField, VectorField
from valkey_search_spark.operators.reply import aggregate_reply, search_reply

SF = "/root/testdata/sf0.001"
QVEC = [round(math.sin(i + 1), 6) for i in range(64)]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    e = SearchEngine(spark)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e.ft_create("emb", emb, [VectorField("embedding", dim=64, metric="l2"),
                             NumericField("label")], key_column="vec_id")
    path = str(tmp_path_factory.mktemp("ann") / "emb")
    e.ft_build_ann("emb", "embedding", path, n_lists=8)
    part = spark.read.parquet(f"{SF}/part.parquet")
    e.ft_create("parts", part, [TagField("p_brand"), NumericField("p_retailprice")],
                key_column="p_partkey")
    return e


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_ann_path_matches_exact_at_full_probe(eng):
    exact = eng.ft_search("emb", "*=>[KNN 10 @embedding $v]",
                          params={"v": QVEC}, limit=(0, 10))
    # EF_RUNTIME 80 at k 10 probes all 8 lists
    ann = eng.ft_search("emb", "*=>[KNN 10 @embedding $v EF_RUNTIME 80]",
                        params={"v": QVEC}, limit=(0, 10))
    assert _ids(ann) == _ids(exact)


def test_hybrid_prefilter_exact_without_nprobe(eng):
    """Hybrid KNN with no EF_RUNTIME takes pre-filter exact."""
    out = eng.ft_search("emb", "@label:[3 5]=>[KNN 5 @embedding $v]",
                        params={"v": QVEC}, limit=(0, 5))
    rows = out.collect()
    assert len(rows) == 5 and all(3 <= r["label"] <= 5 for r in rows)


def test_hybrid_inline_filter_with_nprobe(eng):
    """Hybrid KNN with an EF_RUNTIME probe budget runs the predicate
    inside the probed lists (the reference's inline-filtering branch);
    full probe makes it equal to pre-filter exact."""
    exact = eng.ft_search("emb", "@label:[3 5]=>[KNN 5 @embedding $v]",
                          params={"v": QVEC}, limit=(0, 5))
    inline = eng.ft_search(
        "emb", "@label:[3 5]=>[KNN 5 @embedding $v EF_RUNTIME 40]",
        params={"v": QVEC}, limit=(0, 5))
    assert _ids(inline) == _ids(exact)
    # partial probe: still only matching rows, possibly fewer than k
    part = eng.ft_search(
        "emb", "@label:[3 5]=>[KNN 5 @embedding $v EF_RUNTIME 5]",
        params={"v": QVEC}, limit=(0, 5))
    assert all(3 <= r["label"] <= 5 for r in part.collect())


def test_ann_partial_probe_plan_prunes(eng):
    # EF_RUNTIME 5 at k 5 scans one list only — may return fewer than k
    # (the probed cell can be small); never more, and all scores valid
    df = eng.ft_search("emb", "*=>[KNN 5 @embedding $v EF_RUNTIME 5]",
                       params={"v": QVEC}, limit=(0, 5))
    rows = df.collect()
    assert 1 <= len(rows) <= 5
    assert all(r["__embedding_score"] >= 0 for r in rows)


def test_search_reply_shape(eng):
    df = eng.ft_search("parts", "@p_brand:{Brand#13} @p_retailprice:[905 915]",
                       limit=(0, 2))
    rep = search_reply(df, total=7)
    assert rep[0] == 7
    assert isinstance(rep[1], str)           # key
    assert isinstance(rep[2], list)          # field-value flat list
    fv = dict(zip(rep[2][::2], rep[2][1::2]))
    assert fv["p_brand"] == "Brand#13"


def test_search_reply_nocontent(eng):
    df = eng.ft_search("parts", "@p_brand:{Brand#13}", limit=(0, 3),
                       nocontent=True)
    rep = search_reply(df, nocontent=True)
    assert rep[0] == 3 and all(isinstance(k, str) for k in rep[1:])


def test_aggregate_reply_shape(eng):
    df = eng.ft_aggregate("parts", "*",
                          "GROUPBY 1 @p_brand REDUCE COUNT 0 AS n")
    rep = aggregate_reply(df)
    assert rep[0] == len(rep) - 1
    first = dict(zip(rep[1][::2], rep[1][1::2]))
    assert "p_brand" in first and float(first["n"]) >= 1


def test_search_reply_one_pass_total(eng, spark):
    """ft_search_reply reports the pre-LIMIT total alongside the trimmed
    rows from ONE job (src/query/search.cc:779-842)."""
    # ~871 parts match Brand#1*; trim to 5 rows
    reply = eng.ft_search_reply("parts", "@p_retailprice:[900 910]",
                                limit=(0, 5))
    total, rest = reply[0], reply[1:]
    n_rows = len(rest) // 2
    assert n_rows == 5
    full = eng.ft_search("parts", "@p_retailprice:[900 910]", count_only=True)
    assert total == full and total > 5
    # LIMIT 0 0 -> count-only shape
    assert eng.ft_search_reply("parts", "@p_retailprice:[900 910]",
                               limit=(0, 0)) == [full]


def test_search_reply_total_is_single_job(eng, spark):
    """The pre-LIMIT total comes from the collect job's metrics, not a
    second scan."""
    tracker = spark.sparkContext.statusTracker()
    all_before = len(tracker.getJobIdsForGroup() or [])
    eng.ft_search_reply("parts", "@p_retailprice:[900 910]", limit=(0, 5))
    all_after = len(tracker.getJobIdsForGroup() or [])
    assert all_after - all_before <= 2   # one collect (+ possible AQE job)


def test_ef_runtime_maps_to_nprobe(eng):
    """EF_RUNTIME (the reference's HNSW recall dial) selects the IVF probe
    budget: ef/k lists, clamped."""
    exact = eng.ft_search("emb", "*=>[KNN 10 @embedding $v]",
                          params={"v": QVEC}, limit=(0, 10))
    # ef = 80, k = 10 -> 8 probes == n_lists -> identical to exact
    full = eng.ft_search("emb", "*=>[KNN 10 @embedding $v EF_RUNTIME 80]",
                         params={"v": QVEC}, limit=(0, 10))
    assert _ids(full) == _ids(exact)
    # ef = 10 -> 1 probe: a valid (possibly lossy) subset of the corpus
    one = eng.ft_search("emb", "*=>[KNN 10 @embedding $v EF_RUNTIME 10]",
                        params={"v": QVEC}, limit=(0, 10))
    assert 1 <= len(_ids(one)) <= 10


def test_tag_sortby_uses_folded_value(spark):
    from pyspark.sql import Row
    from valkey_search_spark import SearchEngine, TagField

    df = spark.createDataFrame([Row(k=1, t="BBB"), Row(k=2, t="aaa"),
                                Row(k=3, t="CCC")])
    e = SearchEngine(spark)
    e.ft_create("tagsort", df, [TagField("t")], key_column="k")
    out = [r["k"] for r in e.ft_search("tagsort", "*", sortby="t",
                                       limit=(0, 10)).collect()]
    assert out == [2, 1, 3]      # folded: aaa < bbb < ccc (raw would put BBB/CCC first)


@pytest.fixture(scope="module")
def hnsw_eng(spark, tmp_path_factory):
    """Index whose vector field declares algo=hnsw -> eligible for the
    automatic pre-vs-inline planner."""
    e = SearchEngine(spark)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e.ft_create("emb_auto", emb,
                [VectorField("embedding", dim=64, metric="l2", algo="hnsw"),
                 NumericField("label")], key_column="vec_id")
    e.ft_build_ann("emb_auto", "embedding",
                   str(tmp_path_factory.mktemp("annauto") / "emb"), n_lists=8)
    return e


def test_planner_loose_filter_prefilters_on_small_index(hnsw_eng):
    """A filter matching every document of a small index: the probed
    lists' modelled cost is no lower than scoring the kept rows exactly,
    so the planner stays on the exact pre-filter path (no artifact scan
    in the plan)."""
    df = hnsw_eng.ft_search("emb_auto", "@label:[0 1000]=>[KNN 5 @embedding $v]",
                            params={"v": QVEC}, limit=(0, 5))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__list" not in plan
    assert len(df.collect()) == 5


def test_planner_selective_filter_prefilters(hnsw_eng):
    """A filter matching ~no document stays on the exact pre-filter
    path."""
    df = hnsw_eng.ft_search("emb_auto", "@label:[3 3] @label:[-5 -5]"
                            "=>[KNN 5 @embedding $v]",
                            params={"v": QVEC}, limit=(0, 5))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__list" not in plan             # no artifact scan: exact path


def test_planner_loose_filter_goes_inline_on_large_index(hnsw_eng,
                                                        monkeypatch):
    """Priced as a large index (scoring far dearer than measured), the
    loose filter's exact scan costs more than probing an eighth of the
    lists: the plan reads the IVF artifact. The selective filter still
    prefilters."""
    from valkey_search_spark.plans import planner

    monkeypatch.setattr(planner, "SCORE_MS", 1.0)
    df = hnsw_eng.ft_search("emb_auto", "@label:[0 1000]=>[KNN 5 @embedding $v]",
                            params={"v": QVEC}, limit=(0, 5))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__list" in plan                 # probed partitioned artifact
    assert len(df.collect()) >= 1
    ex = hnsw_eng.ft_explain("emb_auto", "@label:[3 3] @label:[-5 -5]"
                             "=>[KNN 5 @embedding $v]", params={"v": QVEC})
    assert ex["knn"]["mode"] == "prefilter"
    assert ex["knn"]["estimated_rows"] == 0


def test_planner_flat_always_prefilters(eng):
    """algo=flat (the default) never routes through the planner's inline
    branch even with an artifact present (UsePreFiltering kFlat rule)."""
    df = eng.ft_search("emb", "@label:[0 1000]=>[KNN 5 @embedding $v]",
                       params={"v": QVEC}, limit=(0, 5))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__list" not in plan

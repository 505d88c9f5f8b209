"""Engine routing for the segment-graph HNSW artifact:
ft_build_ann(algorithm="hnsw") + the KNN clause's EF_RUNTIME beam
(/root/reference/src/indexes/vector_hnsw.cc ef_runtime;
ft.create.md M / EF_CONSTRUCTION)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from valkey_search_spark import SearchEngine, NumericField
from valkey_search_spark.catalog import VectorField
from valkey_search_spark.errors import QuerySyntaxError

from .conftest import load

QVEC = [round(math.sin(i + 1), 6) for i in range(64)]
# a beam wider than any segment explores every node: exact results
FULL_EXPLORE = "*=>[KNN {k} @embedding $v EF_RUNTIME 1000000 AS dist]"


@pytest.fixture(scope="module")
def eng(spark, sf_dir, tmp_path_factory):
    emb = load(spark, sf_dir, "embeddings")
    e = SearchEngine(spark)
    e.ft_create("hemb", emb, [
        VectorField("embedding", dim=64, metric="l2", algo="hnsw",
                    m=8, ef_construction=60),
        NumericField("label")], key_column="vec_id")
    e.ft_build_ann("hemb", "embedding",
                   str(tmp_path_factory.mktemp("hnsw_art") / "idx"),
                   algorithm="hnsw", max_segment_rows=40)
    return e, emb


def _brute(rows, k, pred=lambda r: True):
    q = np.asarray(QVEC, dtype=np.float64)
    scored = []
    for r in rows:
        if not pred(r):
            continue
        v = np.asarray(r["embedding"], dtype=np.float64)
        scored.append((float(np.sqrt(((v - q) ** 2).sum())), r["vec_id"]))
    return [v for _, v in sorted(scored)[:k]]


def test_matchall_ann_ef_full_explore_exact(eng):
    e, emb = eng
    df = e.ft_search("hemb", FULL_EXPLORE.format(k=5), params={"v": QVEC})
    got = [r["vec_id"] for r in df.orderBy("dist", "vec_id").collect()]
    assert got == _brute(emb.collect(), 5)


def test_ef_runtime_routes_to_graph_beam(eng):
    e, emb = eng
    df = e.ft_search(
        "hemb", "@label:[3 5]=>[KNN 5 @embedding $v EF_RUNTIME 1000000 AS dist]",
        params={"v": QVEC})
    got = [r["vec_id"] for r in df.orderBy("dist", "vec_id").collect()]
    assert got == _brute(emb.collect(), 5, lambda r: 3 <= r["label"] <= 5)
    # inline mode recorded (predicate evaluated in-traversal)
    ex = e.ft_explain(
        "hemb", "@label:[3 5]=>[KNN 5 @embedding $v EF_RUNTIME 64 AS dist]",
        params={"v": QVEC})
    assert ex["knn"]["mode"] == "inline"


def test_planner_prefilters_loose_hybrid_on_small_index(eng, monkeypatch):
    from valkey_search_spark.plans.predicate_translator import (
        PredicateTranslator,
    )

    e, emb = eng
    # loose filter + no EF_RUNTIME on a small index: the graph path's two
    # jobs cost more than scoring the kept rows exactly
    ex = e.ft_explain("hemb", "@label:[0 9]=>[KNN 5 @embedding $v AS dist]",
                      params={"v": QVEC})
    assert ex["knn"]["mode"] == "prefilter"
    # scoring every row already costs less: no estimate is made
    assert ex["knn"]["exact_cost_ms"] < ex["knn"]["ann_cost_ms"]
    assert ex["knn"]["estimated_rows"] is None
    # the op translates its filter ONCE
    calls = []
    for name in ("translate", "translate_staged"):
        orig = getattr(PredicateTranslator, name)

        def counting(self, *a, _orig=orig, **k):
            calls.append(1)
            return _orig(self, *a, **k)

        monkeypatch.setattr(PredicateTranslator, name, counting)
    n = e.ft_search("hemb", "@label:[0 9]=>[KNN 5 @embedding $v AS dist]",
                    params={"v": QVEC}, count_only=True)
    assert n == 5
    assert len(calls) == 1


def test_count_only_and_return_projection(eng):
    e, emb = eng
    n = e.ft_search("hemb", FULL_EXPLORE.format(k=7), params={"v": QVEC},
                    count_only=True)
    assert n == 7
    df = e.ft_search("hemb", FULL_EXPLORE.format(k=3), params={"v": QVEC},
                     return_fields=["label"])
    rows = df.collect()
    assert len(rows) == 3 and set(df.columns) >= {"label", "dist"}


def test_ft_info_reports_graph_artifact(eng, spark):
    from valkey_search_spark.operators.hnsw import HNSWIndex

    e, emb = eng
    schema = e.catalog.get("hemb")
    # a fresh load of the same artifact holds nothing in driver memory yet
    art = schema._ann["embedding"] = HNSWIndex.load(
        spark, schema._ann["embedding"].path)

    def ann():
        info = e.catalog.info("hemb")
        vec = next(a for a in info["attributes"]
                   if a["attribute"] == "embedding")
        return vec["index"]

    vec = ann()
    assert vec["algorithm"] == {
        "name": "HNSW", "m": 8, "ef_construction": 60}
    assert vec["ann"]["storage"] == "float32_graph"
    assert vec["ann"]["segments"] >= 1
    assert vec["ann"]["resident_bytes"] == 0
    e.ft_search("hemb", "*=>[KNN 3 @embedding $v EF_RUNTIME 40]",
                params={"v": QVEC}).collect()
    held = ann()["ann"]["resident_bytes"]
    assert held == art.resident_bytes()
    # at least the float64 vectors of every row
    assert held >= emb.count() * 64 * 8


def test_delete_by_document_key_masks_engine_results(spark, sf_dir,
                                                     tmp_path):
    # throwaway engine + artifact: the delete is by DOCUMENT key
    # (__key, the stringified key column — the reference's
    # RemoveRecord surface)
    emb = load(spark, sf_dir, "embeddings")
    e = SearchEngine(spark)
    e.ft_create("hmut", emb, [
        VectorField("embedding", dim=64, metric="l2", algo="hnsw",
                    m=8, ef_construction=60),
        NumericField("label")], key_column="vec_id")
    art = e.ft_build_ann("hmut", "embedding", str(tmp_path / "idx"),
                         algorithm="hnsw", max_segment_rows=60)
    winner = _brute(emb.collect(), 1)[0]
    art.delete([str(winner)])
    df = e.ft_search("hmut", FULL_EXPLORE.format(k=5), params={"v": QVEC})
    got = [r["vec_id"] for r in df.orderBy("dist", "vec_id").collect()]
    assert winner not in got
    assert got == [v for v in _brute(emb.collect(), 6) if v != winner][:5]


def test_unknown_algorithm_rejected(eng, tmp_path):
    e, _ = eng
    with pytest.raises(QuerySyntaxError):
        e.ft_build_ann("hemb", "embedding", str(tmp_path / "x"),
                       algorithm="faiss")


def test_graph_payload_excludes_raw_columns(eng):
    # the artifact persists only predicate-visible derived columns —
    # raw source columns / the corpus text never duplicate into it
    e, _ = eng
    art = e.catalog.get("hemb")._ann["embedding"]
    assert all(c.startswith(("_t_", "_n_", "_x_", "_s_", "_sp_", "__fm_"))
               for c in art.payload_cols)
    assert any(c == "_n_label" for c in art.payload_cols)


def test_ft_info_reports_partitioner_and_routability(spark, tmp_path):
    # a kmeans-partitioned artifact reports its partitioner, and every
    # segment is routable until an append adds unrouted ones
    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in 80.0 * np.eye(8)[i % 4] + rng.randn(8)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id bigint, embedding array<float>")
    e = SearchEngine(spark)
    e.ft_create("vr", df, [VectorField("embedding", dim=8, metric="l2")],
                key_column="doc_id")
    e.ft_build_ann("vr", "embedding", str(tmp_path / "art"),
                   algorithm="hnsw", partitioner="kmeans", n_segments=4,
                   max_segment_rows=10_000, m=8, ef_construction=40)
    vec = next(a for a in e.catalog.info("vr")["attributes"]
               if a["attribute"] == "embedding")
    ann = vec["index"]["ann"]
    assert ann["partitioner"] == "kmeans"
    assert ann["routable_segments"] == ann["segments"]


def test_ef_runtime_search_runs_one_spark_job(eng, spark):
    from valkey_search_spark import CommandDispatcher

    e, _ = eng
    disp = CommandDispatcher(e, source=None)
    argv = ["FT.SEARCH", "hemb", "*=>[KNN 10 @embedding $v EF_RUNTIME 40]",
            "PARAMS", "2", "v", np.asarray(QVEC, np.float32).tobytes(),
            "RETURN", "1", "__embedding_score"]
    warm = disp.execute_reply(argv)          # loads the resident graphs
    sc = spark.sparkContext
    sc.setJobGroup("hnsw-ef-one-job", "one HNSW FT.SEARCH")
    try:
        reply = disp.execute_reply(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("hnsw-ef-one-job")
    assert reply == warm and reply[0] == 10
    assert len(jobs) == 1


def test_graph_hit_keys_need_no_escaping(spark, tmp_path):
    # document keys holding a quote, a backslash and non-ASCII text come
    # back from the graph path with their own score
    keys = ["o'brien", "back\\slash", "naïve-ключ", "plain", "x'\\'y"]
    vecs = [[float(i), float(i % 2), 1.0, 0.5 * i] for i in range(len(keys))]
    df = spark.createDataFrame(list(zip(keys, vecs)),
                               "doc string, embedding array<float>")
    e = SearchEngine(spark)
    e.ft_create("hkeys", df, [VectorField("embedding", dim=4, metric="l2",
                                          algo="hnsw", m=4,
                                          ef_construction=16)],
                key_column="doc")
    e.ft_build_ann("hkeys", "embedding", str(tmp_path / "idx"),
                   algorithm="hnsw")
    q = [0.9, 1.1, 1.0, 0.4]
    rows = e.ft_search("hkeys", "*=>[KNN 5 @embedding $v EF_RUNTIME 40 "
                       "AS dist]", params={"v": q}).collect()
    got = {r["__key"]: r["dist"] for r in rows}
    assert set(got) == set(keys)
    for key, v in zip(keys, vecs):
        want = float(np.sqrt(((np.asarray(v) - np.asarray(
            q, np.float32).astype(np.float64)) ** 2).sum()))
        assert got[key] == pytest.approx(want, rel=1e-9)

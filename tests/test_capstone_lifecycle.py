"""Capstone: one corpus lifecycle through the session's operators —
z-ordered write -> upsert/delete refresh -> diff verification -> expectations
gate -> hybrid (BM25 + vector) search fused by RRF, MMR-diversified,
scored by IR metrics against exact-KNN qrels. Every hop is an operator
with its own oracle elsewhere; this pins that they COMPOSE."""
from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from valkey_search_spark.operators.ann import knn_join
from valkey_search_spark.operators.diff import diff_summary
from valkey_search_spark.operators.evaluation import ir_summary
from valkey_search_spark.operators.expectations import (Expect,
                                                        check_expectations)
from valkey_search_spark.operators.fusion import mmr_select, rrf_fuse
from valkey_search_spark.operators.ranking import (bm25_corpus_stats,
                                                   bm25_rank)
from valkey_search_spark.operators.textops import hashed_embeddings
from valkey_search_spark.sources.layout import write_zordered


def test_corpus_lifecycle(spark, sf_dir, tmp_path):
    path = str(tmp_path / "corpus")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text", "n_chars")

    # 1. clustered initial write (doc_id x n_chars box queries prune)
    write_zordered(docs, path, ["doc_id", "n_chars"], n_files=8)
    before = spark.read.parquet(path).localCheckpoint()
    n0 = before.count()

    # 2. nightly refresh: 2 updates, 1 delete
    updates = spark.createDataFrame(
        [(1, "updated spark stream text", 25),
         (999_999, "brand new spark document", 24)],
        "doc_id long, text string, n_chars long")
    deletes = spark.createDataFrame([(2,)], "doc_id long")
    after = before.join(updates.select("doc_id").unionByName(deletes),
                        "doc_id", "left_anti").unionByName(updates) \
        .localCheckpoint()
    assert after.count() == n0 + 1 - 1

    # 3. the diff IS the batch
    got = {r["verdict"]: r["n"]
           for r in diff_summary(before, after, key="doc_id").collect()}
    assert got["added"] == 1 and got["removed"] == 1
    assert got["changed"] == 1

    # 4. gate before serving
    checks = check_expectations(after, [
        Expect("unique", "doc_id"),
        Expect("null_fraction", "text", max_null_fraction=0.0),
        Expect("row_count", min_rows=n0)]).collect()
    assert all(r["passed"] for r in checks)

    # 5. hybrid query over the refreshed corpus
    bm = bm25_corpus_stats(after, text_col="text")
    text_run = bm25_rank(after, ["spark", "stream"], text_col="text",
                         top_k=50, corpus_stats=bm) \
        .select(F.lit("q").alias("qid"), "doc_id",
                F.col("bm25_score").alias("score"))
    emb = hashed_embeddings(after, text_col="text", dim=128) \
        .select("doc_id", "embedding").localCheckpoint()
    qv = emb.where(F.col("doc_id") == 999_999) \
        .select(F.lit("q").alias("qid"), "embedding")
    knn_full = knn_join(qv, emb, k=50, corpus_key="doc_id",
                        metric="cosine")
    knn_run = knn_full.select(F.lit("q").alias("qid"), "doc_id",
                              (-F.col("distance")).alias("score"))
    fused = rrf_fuse({"bm25": text_run, "knn": knn_run}, k=60, top_n=30)
    cands = fused.join(emb, "doc_id") \
        .select("qid", "doc_id", F.col("rrf_score").alias("score"),
                "embedding")
    final = mmr_select(cands, k=10, lam=0.7, pool=30).collect()
    assert len(final) == 10
    picked = {r["doc_id"] for r in final}
    # the fresh doc matches both runs (text + self-similarity): it wins
    assert 999_999 in picked
    assert 2 not in picked                  # deleted doc never surfaces

    # 6. measure the hybrid list against exact-KNN qrels
    # deterministic judged set: the TOP-10 by knn rank (a bare limit
    # without ordering is an arbitrary cut on a distributed frame)
    qrels = knn_full.where(F.col("rank") <= 10) \
        .select(F.lit("q").alias("qid"), "doc_id",
                F.lit(1).alias("grade"))
    results = spark.createDataFrame(
        [("q", r["doc_id"], float(-r["mmr_rank"])) for r in final],
        "qid string, doc_id long, score double")
    s = ir_summary(results, qrels, k=10).collect()[0]
    assert s["n_queries"] == 1
    assert 0.0 <= s["ndcg_at_k"] <= 1.0
    assert s["recall_at_k"] > 0.0           # hybrid list finds knn hits

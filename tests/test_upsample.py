"""upsample_to_token_budget: multi-epoch replication to a token
budget — scalar replay of the copy rule (DuckDB group totals + the
Spark hash), token accounting, thinning degeneration, per-group
budget dicts, the max_epochs guardrail, and determinism."""
from __future__ import annotations

import math

import duckdb
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, load
from valkey_search_spark.operators.sampling import upsample_to_token_budget


def _group_tokens():
    return dict(duckdb.sql(f"""
        SELECT lang, sum(len(list_filter(
            regexp_split_to_array(text, '\\s+'), w -> w != '')))
        FROM read_parquet('{SF_DIR}/documents.parquet') GROUP BY lang
    """).fetchall())


def _spark_u(docs, salt="upsample"):
    cells = 1 << 30
    u = (F.pmod(F.xxhash64(F.col("doc_id").cast("string"), F.lit(salt)),
                F.lit(cells)).cast("double") / float(cells))
    return {r["doc_id"]: (r["lang"], r["u"])
            for r in docs.select("doc_id", "lang", u.alias("u")).collect()}


def _expected(docs, budget, max_epochs=None):
    """Scalar replay: DuckDB-independent group totals + the operator's
    own hash-unit column -> per-doc copy counts."""
    totals = _group_tokens()
    out = {}
    for doc_id, (lang, u) in _spark_u(docs).items():
        rate = budget / totals[lang] if isinstance(budget, (int, float)) \
            else budget.get(lang, totals[lang]) / totals[lang]
        if max_epochs is not None:
            rate = min(rate, float(max_epochs))
        base = math.floor(rate)
        out[doc_id] = base + (1 if u < rate - base else 0)
    return out


def test_matches_scalar_replay_multi_epoch(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    budget = 40_000  # > every lang's tokens: true upsampling
    got = {}
    for r in upsample_to_token_budget(
            docs, "doc_id", budget, by="lang").collect():
        got.setdefault(r["doc_id"], []).append(r["epoch"])
    want = _expected(docs, budget)
    assert {k: len(v) for k, v in got.items()} \
        == {k: c for k, c in want.items() if c > 0}
    # epoch column enumerates replicas 0..copies-1
    for doc_id, epochs in got.items():
        assert sorted(epochs) == list(range(len(epochs)))


def test_token_accounting_hits_budget(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    budget = 25_000
    up = upsample_to_token_budget(docs, "doc_id", budget, by="lang")
    toks = F.size(F.filter(F.split(F.col("text"), r"\s+"),
                           lambda w: w != ""))
    per = {r["lang"]: r["t"] for r in
           up.groupBy("lang").agg(F.sum(toks).alias("t")).collect()}
    for lang, t in per.items():
        # fractional-copy membership is binomial around the budget;
        # every group has >= 70 docs so 12% covers 4+ sigma
        assert abs(t - budget) <= 0.12 * budget, (lang, t)


def test_rate_below_one_thins_whole_docs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    totals = _group_tokens()
    budget = int(0.3 * min(totals.values()))
    up = upsample_to_token_budget(docs, "doc_id", budget, by="lang")
    counts = [r["c"] for r in up.groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("c")).collect()]
    assert set(counts) == {1}  # 0 or 1 copies only, never partial docs
    assert up.count() < docs.count()
    assert up.select(F.max("epoch")).collect()[0][0] == 0


def test_per_group_budget_dict_and_passthrough(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    totals = _group_tokens()
    budgets = {"en": 3 * int(totals["en"]), "fr": int(0.5 * totals["fr"])}
    up = upsample_to_token_budget(docs, "doc_id", budgets, by="lang")
    per_doc = {}
    for r in up.select("doc_id", "lang").collect():
        per_doc[(r["lang"], r["doc_id"])] = \
            per_doc.get((r["lang"], r["doc_id"]), 0) + 1
    by_lang: dict = {}
    for (lang, _), c in per_doc.items():
        by_lang.setdefault(lang, []).append(c)
    assert set(by_lang["en"]) <= {3, 4}          # ~3 epochs
    assert set(by_lang["fr"]) == {1}             # thinned: 0/1 copies
    assert len(by_lang["fr"]) < sum(
        1 for r in docs.collect() if r["lang"] == "fr")
    # groups absent from the dict pass through at exactly one epoch
    for lang in ("de", "es", "zh"):
        n_docs = sum(1 for r in docs.collect() if r["lang"] == lang)
        assert by_lang[lang] == [1] * n_docs


def test_max_epochs_caps_rate(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    up = upsample_to_token_budget(docs, "doc_id", 10_000_000,
                                  by="lang", max_epochs=2)
    counts = {r["doc_id"]: r["c"] for r in up.groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("c")).collect()}
    assert set(counts.values()) == {2}
    assert counts == {k: 2 for k in counts}


def test_deterministic_and_global_mode(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    a = sorted((r["doc_id"], r["epoch"]) for r in
               upsample_to_token_budget(docs, "doc_id", 30_000).collect())
    b = sorted((r["doc_id"], r["epoch"]) for r in
               upsample_to_token_budget(docs, "doc_id", 30_000).collect())
    assert a == b


def test_zero_token_group_passes_through(spark):
    df = spark.createDataFrame(
        [(1, "g0", ""), (2, "g1", "some real text here")],
        ["doc_id", "g", "text"])
    up = upsample_to_token_budget(df, "doc_id", 100, by="g").collect()
    assert sum(1 for r in up if r["doc_id"] == 1) == 1  # one epoch


def test_error_contracts(spark):
    df = spark.createDataFrame([(1, "x", "t")], ["doc_id", "g", "text"])
    with pytest.raises(ValueError, match="requires"):
        upsample_to_token_budget(df, "doc_id", {"x": 10})
    with pytest.raises(ValueError, match="max_epochs"):
        upsample_to_token_budget(df, "doc_id", 10, max_epochs=0)


def test_epochs_invariant_to_partitioning(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    base = sorted((r["doc_id"], r["epoch"]) for r in
                  upsample_to_token_budget(docs, "doc_id", 30_000,
                                           by="lang").collect())
    for parts in (1, 13):
        got = sorted((r["doc_id"], r["epoch"]) for r in
                     upsample_to_token_budget(docs.repartition(parts),
                                              "doc_id", 30_000,
                                              by="lang").collect())
        assert got == base

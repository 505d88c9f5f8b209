"""Capstone composition: the full training-data pipeline end to end on
real corpus text — HTML ingest -> extraction -> profiling -> quality
gates -> dedup -> decontamination -> quantile outlier trim ->
quality-weighted selection -> BPE tokenization. Each stage is the engine's own operator; the assertions
pin the cross-stage invariants (row conservation, flag monotonicity,
token accounting) rather than any single operator's internals (those
have their own suites)."""
from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from tests.conftest import load


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(200)
    # wrap the real text in markup: the pipeline starts from crawl HTML
    return docs.select(
        "doc_id", "source",
        F.concat(
            F.lit("<html><head><title>p</title><script>x()</script>"
                  "</head><body><p>"),
            F.col("text"),
            F.lit('</p><div><a href="/n">nav</a></div></body></html>')
        ).alias("html"))


def test_full_pipeline(spark, corpus):
    from valkey_search_spark.functions.bpe import train_bpe
    from valkey_search_spark.operators.contamination import (
        ngram_decontaminate,
    )
    from valkey_search_spark.operators.dedup import exact_dedup
    from valkey_search_spark.operators.html import extract_documents
    from valkey_search_spark.operators.profile import corpus_profile
    from valkey_search_spark.operators.textops import (
        analyze_documents, gopher_quality_flags,
    )

    n0 = corpus.count()

    # 1. ingest: HTML -> text (+ link-density page gate)
    pages = extract_documents(corpus)
    docs = (pages.where(F.col("link_density") < 0.5)
            .select("doc_id", "source", "text"))
    n1 = docs.count()
    assert 0 < n1 <= n0

    # 2. profile the extracted corpus (dataset card)
    prof = {(r["dimension"], r["bucket"]): r
            for r in corpus_profile(docs, lang_col=None).collect()}
    assert prof[("total", "all")]["docs"] == n1

    # 3. quality gates: analysis metrics + Gopher rules (the synthetic
    # word-soup vocabulary contains none of Gopher's required stopwords,
    # so the conjunction flag would zero the corpus — gate on the rules
    # that apply, which is exactly what per-rule flags are for)
    analyzed = gopher_quality_flags(analyze_documents(docs))
    gated = analyzed.where(F.col("g_word_count") & F.col("g_symbol_ratio")
                           & F.col("g_alpha_words")
                           & (F.col("quality_score") > 0.2))
    n2 = gated.count()
    assert 0 < n2 <= n1

    # 4. dedup: exact first (verdict frame = keeper keys; payload joins
    # back — the pipeline convention everywhere in this repo)
    keepers = exact_dedup(gated.select("doc_id", "source", "text"),
                          key="doc_id", text_col="text")
    deduped = gated.select("doc_id", "source", "text") \
        .join(keepers.select("doc_id"), "doc_id")
    n3 = deduped.count()
    assert 0 < n3 <= n2

    # 5. decontaminate against a held-out "benchmark" slice
    bench = docs.where(F.col("doc_id") % 17 == 0) \
        .select("doc_id", "text").limit(20)
    verdicts = ngram_decontaminate(deduped, bench, n=13)
    clean = (deduped.join(verdicts.where(~F.col("contaminated"))
                          .select("doc_id"), "doc_id"))
    n4 = clean.count()
    assert 0 < n4 <= n3
    # every bench member that survived dedup must be flagged (its own
    # 13-grams leak verbatim)
    leaked = (verdicts.join(bench.select("doc_id"), "doc_id")
              .where(F.col("contaminated")).count())
    present = deduped.join(bench.select("doc_id"), "doc_id") \
        .where(F.length("text") >= 13).count()
    assert leaked >= min(present, 1)

    # 5b. trim length outliers per source at the corpus's own
    # percentiles (tiny broadcast bounds; data never shuffles)
    from valkey_search_spark.operators.quantiles import (
        tdigest_quantiles, tdigest_sketch, trim_to_quantiles,
    )
    sized = clean.withColumn("n_chars", F.length("text"))
    sk = tdigest_sketch(sized, "n_chars", group_col="source",
                        compression=512)
    trimmed = trim_to_quantiles(sized, "n_chars", lo=0.02, hi=0.98,
                                group_col="source", sketch_df=sk)
    n5 = trimmed.count()
    assert 0 < n5 <= n4
    bounds = {r["source"]: (r["lo"], r["hi"]) for r in
              tdigest_quantiles(sk, {"lo": 0.02, "hi": 0.98}).collect()}
    for r in trimmed.select("source", "n_chars").collect():
        lo, hi = bounds[r["source"]]
        assert lo <= r["n_chars"] <= hi

    # 5c. quality-weighted selection: exact-N per source, inclusion
    # chance proportional to quality_score (A-Res)
    from valkey_search_spark.operators.sampling import weighted_sample
    weighted = trimmed.join(
        analyzed.select("doc_id", "quality_score"), "doc_id")
    n_per = 40
    selected = weighted_sample(weighted, "quality_score", n_per,
                               by="source").drop("n_chars")
    sizes = {r["source"]: r["n"] for r in
             trimmed.groupBy("source").agg(
                 F.count(F.lit(1)).alias("n")).collect()}
    picked = {r["source"]: r["n"] for r in
              selected.groupBy("source").agg(
                  F.count(F.lit(1)).alias("n")).collect()}
    assert picked == {s: min(n_per, n) for s, n in sizes.items()}
    # the draw favors quality: selected mean >= corpus mean
    mean_all = weighted.agg(F.avg("quality_score")).collect()[0][0]
    mean_sel = selected.agg(F.avg("quality_score")).collect()[0][0]
    assert mean_sel >= mean_all - 1e-9
    n6 = selected.count()

    # 6. tokenize with a corpus-trained BPE: one count per selected doc
    clean = selected.select("doc_id", "source", "text")
    tok = train_bpe(clean, vocab_size=256 + 200)
    counted = tok.token_count(clean)
    m = counted.agg(F.count(F.lit(1)),
                    F.sum("bpe_token_count")).collect()[0]
    assert m[0] == n6
    assert m[1] > 0

"""BM25 text ranking — beyond-reference extension (SURVEY §2.10).

The reference returns text-filter results UNRANKED (its only score is
the KNN distance field); a user coming from RediSearch expects relevance
ranking. This is Okapi BM25 in its standard form:

    score(d, q) = sum over t in q of
        idf(t) * tf(t, d) * (k1 + 1)
                 / (tf(t, d) + k1 * (1 - b + b * |d| / avgdl))
    idf(t) = ln((N - df(t) + 0.5) / (df(t) + 0.5) + 1)

with k1 = 1.2, b = 0.75 defaults (the Robertson/Sparck-Jones form with
the +1 shift that keeps idf positive).

Scale shape: corpus statistics (N, avgdl, per-query-term document
frequencies) come from ONE aggregation job over the token column —
df(t) for the handful of query terms only, never a full posting table —
and return a few scalars to the driver (the same eager-statistics
pattern as IVFIndex/BigramLM training). Scoring is then a map-only
codegen expression over the token array: per-term tf via a counting
fold, document length from array size. No shuffle at all unless the
caller asks for global top-k ordering (one TakeOrdered). Query
analysis reuses the engine's text analysis chain (case folding +
stemming) so query terms meet index tokens in the same form ft_search
matches them.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.analysis import raw_tokens_column
from .dedup import _pin


class BM25Stats:
    """Index-time BM25 corpus statistics: corpus size, average doc
    length, and document frequencies for the ``vocab_limit`` most
    frequent tokens. A query term outside the lexicon scores with
    df=0 (maximum idf) — exact for unseen terms, a slight idf
    overestimate for sub-lexicon rare terms (bounded by the lexicon's
    cutoff frequency)."""

    def __init__(self, n: int, avgdl: float, df: dict[str, int]):
        self.n, self.avgdl, self.df = int(n), float(avgdl), dict(df)

    def save(self, path: str) -> None:
        import json
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"format": "bm25-stats-v1", "n": self.n,
                       "avgdl": self.avgdl,
                       "df": sorted(self.df.items())}, f,
                      ensure_ascii=False)

    @classmethod
    def load(cls, path: str) -> "BM25Stats":
        import json
        with open(path, encoding="utf-8") as f:
            obj = json.load(f)
        if obj.get("format") != "bm25-stats-v1":
            raise ValueError(f"not bm25 stats: {path}")
        return cls(obj["n"], obj["avgdl"], dict(obj["df"]))


def bm25_corpus_stats(df: DataFrame, text_col: str = "text",
                      tokens_col: str | Column | None = None,
                      vocab_limit: int = 50_000) -> BM25Stats:
    """The ingest-time half of BM25: two bounded jobs over one
    tokenized projection compute N + avgdl and the per-token document
    frequencies for the top ``vocab_limit`` tokens (df = docs
    containing the token, via a per-doc distinct explode). Feed the
    result to ``bm25_rank(corpus_stats=...)`` and every later query
    against this corpus runs zero eager statistics jobs."""
    from .dedup import _parallelize

    df = _parallelize(df)        # spread 1-task scans; no-op at scale
    if tokens_col is None:
        toks_src = raw_tokens_column(F.col(text_col))
    elif isinstance(tokens_col, Column):
        toks_src = tokens_col
    else:
        toks_src = F.col(tokens_col)
    staged = df.select(toks_src.alias("__t"))
    base = staged.agg(F.count(F.lit(1)).alias("n"),
                      F.avg(F.size("__t")).alias("avgdl")).first()
    rows = (staged.select(F.explode(F.array_distinct("__t")).alias("tok"))
            .groupBy("tok").count()
            .orderBy(F.desc("count"), F.asc("tok"))
            .limit(vocab_limit).collect())
    return BM25Stats(base["n"] or 0, base["avgdl"] or 0.0,
                     {r["tok"]: int(r["count"]) for r in rows})


def bm25_rank(df: DataFrame, terms: list[str], key: str = "doc_id",
              text_col: str = "text",
              tokens_col: str | Column | None = None,
              k1: float = 1.2, b: float = 0.75,
              top_k: int | None = None,
              match_only: bool = True,
              corpus_stats: "BM25Stats | None" = None) -> DataFrame:
    """Rank ``df`` by BM25 relevance to ``terms`` (pre-analyzed tokens —
    pass the output of the same analyzer that built the token column;
    for raw user text, tokenize with ``raw_tokens_column`` semantics
    first). Adds ``bm25_score``; with ``match_only`` (default) keeps
    only documents matching at least one term, and with ``top_k``
    returns the global top-k by (score desc, key asc — deterministic
    tiebreak, the engine's KNN convention).

    ``tokens_col`` names an already-materialized token array (an index's
    staged analysis column) to skip re-tokenizing; otherwise the text
    column is tokenized with the engine's analyzer. It also accepts a
    Column expression — e.g. projecting the catalog's
    ``_x_<field>`` struct column,
    ``F.transform("_x_body", lambda s: s["t"])``, ranks an indexed
    corpus with the index's own analysis (stop words excluded there,
    which is the conventional BM25 form).

    ``corpus_stats`` (from ``bm25_corpus_stats``) supplies the
    index-time statistics — N, avgdl, per-term document frequencies —
    so repeated queries against the same corpus run ZERO eager jobs
    here, the reference's ingest-time model. Terms absent from the
    stats fall back to df=0 (maximum idf), the right behavior for a
    term the indexer never saw."""
    if not terms:
        raise ValueError("BM25 needs at least one query term")
    from .dedup import _parallelize

    df = _parallelize(df)        # spread 1-task scans; no-op at scale
    terms = list(dict.fromkeys(terms))          # dedup, keep order
    if tokens_col is None:
        toks_src = raw_tokens_column(F.col(text_col))
    elif isinstance(tokens_col, Column):
        toks_src = tokens_col
    else:
        toks_src = F.col(tokens_col)
    if not isinstance(tokens_col, str):
        # pin ONE tokenizer evaluation (dedup._pin, value-preserving):
        # stops the optimizer from inlining the tokenizer into the match
        # filter and pushing it below the staged projection (measured:
        # that pushdown re-tokenized the full corpus a second time — 2
        # regexp_extract_all copies in the plan; this shape has 1)
        toks_src = _pin(toks_src)
    staged = df.withColumn("__bm_toks", toks_src)
    toks = F.col("__bm_toks")

    if corpus_stats is not None:
        n, avgdl = corpus_stats.n, corpus_stats.avgdl
        dfs = [corpus_stats.df.get(t, 0) for t in terms]
    else:
        # ONE statistics job: corpus size, average doc length, and
        # df(t) for exactly the query's terms
        stats = staged.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.size(toks)).alias("avgdl"),
            *[F.count_if(F.array_contains(toks, t)).alias(f"df{i}")
              for i, t in enumerate(terms)]).first()
        n, avgdl = stats["n"], stats["avgdl"]
        dfs = [stats[f"df{i}"] for i in range(len(terms))]
    if not n or not avgdl:
        raise ValueError("BM25 corpus is empty")
    idf = [math.log((n - d + 0.5) / (d + 0.5) + 1.0) for d in dfs]

    # match BEFORE scoring, on one cheap array test: idf > 0 always holds
    # for this BM25+ form, so score > 0 <=> at least one term present —
    # filtering on the score column instead would push the WHOLE score
    # expression (with its 7 token-array references) below the staged
    # projection and re-tokenize every row several times over (measured:
    # 11 tokenizer copies in the executed plan; this shape has 1, via
    # the _pin above)
    if match_only:
        staged = staged.where(F.arrays_overlap(
            toks, F.array(*[F.lit(t) for t in terms])))

    def _eq(term):
        # single-parameter lambda: a 2-arg lambda would be read by
        # F.filter as the (element, index) form
        return lambda x: x == F.lit(term)

    # stage dl and the per-term tf counts as NAMED columns: the token
    # array is referenced k+1 times in ONE projection (the
    # analyze_documents shape), which Catalyst keeps staged instead of
    # inlining the tokenizer per reference
    staged = staged.select(
        "*", F.size(toks).cast("double").alias("__bm_dl"),
        *[F.size(F.filter(toks, _eq(t))).cast("double").alias(f"__bm_tf{i}")
          for i, t in enumerate(terms)])
    norm = (F.lit(k1) * (F.lit(1.0 - b)
                         + F.lit(b) * F.col("__bm_dl") / F.lit(avgdl)))
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"__bm_tf{i}")
        score = score + F.lit(idf[i]) * tf * F.lit(k1 + 1.0) / (tf + norm)
    out = (staged.withColumn("bm25_score", score)
           .drop("__bm_toks", "__bm_dl",
                 *[f"__bm_tf{i}" for i in range(len(terms))]))
    if top_k is not None:
        out = (out.orderBy(F.col("bm25_score").desc(), F.col(key).asc())
               .limit(top_k))
    return out


def tfidf_top_terms(df: DataFrame, key: str = "doc_id",
                    text_col: str = "text",
                    tokens_col: str | Column | None = None,
                    k: int = 10, min_df: int = 1) -> DataFrame:
    """Per-document keyword extraction: the ``k`` highest-TF-IDF terms
    of each document as ``top_terms: array<struct<term, score>>``
    (score-descending, term-ascending tiebreak). The complement of
    ``bm25_rank``: BM25 ranks documents for a query, this labels each
    document with what makes it distinctive.

    Formula (the scikit-learn TfidfVectorizer default, smooth_idf):
    tf = raw count of the term in the document;
    idf = ln((1 + N) / (1 + df(t))) + 1. ``min_df`` drops terms seen
    in fewer documents.

    Scale shape: explode the token column into per-(doc, term) counts
    (one shuffle, map-side combine), derive per-term document
    frequencies from THOSE counts (second aggregation — the rows are
    already one per (doc, term), so df is a plain count), join them
    back on the term (shuffle hash join; AQE handles hot-term skew the
    same way the gram operators do), and take each document's top-k
    with sort_array over a per-doc collect_list — bounded by the
    document's own vocabulary, no corpus-wide window."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if tokens_col is None:
        toks_src = raw_tokens_column(F.col(text_col))
    elif isinstance(tokens_col, Column):
        toks_src = tokens_col
    else:
        toks_src = F.col(tokens_col)
    staged = df.select(F.col(key).alias("k"), toks_src.alias("__toks"))
    counts = (staged.select("k", F.explode("__toks").alias("__t"))
              .groupBy("k", "__t")
              .agg(F.count(F.lit(1)).alias("__tf")))
    n_docs = df.count()
    dfreq = (counts.groupBy("__t")
             .agg(F.count(F.lit(1)).alias("__df")))
    if min_df > 1:
        dfreq = dfreq.where(F.col("__df") >= min_df)
    scored = (counts.join(dfreq, "__t")
              .withColumn(
                  "__score",
                  F.col("__tf") * (F.log((1.0 + n_docs)
                                         / (1.0 + F.col("__df"))) + 1.0)))
    top = (scored.groupBy("k").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct(
                (-F.col("__score")).alias("neg"),
                F.col("__t").alias("term"),
                F.col("__score").alias("score")))),
            1, k).alias("__top"))
        .select(F.col("k").alias(key),
                F.transform(
                    "__top",
                    lambda s: F.struct(s["term"].alias("term"),
                                       s["score"].alias("score")))
                .alias("top_terms")))
    return df.join(top, key, "left")


def bm25f_rank(df: DataFrame, terms: list[str],
               fields: dict[str, float], key: str = "doc_id",
               k1: float = 1.2, b: float = 0.75,
               top_k: int | None = None,
               match_only: bool = True) -> DataFrame:
    """BM25F — the multi-field weighted variant (Robertson/Zaragoza's
    simple form), the natural scorer for this engine's multi-field
    indexes (title boosts over body, etc.):

        tf~(t, d) = sum over fields f of
            w_f * tf_f(t, d) / (1 - b + b * len_f(d) / avgdl_f)
        score(d) = sum over t of idf(t) * tf~ / (k1 + tf~)
        idf(t) = ln((N - df(t) + 0.5)/(df(t) + 0.5) + 1),
        df(t) = docs containing t in ANY scored field

    With a single field at weight 1 the ranking is identical to
    ``bm25_rank`` (the scores differ by the constant (k1+1) factor).
    ``fields`` maps text column names to weights; each field is
    tokenized with the engine's analyzer. Same scale shape as
    ``bm25_rank``: ONE statistics job (per-field avgdl + per-term
    any-field df), then map-only codegen scoring + optional top-k."""
    if not terms:
        raise ValueError("BM25F needs at least one query term")
    if not fields:
        raise ValueError("BM25F needs at least one field")
    terms = list(dict.fromkeys(terms))
    fnames = list(fields)
    staged = df
    for f in fnames:
        # null fields tokenize to an EMPTY array, not null: a doc whose
        # title matched must score off its real fields, not have every
        # tf/dl go null through size(null) and emit bm25f_score = null
        # _pin keeps one tokenizer evaluation per field (same
        # anti-inlining pin as bm25_rank)
        staged = staged.withColumn(
            f"__bmf_{f}",
            _pin(F.coalesce(raw_tokens_column(F.col(f)),
                            F.array().cast("array<string>"))))
    tcols = {f: F.col(f"__bmf_{f}") for f in fnames}

    any_field = {t: F.lit(False) for t in terms}
    for f in fnames:
        for t in terms:
            any_field[t] = any_field[t] | F.array_contains(tcols[f], t)
    stats = staged.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.avg(F.size(tcols[f])).alias(f"avgdl_{f}") for f in fnames],
        *[F.count_if(any_field[t]).alias(f"df{i}")
          for i, t in enumerate(terms)]).first()
    n = stats["n"]
    if not n:
        raise ValueError("BM25F corpus is empty")
    avgdl = {f: stats[f"avgdl_{f}"] for f in fnames}
    if any(not avgdl[f] for f in fnames):
        raise ValueError("a scored field has no tokens in the corpus")
    idf = [math.log((n - stats[f"df{i}"] + 0.5)
                    / (stats[f"df{i}"] + 0.5) + 1.0)
           for i in range(len(terms))]

    def _eq(term):
        return lambda x: x == F.lit(term)

    # same anti-duplication shape as bm25_rank: match on one cheap
    # any-field arrays_overlap BEFORE scoring (idf > 0 always, so
    # score > 0 <=> some term present in some field), then stage every
    # per-(field, term) tf and per-field dl as NAMED columns in one
    # projection — filtering on the score column instead would inline
    # the per-field tokenizers once per score reference (measured: 19
    # tokenizer copies in the executed plan; this shape has
    # 2 x len(fields) + the scan echo)
    if match_only:
        term_arr = F.array(*[F.lit(t) for t in terms])
        cond = F.lit(False)
        for f in fnames:
            cond = cond | F.arrays_overlap(tcols[f], term_arr)
        staged = staged.where(cond)
    staged = staged.select(
        "*",
        *[F.size(tcols[f]).cast("double").alias(f"__bmf_dl_{f}")
          for f in fnames],
        *[F.size(F.filter(tcols[f], _eq(t))).cast("double")
          .alias(f"__bmf_tf_{f}_{i}")
          for f in fnames for i, t in enumerate(terms)])
    score = F.lit(0.0)
    for i, t in enumerate(terms):
        tft = F.lit(0.0)
        for f in fnames:
            norm = (F.lit(1.0 - b)
                    + F.lit(b) * F.col(f"__bmf_dl_{f}")
                    / F.lit(float(avgdl[f])))
            tft = tft + (F.lit(float(fields[f]))
                         * F.col(f"__bmf_tf_{f}_{i}") / norm)
        score = score + F.lit(idf[i]) * tft / (F.lit(k1) + tft)
    out = (staged.withColumn("bm25f_score", score)
           .drop(*[f"__bmf_{f}" for f in fnames],
                 *[f"__bmf_dl_{f}" for f in fnames],
                 *[f"__bmf_tf_{f}_{i}"
                   for f in fnames for i in range(len(terms))]))
    if top_k is not None:
        out = (out.orderBy(F.col("bm25f_score").desc(),
                           F.col(key).asc()).limit(top_k))
    return out

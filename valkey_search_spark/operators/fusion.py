"""Hybrid result fusion + diversification — beyond-reference extension
(SURVEY §2.10).

The reference's hybrid query is pre-filter-then-KNN (filter narrows the
candidate set, the vector index ranks it — src/query/search.cc); it has
no way to COMBINE two rankings, e.g. BM25 text relevance and vector
similarity, into one list. These are the two standard post-processing
operators a hybrid search stack adds on top:

- ``rrf_fuse``: reciprocal-rank fusion (Cormack et al.) —
  score(d) = sum over runs r of w_r / (k + rank_r(d)), the
  scale-free fusion that needs no score normalization across runs
  (BM25 scores and cosine distances are not comparable; ranks are).
- ``mmr_select``: maximal-marginal-relevance re-ranking (Carbonell &
  Goldstein) — greedily pick argmax of
  lambda * rel(d) - (1 - lambda) * max cosine(d, already-picked),
  trading relevance against redundancy in the final top-k.

Scale shape: ``rrf_fuse`` unions the tagged runs and computes every
run's ranks with ONE window shuffle (partition by run and query), then
one (query, doc) aggregation — two shuffles total no matter how many
runs are fused; no Python. ``mmr_select`` bounds the quadratic
greedy kernel by ``pool`` (one window shuffle to truncate each query's
candidate list), then runs one Arrow-batched cogroup per query over
<= pool rows — at any corpus size the kernel sees pool * dim floats
per query, never the corpus.

Oracle: RRF is plain SQL (rank windows + join + sum) — DuckDB-pinned in
tests/test_fusion.py; MMR is pinned against a scalar reference there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def rrf_fuse(runs: dict[str, DataFrame], k: int = 60,
             weights: dict[str, float] | None = None,
             query_col: str = "qid", doc_col: str = "doc_id",
             score_col: str = "score", top_n: int | None = None,
             higher_is_better: bool = True) -> DataFrame:
    """Fuse ranked ``runs`` (name -> (query, doc, score) frame) by
    reciprocal rank. Ranks are computed per (run, query) from
    ``score_col`` (descending when ``higher_is_better``, ties broken by
    doc id); a doc absent from a run simply contributes nothing for it.
    Returns one row per (query, doc): ``rrf_score`` (weighted sum of
    1/(k + rank)), ``n_runs`` (how many runs returned the doc), and
    ``fused_rank`` (dense 1-based order of rrf_score within the query,
    ties broken by doc id). ``top_n`` keeps the best n per query.
    Duplicate (query, doc) rows WITHIN a run (shard-union logs) are
    collapsed to their best score before ranking — on the same
    exchange as the rank window — so n_runs never over-counts."""
    if not runs:
        raise ValueError("need at least one run")
    if k <= 0:
        raise ValueError("k must be positive")
    w = {name: 1.0 for name in runs}
    if weights:
        unknown = set(weights) - set(runs)
        if unknown:
            raise ValueError(f"weights for unknown runs: {unknown}")
        w.update(weights)
    q, d = query_col, doc_col

    order = (F.col(score_col).desc() if higher_is_better
             else F.col(score_col).asc())
    tagged = None
    for name, df in runs.items():
        part = df.select(
            F.col(q), F.col(d), F.col(score_col),
            F.lit(name).alias("__run"),
            F.lit(float(w[name])).alias("__w"))
        tagged = part if tagged is None else tagged.unionByName(part)

    # one window shuffle ranks every run at once; the per-run (q, d)
    # dedup (best score wins) rides the same (run, q) exchange as the
    # rank window — two in-partition sorts, no extra shuffle
    w_dedup = Window.partitionBy("__run", q).orderBy(
        F.col(d).asc(), order)
    ranked = (tagged
              .withColumn("__keep", F.coalesce(
                  F.lag(d).over(w_dedup) != F.col(d), F.lit(True)))
              .where("__keep")
              .withColumn("__rank", F.row_number().over(
                  Window.partitionBy("__run", q).orderBy(
                      order, F.col(d).asc()))))
    # re-cluster by query ONCE: hash(q) satisfies both the (q, d)
    # aggregation (q ⊆ keys -> all of a group's rows co-located) and
    # the fused-rank window, so the whole fuse is two shuffles total
    fused = (ranked.repartition(q).groupBy(q, d)
             .agg(F.sum(F.col("__w") / (F.lit(k) + F.col("__rank")))
                  .alias("rrf_score"),
                  F.count("*").alias("n_runs")))
    out = fused.withColumn(
        "fused_rank", F.row_number().over(
            Window.partitionBy(q).orderBy(F.col("rrf_score").desc(),
                                          F.col(d).asc())))
    if top_n is not None:
        if top_n <= 0:
            raise ValueError("top_n must be positive")
        out = out.where(F.col("fused_rank") <= top_n)
    return out


def mmr_select(candidates: DataFrame, k: int = 10, lam: float = 0.5,
               pool: int = 100, query_col: str = "qid",
               doc_col: str = "doc_id", score_col: str = "score",
               embedding_col: str = "embedding") -> DataFrame:
    """Per query, greedily pick ``k`` of the top-``pool`` candidates by
    MMR: the first pick is the highest ``score_col`` (which must be
    higher-is-better and roughly [0, 1]-scaled for ``lam`` to mean
    anything — pre-normalize BM25 scores); each next pick maximizes
    ``lam * rel - (1 - lam) * max_cos_to_picked`` (ties by doc id).
    Null or empty embeddings are dropped from the pool. Returns
    (query, doc, mmr_rank 1..k, mmr_score of the winning step)."""
    if k <= 0 or pool < k:
        raise ValueError("need 0 < k <= pool")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    import numpy as np
    import pandas as pd

    from ..functions.distance import unit_rows

    q, d = query_col, doc_col
    score_ok = (F.col(score_col).isNotNull()
                & ~F.isnan(F.col(score_col).cast("double")))
    pruned = (candidates
              # a null/NaN score would sort into the pool (NaN is
              # largest in Spark's ordering) and then hijack the numpy
              # argmax (argmax returns a NaN index) — drop it here
              .where(score_ok
                     & F.col(embedding_col).isNotNull()
                     & (F.size(embedding_col) > 0))
              .withColumn("__rn", F.row_number().over(
                  Window.partitionBy(q).orderBy(F.col(score_col).desc(),
                                                F.col(d).asc())))
              .where(F.col("__rn") <= pool))

    out_schema = (f"{_quote(q)} {dict(candidates.dtypes)[q]}, "
                  f"{_quote(d)} {dict(candidates.dtypes)[d]}, "
                  "mmr_rank int, mmr_score double")
    kk, ll = k, lam

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        # pool x dim matrix, L2-normalized once; greedy argmax loop
        emb = unit_rows(np.array(pdf[embedding_col].tolist(),
                                 dtype=np.float64))
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        docs = pdf[d].to_numpy()
        # deterministic candidate order for tie-breaks
        order = np.lexsort((docs, -rel))
        emb, rel, docs = emb[order], rel[order], docs[order]
        n = len(docs)
        picked: list[int] = []
        scores: list[float] = []
        # max cos to the picked set — the empty-set penalty is 0, but
        # once anything is picked the true max can be NEGATIVE, so it
        # cannot be folded into a zeros init
        max_sim = None
        taken = np.zeros(n, dtype=bool)
        for _ in range(min(kk, n)):
            pen = max_sim if max_sim is not None else 0.0
            mmr = ll * rel - (1.0 - ll) * pen
            mmr[taken] = -np.inf
            # argmax returns the FIRST max; rows are in (rel desc,
            # doc asc) order, so ties resolve deterministically
            i = int(np.argmax(mmr))
            picked.append(i)
            scores.append(float(mmr[i]))
            taken[i] = True
            sims = emb @ emb[i]
            max_sim = sims if max_sim is None \
                else np.maximum(max_sim, sims)
        return pd.DataFrame({
            q: [pdf[q].iloc[0]] * len(picked),
            d: docs[picked],
            "mmr_rank": np.arange(1, len(picked) + 1, dtype=np.int32),
            "mmr_score": scores,
        })

    return (pruned.groupBy(q)
            .applyInPandas(greedy, schema=out_schema))


def _quote(name: str) -> str:
    return f"`{name}`" if not name.isidentifier() else name

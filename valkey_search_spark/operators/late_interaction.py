"""Late-interaction (multi-vector) retrieval: MaxSim scoring.

ColBERT-style scoring (Khattab & Zaharia, SIGIR 2020): query and
document are each a BAG of token vectors; score(q, d) = sum over query
tokens of the max dot product against any document token. The reference
engine scores one vector per key (vector_base.h) — late interaction is
the multi-vector extension a retrieval-training pipeline needs for
hard-negative mining and reranking corpora.

Scale shape (the ``knn_join`` broadcast recipe): the query side is the
small one — ALL query token matrices are broadcast to executors as one
concatenated numpy matrix + offsets; documents stream through
``mapInPandas``, each Arrow batch scoring with ONE BLAS matmul per
document (Q_all @ D.T, a (total_q_tokens x doc_tokens) block), a
segment-max/sum per query, and a per-partition top-k heap so the
shuffle carries <= |Q|*k rows per partition into the final
(score, key) window — never |Q|x|C|.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.distance import unit_rows


class _RevKey:
    """Inverts comparison so a MIN-heap of (score, _RevKey(key)) evicts
    the LARGEST key among equal scores — matching the output contract
    (score desc, key asc) at the top-k boundary."""

    __slots__ = ("k",)

    def __init__(self, k):
        self.k = k

    def __lt__(self, other):
        return other.k < self.k


def _stack_bag(toks, key, side: str) -> np.ndarray:
    """Stack one token bag into a (tokens, dim) float64 matrix.
    ``np.stack`` (not ``np.asarray``) so a RAGGED bag — token vectors of
    differing dims — raises a clear ValueError naming the offending key
    instead of silently becoming an object array that fails deep inside
    the executor matmul."""
    try:
        return np.stack([np.asarray(t, dtype=np.float64) for t in toks])
    except ValueError as e:
        raise ValueError(
            f"ragged token bag for {side} key {key!r}: token vectors "
            f"must all share one dimension ({e})") from None


def _stack_query_tokens(queries: DataFrame, query_key: str,
                        qvecs_col: str, metric: str,
                        max_broadcast_bytes: int | None = 1 << 30,
                        query_size_hint: tuple[int, int] | None = None):
    """Collect the query token bags (the SMALL side, like knn_join's
    corpus broadcast) into (keys, Q matrix, row offsets).

    SIZE-CHECKED with the same contract as ``knn_join``'s
    ``max_broadcast_bytes`` (ann.py): a cheap aggregate estimates the
    stacked matrix (total tokens x dim x 8 bytes) BEFORE any collect and
    raises with guidance past the cap — token bags make auto-routing to
    a bucketed plan ambiguous, so an explicit error beats a driver OOM.
    Pass ``max_broadcast_bytes=None`` to skip the check for a query
    frame known to fit, or ``query_size_hint=(total_tokens, dim)`` to
    keep the check without the probe job (the ``corpus_size_hint``
    recipe from knn_join)."""
    pruned = (queries.select(query_key, qvecs_col)
              .where(F.col(qvecs_col).isNotNull())
              .where(F.size(F.col(qvecs_col)) > 0))
    if max_broadcast_bytes is not None:
        if query_size_hint is not None:
            toks, dim = query_size_hint
        else:
            probe = pruned.select(
                F.sum(F.size(F.col(qvecs_col))).alias("toks"),
                F.max(F.size(F.element_at(F.col(qvecs_col), 1)))
                .alias("dim"),
            ).first()
            toks = int(probe["toks"] or 0)
            dim = int(probe["dim"] or 0)
        est = toks * dim * 8
        if est > max_broadcast_bytes:
            raise ValueError(
                f"maxsim query side estimates {est} bytes stacked "
                f"(> max_broadcast_bytes={max_broadcast_bytes}); the "
                f"query bags are broadcast whole — shrink the query "
                f"batch (chunk and union results), or pass "
                f"max_broadcast_bytes=None if it is known to fit")
    got = _collect_bags_arrow(pruned, query_key, qvecs_col)
    if got is None:
        # row-path fallback: ragged bags, element nulls, or any Arrow
        # surprise — the contract is the OLD behavior (including the
        # ragged-bag ValueError naming the offending key), just slower
        rows = pruned.collect()
        keys, mats = [], []
        for r in rows:
            m = _stack_bag(r[qvecs_col], r[query_key], "query")
            keys.append(r[query_key])
            mats.append(m)
        if not keys:
            return [], np.zeros((0, 1)), np.zeros(1, dtype=np.int64)
        offs = np.zeros(len(mats) + 1, dtype=np.int64)
        np.cumsum([len(m) for m in mats], out=offs[1:])
        qmat = np.vstack(mats)
    else:
        keys, qmat, offs = got
        if not keys:
            return [], np.zeros((0, 1)), np.zeros(1, dtype=np.int64)
    if metric == "cosine":
        # row-wise (per token vector), so normalizing the stacked matrix
        # is identical to normalizing each bag separately
        qmat = unit_rows(qmat)
    return keys, qmat, offs


def _collect_bags_arrow(pruned, key_col: str, bag_col: str):
    """Collect (key, bag-of-token-vectors) through ONE Arrow fetch —
    the ann.py ``_collect_matrix`` recipe extended one nesting level:
    the outer list column's offsets give the bag boundaries in token
    units, the inner list column's values buffer reshapes zero-copy to
    the stacked (total_tokens, dim) matrix. Returns (keys list, matrix,
    offsets) or None when any null / ragged dim / Arrow surprise means
    the caller must take the boxed-row path (whose semantics — errors
    included — are the contract)."""
    try:
        import pyarrow.compute as pc

        tbl = pruned.select(key_col, bag_col).toArrow()
        keys = tbl.column(0).to_pylist()
        outer = tbl.column(1).combine_chunks()
        if len(outer) == 0:
            return [], np.zeros((0, 1)), np.zeros(1, dtype=np.int64)
        if outer.null_count:
            return None
        inner = outer.flatten()                   # one row per token vec
        if inner.null_count:
            return None
        widths = pc.list_value_length(inner).to_numpy()
        if not widths.size or widths[0] <= 0 or (widths != widths[0]).any():
            return None                           # ragged token vectors
        dim = int(widths[0])
        elems = inner.flatten()                   # flat element array
        if elems.null_count:
            return None
        qmat = np.asarray(elems.to_numpy(zero_copy_only=False),
                          dtype=np.float64).reshape(len(inner), dim)
        bag_lens = pc.list_value_length(outer).to_numpy()
        offs = np.zeros(len(outer) + 1, dtype=np.int64)
        np.cumsum(bag_lens, out=offs[1:])
        return keys, qmat, offs
    except Exception:
        return None


def maxsim_join(queries: DataFrame, docs: DataFrame, k: int = 10,
                query_key: str = "qid", doc_key: str = "doc_id",
                qvecs_col: str = "vecs", dvecs_col: str = "vecs",
                metric: str = "ip",
                max_broadcast_bytes: int | None = 1 << 30,
                query_size_hint: tuple[int, int] | None = None
                ) -> DataFrame:
    """Top-k documents per query under MaxSim. ``metric``: "ip" (raw
    dot, ColBERT's convention) or "cosine" (both token sets
    L2-normalized first). Returns (query_key, doc_key, score, rank),
    rank 1 = best, ties broken on doc key.

    Null handling: documents AND queries with empty/null token bags are
    dropped up front (a query with no tokens has no MaxSim score by
    definition — callers needing to attribute missing query groups
    should pre-filter and count). The query side is size-checked before
    collection (``max_broadcast_bytes``, same contract as ``knn_join``);
    a too-large query frame raises with chunking guidance instead of
    OOMing the driver."""
    from pyspark.sql.window import Window

    if metric not in ("ip", "cosine"):
        raise ValueError(f"unknown metric {metric!r}")
    qkeys, qmat, qoffs = _stack_query_tokens(
        queries, query_key, qvecs_col, metric, max_broadcast_bytes,
        query_size_hint)
    nq = len(qkeys)
    kk = int(k)

    qkey_field = queries.schema[query_key]
    dkey_type = docs.schema[doc_key].dataType
    out_schema = T.StructType([
        qkey_field, T.StructField(doc_key, dkey_type),
        T.StructField("score", T.DoubleType())])

    corpus = (docs.select(doc_key, dvecs_col)
              .where(F.col(dvecs_col).isNotNull())
              .where(F.size(F.col(dvecs_col)) > 0))

    if nq == 0:
        # every query bag empty/null: no rows, not a shape error
        cand = queries.sparkSession.createDataFrame([], out_schema)
        w = Window.partitionBy(query_key).orderBy(
            F.col("score").desc(), F.col(doc_key).asc())
        return (cand.withColumn("rank", F.row_number().over(w))
                    .where(F.col("rank") <= kk))

    def score_batches(batches):
        # per-partition top-k heaps: (score, doc_key) min-heaps per query
        heaps: list[list] = [[] for _ in range(nq)]
        for pdf in batches:
            for dkey, toks in zip(pdf[doc_key].to_numpy(),
                                  pdf[dvecs_col].to_numpy()):
                d = _stack_bag(toks, dkey, "doc")
                if metric == "cosine":
                    d = unit_rows(d)
                sims = qmat @ d.T                    # (Tq_total, t_d)
                tokmax = sims.max(axis=1)
                for i in range(nq):
                    s = float(tokmax[qoffs[i]:qoffs[i + 1]].sum())
                    h = heaps[i]
                    # (score, _RevKey): score ties at the k boundary
                    # keep the SMALLEST doc keys, deterministically
                    # under any partition/batch order (the final
                    # window sorts score desc, key asc)
                    entry = (s, _RevKey(dkey))
                    if len(h) < kk:
                        heapq.heappush(h, entry)
                    elif h[0] < entry:
                        heapq.heapreplace(h, entry)
        out_q, out_d, out_s = [], [], []
        for i, h in enumerate(heaps):
            for s, rk in h:
                out_q.append(qkeys[i])
                out_d.append(rk.k)
                out_s.append(s)
        yield pd.DataFrame({query_key: out_q, doc_key: out_d,
                            "score": out_s},
                           columns=[query_key, doc_key, "score"])

    cand = corpus.mapInPandas(score_batches, out_schema)
    w = Window.partitionBy(query_key).orderBy(
        F.col("score").desc(), F.col(doc_key).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= kk))


def maxsim_score(queries: DataFrame, docs: DataFrame,
                 pairs: DataFrame | None = None,
                 query_key: str = "qid", doc_key: str = "doc_id",
                 qvecs_col: str = "vecs", dvecs_col: str = "vecs",
                 metric: str = "ip") -> DataFrame:
    """MaxSim for EXPLICIT (query, doc) pairs — the reranking shape
    (a first-stage retriever supplies candidates; late interaction
    rescores them). ``pairs`` (query_key, doc_key) defaults to the full
    cross product ONLY when omitted and both sides are DataFrames the
    caller accepts crossing. One broadcast-queries join against the
    candidate docs, all scoring in one Arrow pass; returns pairs +
    score.

    Empty-bag convention (matches ``maxsim_join``, which drops such
    bags): a pair where either token bag is empty after null filtering
    scores NULL — not NaN, which Spark orders ABOVE every real double
    and would rank no-signal pairs first in the `score desc` rerank this
    function exists for. NULL sorts last under the default
    ``desc_nulls_last``."""
    if metric not in ("ip", "cosine"):
        raise ValueError(f"unknown metric {metric!r}")
    q = (queries.select(F.col(query_key), F.col(qvecs_col).alias("__qv"))
         .where(F.col(qvecs_col).isNotNull()))
    d = (docs.select(F.col(doc_key), F.col(dvecs_col).alias("__dv"))
         .where(F.col(dvecs_col).isNotNull()))
    if pairs is not None:
        joined = (pairs.join(F.broadcast(q), query_key)
                  .join(d, doc_key))
    else:
        joined = F.broadcast(q).crossJoin(d)

    out_fields = [joined.schema[query_key], joined.schema[doc_key],
                  T.StructField("score", T.DoubleType())]
    out_schema = T.StructType(out_fields)
    cols = [query_key, doc_key, "score"]

    def score_batch(batches):
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(columns=cols)
                continue
            scores: list[float | None] = [None] * len(pdf)
            qkeys_b = pdf[query_key].to_numpy()
            dkeys_b = pdf[doc_key].to_numpy()
            for i, (qtoks, dtoks) in enumerate(zip(pdf["__qv"], pdf["__dv"])):
                if len(qtoks) == 0 or len(dtoks) == 0:
                    continue  # NULL score: empty bag has no MaxSim
                qm = _stack_bag(qtoks, qkeys_b[i], "query")
                dm = _stack_bag(dtoks, dkeys_b[i], "doc")
                if metric == "cosine":
                    qm, dm = unit_rows(qm), unit_rows(dm)
                scores[i] = float((qm @ dm.T).max(axis=1).sum())
            out = pdf[[query_key, doc_key]].copy()
            out["score"] = pd.Series(scores, index=out.index,
                                     dtype="Float64")
            yield out[cols]

    return joined.mapInPandas(score_batch, out_schema)

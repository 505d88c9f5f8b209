"""Semantic deduplication (SemDeDup): cluster-bounded embedding near-dup
pruning for 100 TB corpora.

The published recipe (Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", 2023): k-means the embedding
space, compute pairwise cosine similarity ONLY within each cluster, and
keep one representative per semantic-duplicate group. The clustering is
what makes the quadratic step tractable — candidate pairs shrink from
O(n²) to Σ|cluster|², and each cluster's work is an independent task.

Spark shape here:

- one MLlib KMeans fit (optionally on a sample — cost independent of
  corpus size) + one assignment scan;
- one shuffle keyed on the cluster id into ``applyInPandas``, where a
  chunked greedy-leader scan (unit-vector BLAS matmuls, never a full
  |c|² materialization across chunks) marks each row keep/duplicate;
- the output is a FLAGS frame (key, cluster, keep, representative) —
  row-count == input, payload-free, so the verdict join back to the
  corpus is the same cheap pattern as the other dedup operators.

Oversized clusters (k-means on real embeddings produces hot clusters)
can be hash-split with ``max_cluster_rows`` — the same task-memory bound
as IVFIndex.build's list split, at the documented cost that duplicates
straddling sub-splits of one hot cluster are missed (SemDeDup is already
an approximation bounded by cluster granularity).

Unlike ``dedup.embedding_cosine_pairs`` (exact pair GENERATION above a
threshold, LSH- or block-BLAS-planned), this operator implements the
paper's keep/drop DECISION with its leader semantics, so the two are
complementary: pairs when you need the graph, SemDeDup when you need the
pruned corpus in one pass.

Determinism: leader order is total (similarity-to-centroid or key, key
tiebreak), so output is reproducible run-over-run given the seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.distance import unit_rows


def _greedy_leaders(unit: np.ndarray, threshold: float,
                    chunk: int = 1024) -> tuple[np.ndarray, np.ndarray]:
    """Greedy leader scan over rows in the GIVEN order: row i is kept iff
    its cosine similarity to every previously-kept row is < threshold;
    otherwise it records the index of its most-similar kept predecessor.
    Chunked so the working set is (chunk × kept) + (chunk × chunk) — the
    full |c|² matrix is never materialized."""
    n = len(unit)
    keep = np.zeros(n, dtype=bool)
    rep = np.full(n, -1, dtype=np.int64)
    kept: list[int] = []
    for s0 in range(0, n, chunk):
        blk = unit[s0:s0 + chunk]
        b = len(blk)
        sims_prev = blk @ unit[kept].T if kept else None
        self_s = blk @ blk.T
        for i in range(b):
            gi = s0 + i
            best, best_j = -2.0, -1
            if sims_prev is not None and sims_prev.shape[1]:
                j = int(np.argmax(sims_prev[i]))
                if sims_prev[i, j] > best:
                    best, best_j = float(sims_prev[i, j]), kept[j]
            intra = np.flatnonzero(keep[s0:s0 + i])
            if len(intra):
                vv = self_s[i, intra]
                j2 = int(np.argmax(vv))
                if vv[j2] > best:
                    best, best_j = float(vv[j2]), s0 + int(intra[j2])
            if best >= threshold:
                rep[gi] = best_j
            else:
                keep[gi] = True
        kept.extend((s0 + np.flatnonzero(keep[s0:s0 + b])).tolist())
    return keep, rep


def semantic_dedup_flags(df: DataFrame, key: str = "doc_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.9, n_clusters: int = 64,
                         keep: str = "centroid_far",
                         sample_fraction: float | None = None,
                         max_cluster_rows: int | None = None,
                         seed: int = 42, max_iter: int = 20) -> DataFrame:
    """Per-row SemDeDup verdicts: ``(key, __cluster, __keep, __rep)``.

    ``__keep`` marks the retained representative of each semantic-dup
    group; a dropped row's ``__rep`` is the key of the kept leader that
    shadowed it (cosine similarity >= ``threshold``), null when kept.

    ``keep`` picks the leader ORDER inside a cluster:

    - ``"centroid_far"`` (the paper's choice): rows far from their
      centroid lead, so the retained example of each dup group is the
      least prototypical one — SemDeDup's observed-best retention rule.
      Key ascending breaks exact ties.
    - ``"min_key"``: lowest key leads — the same leave-one-copy-at-min-key
      convention as the other dedup operators, and SQL-reproducible.

    One KMeans fit (sampled via ``sample_fraction`` at scale), one
    assignment scan, one cluster-keyed shuffle; the flags frame carries
    no payloads. ``max_cluster_rows`` hash-splits hot clusters to bound
    task memory at the documented recall cost (cross-sub-split dups of
    that cluster are missed)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if keep not in ("centroid_far", "min_key"):
        raise ValueError(f"unknown keep policy {keep!r}")

    work = df.select(key, vec_col).where(F.col(vec_col).isNotNull())
    feats = work.withColumn("__feat", array_to_vector(
        F.col(vec_col).cast("array<double>")))
    fit_on = (feats.sample(sample_fraction, seed=seed)
              if sample_fraction else feats)
    # the clustering only BOUNDS candidate generation — loose centroids
    # shift which near-dups share a cluster, not verdict correctness, so
    # few iterations suffice (``max_iter`` trades fit cost for slightly
    # better-balanced clusters)
    model = KMeans(k=n_clusters, seed=seed, maxIter=max_iter,
                   featuresCol="__feat",
                   predictionCol="__cluster").fit(fit_on)
    assigned = model.transform(feats).drop("__feat")
    origin = list(range(n_clusters))    # physical id -> fitted centroid
    if max_cluster_rows is not None:
        sizes = [int(s) for s in model.summary.clusterSizes]
        if sample_fraction:
            sizes = [int(s / sample_fraction) for s in sizes]
        nxt = n_clusters
        remap = F.col("__cluster")
        for c, cnt in enumerate(sizes):
            if cnt <= max_cluster_rows:
                continue
            s = max(2, -(-cnt // max(1, int(0.75 * max_cluster_rows))))
            ids = [c] + list(range(nxt, nxt + s - 1))
            origin.extend([c] * (s - 1))
            nxt += s - 1
            sub = F.pmod(F.xxhash64(F.col(vec_col)), F.lit(s))
            remap = F.when(
                F.col("__cluster") == c,
                F.element_at(F.array(*[F.lit(i) for i in ids]),
                             sub.cast("int") + 1)).otherwise(remap)
        if nxt > n_clusters:
            assigned = assigned.withColumn("__cluster", remap)

    cents = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    key_field = df.schema[key]
    out_schema = T.StructType([
        key_field,
        T.StructField("__cluster", T.IntegerType()),
        T.StructField("__keep", T.BooleanType()),
        T.StructField("__rep", key_field.dataType),
    ])
    policy = keep

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        cid = int(pdf["__cluster"].iloc[0])
        unit = unit_rows(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        keys = pdf[key].to_numpy()
        if policy == "centroid_far":
            csim = unit @ unit_rows(cents[origin[cid]])
            order = np.lexsort((keys, csim))        # far-first, key tiebreak
        else:
            order = np.argsort(keys)
        inv_unit = unit[order]
        kp, rp = _greedy_leaders(inv_unit, threshold)
        okeys = keys[order]
        reps = np.where(rp >= 0, okeys[np.maximum(rp, 0)], None)
        return pd.DataFrame({
            key: okeys, "__cluster": cid, "__keep": kp, "__rep": reps,
        })

    flags = (assigned.groupBy("__cluster")
             .applyInPandas(prune, out_schema))
    # null-embedding rows can't be judged — they pass through KEPT (null
    # cluster/rep), so the flags frame covers EVERY input row and
    # semantic_dedup never silently drops unembedded documents
    nulls = (df.where(F.col(vec_col).isNull())
             .select(F.col(key),
                     F.lit(None).cast("int").alias("__cluster"),
                     F.lit(True).alias("__keep"),
                     F.lit(None).cast(key_field.dataType).alias("__rep")))
    return flags.unionByName(nulls)


def semantic_dedup(df: DataFrame, key: str = "doc_id",
                   vec_col: str = "embedding", threshold: float = 0.9,
                   n_clusters: int = 64, keep: str = "centroid_far",
                   sample_fraction: float | None = None,
                   max_cluster_rows: int | None = None,
                   seed: int = 42, max_iter: int = 20) -> DataFrame:
    """The pruned corpus: ``df`` minus semantic duplicates — one hash
    join of the payload-free flags frame back onto the input.
    Null-embedding rows are retained (they can't be judged)."""
    flags = semantic_dedup_flags(
        df, key=key, vec_col=vec_col, threshold=threshold,
        n_clusters=n_clusters, keep=keep, sample_fraction=sample_fraction,
        max_cluster_rows=max_cluster_rows, seed=seed, max_iter=max_iter)
    keep_keys = flags.where("__keep").select(key)
    return df.join(keep_keys, on=key, how="inner")

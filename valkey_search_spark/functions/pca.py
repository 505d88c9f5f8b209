"""Embedding PCA — dimensionality reduction for the vector stack.

At 100 TB the embedding column's bytes dominate every vector scan:
projecting 768-dim float32 onto the top-k principal components cuts
scan bytes by d/k before quantization even starts (compose: PCA ->
int8/PQ -> IVF). MLlib computes the covariance DISTRIBUTED (one
treeAggregate over the corpus; the d x d Gramian lives on the driver,
never the rows), and the transform is a JVM matrix multiply — no
Python in either path, no bounded-sample compromise.

Two Spark quirks handled here (both pinned in tests):

- MLlib's ``PCAModel.transform`` does NOT mean-center its input (the
  components come from the covariance, i.e. centered data, but the
  projection multiplies raw vectors). A constant offset is harmless for
  L2 distances but wrong for cosine, so this wrapper folds the
  pre-computed ``-mean @ W`` offset into the output column.
- A fitted model's potential session references are avoided by keeping
  only plain numpy matrices after fit (the quality_model
  ObservationManager lesson) — EmbeddingPCA is a pure value object.

Reference analogue: none (the reference stores raw vectors and offers
no transform); beyond-reference operator per SURVEY.md §2.10, same
family as functions/quantize.py and functions/pq.py.
"""
from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T


def _project_col(vec_col: str, w: np.ndarray, offset: np.ndarray) -> Column:
    """(x @ W) + offset as a JVM expression: one dot-product fold per
    output component (reusing distance.py's literal-vector dot). W is
    (d, k). Null input vectors yield a NULL ARRAY (not an array of
    nulls) so downstream isNotNull guards — IVFIndex.build's included —
    keep working."""
    from .distance import _dot_sql

    k = w.shape[1]
    comps = [(F.expr(_dot_sql(vec_col, list(w[:, j])))
              + F.lit(float(offset[j]))).cast("float") for j in range(k)]
    return F.when(F.col(vec_col).isNotNull(), F.array(*comps))


class EmbeddingPCA:
    """Fitted PCA: ``components`` (d, k), ``mean`` (d,),
    ``explained_variance`` (k,) — plain numpy, session-free."""

    def __init__(self, components: np.ndarray, mean: np.ndarray,
                 explained_variance: np.ndarray, whiten: bool = False):
        self.components = np.asarray(components, dtype=np.float64)
        self.mean = np.asarray(mean, dtype=np.float64)
        self.explained_variance = np.asarray(explained_variance,
                                             dtype=np.float64)
        self.whiten = whiten

    @property
    def k(self) -> int:
        return self.components.shape[1]

    def _effective_w(self) -> np.ndarray:
        w = self.components
        if self.whiten:
            w = w / np.sqrt(np.maximum(self.explained_variance, 1e-12))
        return w

    # above ~8k projection literals the JVM expression's ANALYSIS time
    # dominates (the same measured trap as PQ's literal LUTs) — switch
    # to an Arrow-batched numpy matmul there
    _JVM_LITERAL_BUDGET = 8192

    def transform(self, df: DataFrame, vec_col: str = "embedding",
                  out_col: str = "embedding_pca") -> DataFrame:
        """Add ``out_col`` = centered projection (x - mean) @ W as
        array<float>, zero shuffle. Small d*k runs as a pure JVM
        expression (zip_with/aggregate folds inside codegen, the
        -mean @ W offset folded in as literals); past the literal
        budget one Arrow map does a single batch matmul instead."""
        w = self._effective_w()
        offset = -(self.mean @ w)
        if w.size <= self._JVM_LITERAL_BUDGET:
            return df.withColumn(out_col, _project_col(vec_col, w, offset))

        w64, off64 = np.asarray(w, dtype=np.float64), \
            np.asarray(offset, dtype=np.float64)

        @F.pandas_udf(T.ArrayType(T.FloatType()))
        def project(vecs: pd.Series) -> pd.Series:
            # null embeddings (the multimodal on_error='null' contract
            # produces them) project to null, same as the JVM path
            mask = vecs.notna().to_numpy()
            out = np.full(len(vecs), None, dtype=object)
            if mask.any():
                mat = np.stack(vecs[mask].to_numpy())    # (batch, d)
                proj = (mat @ w64 + off64).astype(np.float32)
                for i, row in zip(np.flatnonzero(mask), proj):
                    out[i] = row
            return pd.Series(out)

        return df.withColumn(out_col, project(F.col(vec_col)))

    # -- persistence (same npz-style contract as the PQ codebook) --------
    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        np.savez(os.path.join(path, "pca.npz"),
                 components=self.components, mean=self.mean,
                 explained_variance=self.explained_variance)
        with open(os.path.join(path, "pca.json"), "w") as f:
            json.dump({"format": "embedding-pca-v1",
                       "whiten": self.whiten, "k": self.k}, f)

    @classmethod
    def load(cls, path: str) -> "EmbeddingPCA":
        with open(os.path.join(path, "pca.json")) as f:
            meta = json.load(f)
        if meta.get("format") != "embedding-pca-v1":
            raise ValueError(f"not a PCA artifact: {path}")
        z = np.load(os.path.join(path, "pca.npz"))
        return cls(z["components"], z["mean"], z["explained_variance"],
                   whiten=meta["whiten"])


def train_pca(df: DataFrame, vec_col: str = "embedding", k: int = 16,
              whiten: bool = False) -> EmbeddingPCA:
    """Fit PCA on the FULL corpus distributed (MLlib covariance — one
    treeAggregate; only the d x d Gramian and the (d, k) components
    reach the driver). ``whiten=True`` scales components by
    1/sqrt(eigenvalue) so output dimensions have ~unit variance (the
    OPQ-friendly form)."""
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer

    # null embeddings are a first-class state here (the multimodal
    # on_error='null' contract) — exclude them from the fit, same as
    # IVFIndex.build
    clean = df.where(F.col(vec_col).isNotNull())
    first = clean.select(vec_col).first()
    if first is None:
        raise ValueError("PCA corpus has no non-null vectors")
    d = len(first[0])
    if not 1 <= k <= d:
        raise ValueError(f"k must be in [1, {d}], got {k}")
    vecs = clean.select(array_to_vector(
        F.col(vec_col).cast("array<double>")).alias("__v"))
    model = MLPCA(k=k, inputCol="__v", outputCol="__p").fit(vecs)
    components = model.pc.toArray()               # (d, k)
    explained = np.asarray(model.explainedVariance.toArray())
    # MLlib reports VARIANCE RATIOS; recover absolute eigenvalues from
    # the total variance. Summarizer = one treeAggregate over the vector
    # column (two expressions for any d — not 2d per-element aggs, the
    # same literal-budget trap transform guards against)
    stats = vecs.select(Summarizer.metrics("mean", "variance")
                        .summary(F.col("__v")).alias("s")).first()["s"]
    mean = np.asarray(stats["mean"].toArray(), dtype=np.float64)
    total_var = float(np.sum(stats["variance"].toArray()))
    eigenvalues = explained * total_var
    return EmbeddingPCA(components, mean, eigenvalues, whiten=whiten)

"""The layer the two ANN artifacts share: ``IVFIndex`` (ann.py) and
``HNSWIndex`` (hnsw.py), each a parquet dataset partitioned by a cell id
(IVF list, HNSW segment) with a JSON meta file beside it. Each rule both
follow is defined here once:

- vector prep: the metric checked before any Spark job, null vectors
  dropped, cosine vectors normalized (zero vectors dropped);
- cells: one KMeans fit, a hash split of oversized cells, and the
  Euclidean nearest-centroid rule queries and appends route by;
- storage tier: its argument checks, codebook training, encode/decode;
- generations: rows carry the generation they were written at,
  tombstones the one they were issued at, and a row is dead iff a
  tombstone for its key has a generation >= the row's, so a later append
  re-inserts a deleted key;
- appended rows and tombstone keys are cast to the stored types (mixed
  physical parquet types in one dataset fail every later scan), and the
  meta JSON is replaced atomically.

Single-writer contract, as the reference's one writer per shard.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from ..artifact import check_format
from ..functions.distance import (
    check_metric, distances, sq_norms, top_k, unit_rows, unit_vector_expr,
)
from ..functions.pq import PQCodebook
from ..functions.quantize import dequantize_vector_expr, quantize_vector_expr
from ..sources.swap import require_local_path, sibling_swap


# -- vector prep ---------------------------------------------------------------
def prepare_vectors(df: DataFrame, vec_col: str, metric: str) -> DataFrame:
    """Rows with a vector, cosine ones normalized (zero vectors dropped).
    An unknown metric raises here, before any Spark job."""
    check_metric(metric)
    work = df.where(F.col(vec_col).isNotNull())
    if metric == "cosine":
        work = (work.withColumn(vec_col, unit_vector_expr(F.col(vec_col)))
                .where(F.col(vec_col).isNotNull()))
    return work


# -- cells ---------------------------------------------------------------------
def split_cells(df: DataFrame, cell_col: str, vec_col: str,
                cell_map: list[list[int]]) -> DataFrame:
    """Route each row of a split centroid to one of its physical cells by
    ``xxhash64(vector)`` — the same formula at build and on append."""
    remap = F.col(cell_col)
    for c, ids in enumerate(cell_map):
        if len(ids) > 1:
            sub = F.pmod(F.xxhash64(F.col(vec_col)), F.lit(len(ids)))
            remap = F.when(
                F.col(cell_col) == c,
                F.element_at(F.array(*[F.lit(i) for i in ids]),
                             sub.cast("int") + 1)).otherwise(remap)
    return df.withColumn(cell_col, remap)


def kmeans_cells(work: DataFrame, vec_col: str, cell_col: str, k: int,
                 seed: int, sample_fraction: float | None,
                 max_rows: int | None, max_iter: int = 20):
    """Fit ``k`` centroids, assign every row to ``cell_col``, and hash-split
    cells whose size exceeds ``max_rows`` into sub-cells targeting ~75%
    fill, so hash fluctuation stays under the cap. Sizes come from the
    KMeans training summary (scaled when fit on a sample). Returns
    (assigned rows, centroid matrix, centroid -> physical cell ids)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = work.withColumn("__feat", array_to_vector(
        F.col(vec_col).cast("array<double>")))
    fit_on = feats.sample(sample_fraction, seed=seed) if sample_fraction else feats
    model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="__feat",
                   predictionCol=cell_col).fit(fit_on)
    cell_map = [[c] for c in range(k)]
    if max_rows is not None:
        sizes = [int(s) for s in model.summary.clusterSizes]
        if sample_fraction:
            sizes = [int(s / sample_fraction) for s in sizes]
        nxt = k
        for c, cnt in enumerate(sizes):
            if cnt > max_rows:
                s = max(2, -(-cnt // max(1, int(0.75 * max_rows))))
                cell_map[c] = [c] + list(range(nxt, nxt + s - 1))
                nxt += s - 1
    assigned = split_cells(model.transform(feats).drop("__feat"), cell_col,
                           vec_col, cell_map)
    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids, cell_map


def nearest_cells(q: np.ndarray, centroids: np.ndarray, n: int, metric: str,
                  cell_map: list[list[int]] | None = None,
                  always: list[int] = ()) -> list[np.ndarray]:
    """Per row of ``q``: the ``n`` nearest centroids by Euclidean distance
    (cosine rows unit-normalized first), expanded through ``cell_map``,
    plus the ``always`` cells. A dot-product ranking against non-unit
    centroids could miss a vector's own cell (centroid norms skew it)."""
    q = np.asarray(q, dtype=np.float64)
    if metric == "cosine":
        q = unit_rows(q)
    d = distances(q, centroids, "l2", sq_norms(centroids, "l2"))
    idx = top_k(d, np.arange(len(centroids)), n)
    if cell_map is None:
        cell_map = [[c] for c in range(len(centroids))]
    return [np.array([p for c in row for p in cell_map[c]] + list(always),
                     dtype="int32") for row in idx]


def nearest_cells_udf(centroids: np.ndarray, n: int, metric: str,
                      cell_map: list[list[int]] | None = None,
                      always: list[int] = ()):
    """``nearest_cells`` as an array<int> pandas UDF over a vector column:
    one Arrow matmul per batch against the broadcast centroid matrix."""
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(nearest_cells(np.stack(vs.to_numpy()), centroids, n,
                                       metric, cell_map, always))

    return cells


# -- storage tier --------------------------------------------------------------
def check_tier(work: DataFrame, vec_col: str, quantize: bool,
               pq_m: int | None, pq_opq_iters: int) -> None:
    """Reject a bad tier before any clustering job is spent on it."""
    if quantize and pq_m:
        raise ValueError("quantize and pq_m are mutually exclusive")
    if pq_opq_iters and not pq_m:
        raise ValueError("pq_opq_iters requires pq_m (OPQ rotates PQ "
                         "codes — nothing to rotate without them)")
    if pq_m:
        probe = work.select(F.size(F.col(vec_col))).first()
        if probe is not None and probe[0] % pq_m:
            raise ValueError(f"dim {probe[0]} not divisible by m={pq_m}")


def train_codebook(work: DataFrame, vec_col: str, pq_m: int | None,
                   pq_opq_iters: int, seed: int):
    """The PQ codebook, or None without ``pq_m``. ``pq_opq_iters > 0``
    learns the OPQ rotation (Ge et al.): same code bytes, better recall on
    correlated embeddings."""
    if not pq_m:
        return None
    if pq_opq_iters:
        return PQCodebook.train_opq(work, vec_col, m=pq_m, seed=seed,
                                    opq_iters=pq_opq_iters)
    return PQCodebook.train(work, vec_col, m=pq_m, seed=seed)


# -- meta ----------------------------------------------------------------------
def replace_file(path: str, write, mode: str = "w") -> None:
    """Write ``path`` whole or not at all: ``write(fh)`` fills a sibling
    temp file, which one ``os.replace`` then moves over ``path``."""
    tmp = path + ".tmp"
    try:
        with open(tmp, mode) as fh:
            write(fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


# -- the artifact base --------------------------------------------------------
class ANNArtifact:
    """Meta persistence, storage tier, appends and generation tombstones
    of an ANN artifact, which carries ``spark``, ``path``, ``vec_col``,
    ``key_col``, ``gen``, ``quantized`` and ``pq``. Subclasses name their
    meta file, format stamp, tombstone directory and tombstone generation
    column (each artifact keeps its own, so existing artifacts load and
    mutate unchanged), and return their meta fields from ``_meta()``."""

    _META: str
    _FORMAT: str
    _TOMBS: str
    _TOMB_GEN: str
    # replaced after every mutation, so a copy derived from the files can
    # tell it is stale (``gen`` cannot: compact resets it to 0)
    _version = None

    @classmethod
    def _load_meta(cls, path: str) -> tuple[str, dict]:
        """(local path, meta) with ``meta["pq"]`` decoded to a codebook."""
        path = require_local_path(path, f"{cls.__name__} artifacts")
        with open(os.path.join(path, cls._META)) as fh:
            meta = json.load(fh)
        # pre-r10 artifacts carry no tag but the identical v1 layout
        check_format(meta, cls._FORMAT, path)
        meta["pq"] = PQCodebook.from_json(meta["pq"]) if meta.get("pq") else None
        return path, meta

    def _save_meta(self, into: str | None = None) -> None:
        # versioned like the reference's RDB chunks
        # (src/rdb_serialization.cc); see artifact.check_format
        meta = {"format": self._FORMAT, **self._meta()}
        replace_file(os.path.join(into or self.path, self._META),
                     lambda fh: json.dump(meta, fh))

    def _swap_in(self, fresh: "ANNArtifact") -> None:
        """Move ``fresh``, fully written at a sibling path, over this
        artifact (sources/swap.py's crash-safe swap) and adopt its state."""
        sibling_swap(self.path, fresh.path)
        vars(self).update({k: v for k, v in vars(fresh).items() if k != "path"})
        self._version = object()

    # -- storage tier ------------------------------------------------------
    @property
    def _code_col(self) -> str:
        """The column the stored vector lives in (int8 struct, PQ code
        bytes or float): by default the vector column's own name, so the
        parquet layout is tier-agnostic."""
        return self.vec_col

    def _encode(self, df: DataFrame) -> DataFrame:
        """The float vector in the storage tier: int8 (functions/quantize)
        or PQ codes against the FIXED build-time codebook — appends too;
        a drifted distribution needs a rebuild to retrain it."""
        if self.quantized:
            code = quantize_vector_expr(F.col(self.vec_col))
        elif self.pq is not None:
            code = self.pq.encode_udf()(F.col(self.vec_col))
        else:
            return df
        df = df.withColumn(self._code_col, code)
        return df if self._code_col == self.vec_col else df.drop(self.vec_col)

    def _decode(self, df: DataFrame) -> DataFrame:
        """The float vector back, reconstructed JVM-side from int8 or PQ
        codes (lossy by design), so the parquet scan reads the smaller
        column either way."""
        code = self._code_col
        if self.quantized:
            df = df.withColumn(self.vec_col, dequantize_vector_expr(F.col(code)))
        elif self.pq is not None:
            if code == self.vec_col:
                df, code = df.withColumnRenamed(code, "__pqcode"), "__pqcode"
            return self.pq.attach_decode(df, self.vec_col, code_col=code)
        return df if code == self.vec_col else df.drop(code)

    # -- generations -------------------------------------------------------
    def _stored_schema(self) -> T.StructType:
        return self.spark.read.parquet(self.path).schema   # metadata only

    @property
    def _tomb_dir(self) -> str:
        return os.path.join(self.path, self._TOMBS)

    def _tombstones(self) -> DataFrame | None:
        """(key, generation) rows, or None when no delete was ever issued."""
        if not os.path.isdir(self._tomb_dir):
            return None
        return self.spark.read.parquet(self._tomb_dir)

    def _with_alive(self, df: DataFrame) -> DataFrame:
        """Adds ``__alive``: false iff a tombstone for the row's key has a
        generation >= the row's ``__gen``. Tombstones are tiny next to the
        corpus (they compact away), so this is one broadcast join, never a
        corpus shuffle."""
        tombs = self._tombstones()
        if tombs is None:
            return df.withColumn("__alive", F.lit(True))
        if "__gen" not in df.columns:      # pre-mutation-era artifact
            df = df.withColumn("__gen", F.lit(0))
        t = (tombs.groupBy(F.col(self.key_col).alias("__tkey"))
             .agg(F.max(self._TOMB_GEN).alias("__tgen")))
        return (df.join(F.broadcast(t), df[self.key_col] == F.col("__tkey"),
                        "left")
                .withColumn("__alive", F.col("__tgen").isNull()
                            | (F.col("__tgen") < F.col("__gen")))
                .drop("__tkey", "__tgen"))

    def _live(self, df: DataFrame) -> DataFrame:
        """``df`` without its dead rows."""
        return self._with_alive(df).where(F.col("__alive")).drop("__alive")

    @contextmanager
    def _generation(self):
        """Yield the next generation for one mutation's writes. Once they
        succeed it becomes the artifact's generation, before the meta is
        saved: if that save fails, this object still never reuses a
        generation that already has files."""
        gen = self.gen + 1
        yield gen
        self.gen = gen
        self._version = object()
        self._save_meta()

    def _append_rows(self, rows: DataFrame, cell_col: str) -> None:
        """Append ``rows`` cast to the stored column names and types."""
        want = self._stored_schema()
        (rows.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                       for f in want.fields])
         .write.mode("append").partitionBy(cell_col).parquet(self.path))

    def _delete(self, keys, key: str) -> None:
        """Tombstone ``keys`` (a Python sequence or a one-column DataFrame)
        at the next generation, in the stored key type."""
        ktype = self._stored_schema()[key].dataType
        if isinstance(keys, DataFrame):
            tomb = keys.select(F.col(keys.columns[0]).cast(ktype).alias(key))
        else:
            tomb = self.spark.createDataFrame(
                [(k,) for k in keys], schema=f"`{key}` {ktype.simpleString()}")
        with self._generation() as gen:
            (tomb.withColumn(self._TOMB_GEN, F.lit(gen))
             .write.mode("append").parquet(self._tomb_dir))

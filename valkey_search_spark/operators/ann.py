"""Approximate nearest neighbor at scale: IVF (inverted-file) index.

The reference's HNSW graph (/root/reference/src/indexes/vector_hnsw.cc:315-340)
is a pointer-chasing in-memory structure — wrong shape for a columnar
cluster engine. The Spark-native equivalent of "ANN index" is IVF:

- BUILD (batch job): MLlib KMeans fits ``n_lists`` centroids on a sample;
  every vector is assigned its nearest centroid; the table is persisted as
  Parquet **partitioned by list id**.
- SEARCH: the query probes the ``nprobe`` nearest centroids (driver-side
  numpy over the tiny centroid matrix) and scans ONLY those partitions —
  Catalyst partition pruning turns nprobe/n_lists directly into I/O
  fraction: at 100 TB with 1024 lists and nprobe=16, a query reads ~1.6%
  of the data. Inside the probed lists the distance is exact, so
  nprobe=n_lists degrades gracefully to exact brute force (recall 1.0).

Every distance, in SQL or numpy, and every numpy (distance, key) cut
comes from functions/distance.py, so scores match FLAT search.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.distance import (
    canonical, check_metric, distance_column, distances, emit, sq_norms,
    top_k, unit_rows,
)
from ..sources.swap import require_local_path, sibling_swap
from .ann_layer import (
    ANNArtifact, check_tier, kmeans_cells, nearest_cells,
    nearest_cells_udf, prepare_vectors, split_cells, train_codebook,
)


class IVFIndex(ANNArtifact):
    """Persisted IVF index over one vector column."""

    _META = "_ivf_meta.json"
    _FORMAT = "ivf-index-v1"
    _TOMBS = "_tombstones"
    _TOMB_GEN = "__gen"

    def __init__(self, spark: SparkSession, path: str, vec_col: str,
                 metric: str, centroids: np.ndarray,
                 quantized: bool = False, pq=None,
                 list_map: list[list[int]] | None = None,
                 gen: int = 0, key_col: str | None = None):
        self.spark = spark
        self.path = path
        self.vec_col = vec_col
        self.metric = metric
        self.centroids = centroids
        self.quantized = quantized
        self.pq = pq                          # PQCodebook | None
        # centroid id -> physical list ids (identity unless an oversized
        # list was split at build; probing a centroid probes ALL of its
        # physical sub-lists, so split indexes keep unsplit recall)
        self.list_map = (list_map if list_map is not None
                         else [[c] for c in range(len(centroids))])
        # mutation generation counter (ann_layer's generation rule)
        self.gen = gen
        self.key_col = key_col                # tombstone identity column

    # ------------------------------------------------------------------
    @classmethod
    def build(cls, df: DataFrame, path: str, vec_col: str = "embedding",
              metric: str = "l2", n_lists: int = 16,
              sample_fraction: float | None = None, seed: int = 42,
              max_iter: int = 20, quantize: bool = False,
              pq_m: int | None = None, pq_opq_iters: int = 0,
              max_list_rows: int | None = None,
              key_col: str | None = None) -> "IVFIndex":
        """Batch index build == the reference's backfill+graph-build collapsed
        into one KMeans job + one partitioned write. ``sample_fraction``
        bounds the KMeans fit cost at scale (fit on a sample, assign all).

        ``quantize=True`` stores the vector column as symmetric per-vector
        int8 (struct<q: array<tinyint>, scale: float> — functions/quantize)
        instead of float, cutting the index's scan bytes ~3-4x; readers
        dequantize JVM-side inside the pruned scan, so every search path
        works unchanged against a quantized index at slightly reduced
        distance precision (see tests/test_quantize.py recall bound and
        SCALE.md). The reference keeps float32 in RAM (vector_base.h) —
        this is the storage-tier dial its in-memory design never needed.

        ``pq_m=<m>`` goes further: product quantization stores m CODE
        BYTES per vector (functions/pq.py — 32x smaller at d=64/m=8).
        Search uses asymmetric distance (exact query vs per-subspace
        LUT, pure JVM element_at); read paths reconstruct approximate
        floats from the codebook so every consumer works unchanged.
        Mutually exclusive with ``quantize``.

        ``max_list_rows`` bounds per-list skew: KMeans on real embedding
        distributions produces hot lists, and a single oversized list
        caps the bucketed join's parallelism and per-task memory (the
        cogroup scorer loads one list's rows into numpy). Lists whose
        (estimated) size exceeds the cap are hash-split into sub-lists
        targeting ~75% fill; probing a centroid probes all of its
        sub-lists, so recall semantics are exactly those of the unsplit
        index while no physical partition exceeds the cap (up to hash
        fluctuation around the 75% target). Sizes come free from the
        KMeans training summary (scaled when fit on a sample)."""
        path = require_local_path(path, "IVFIndex artifacts")
        work = prepare_vectors(df, vec_col, metric)
        # validate FIRST — failing after the KMeans fit would waste an
        # entire distributed clustering job
        check_tier(work, vec_col, quantize, pq_m, pq_opq_iters)
        assigned, centroids, list_map = kmeans_cells(
            work, vec_col, "__list", n_lists, seed, sample_fraction,
            max_list_rows, max_iter)
        index = cls(df.sparkSession, path, vec_col, metric, centroids,
                    quantized=quantize,
                    pq=train_codebook(work, vec_col, pq_m, pq_opq_iters, seed),
                    list_map=list_map, gen=0, key_col=key_col)
        (index._encode(assigned).withColumn("__gen", F.lit(0))
         .write.mode("overwrite").partitionBy("__list").parquet(path))
        index._save_meta()
        return index

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        path, meta = cls._load_meta(path)
        return cls(spark, path, meta["vec_col"], meta["metric"],
                   np.asarray(meta["centroids"]),
                   quantized=meta.get("quantized", False), pq=meta["pq"],
                   list_map=meta.get("list_map"),
                   gen=meta.get("gen", 0), key_col=meta.get("key_col"))

    def _meta(self) -> dict:
        return {"vec_col": self.vec_col, "metric": self.metric,
                "quantized": self.quantized,
                "pq": self.pq.to_json() if self.pq else None,
                "centroids": self.centroids.tolist(),
                "list_map": self.list_map,
                "gen": self.gen, "key_col": self.key_col}

    @property
    def _code_col(self) -> str:
        # int8 and PQ codes live in their own columns; float in vec_col
        if self.quantized:
            return "__qvec"
        return "__pqcode" if self.pq is not None else self.vec_col

    # -- mutation layer (reference: live index mutation on keyspace
    # events, src/indexes/vector_base.cc AddRecord/RemoveRecord — here
    # parquet appends + generation-versioned tombstones, no rebuild) ----
    _tomb_path = ANNArtifact._tomb_dir

    def scan_raw(self) -> DataFrame:
        """The persisted rows in STORAGE form (float / int8 struct / PQ
        code bytes) with deleted rows filtered out — the one read entry
        point every search path goes through."""
        return self._live(self.spark.read.parquet(self.path))

    def _resolve_key(self, key_col: str | None) -> str:
        key = key_col or self.key_col
        if key is None:
            raise ValueError(
                "index has no key_col — pass key_col= (or set it at build) "
                "before using append/delete/upsert")
        if self.key_col is not None and key != self.key_col:
            raise ValueError(
                f"key_col {key!r} != index key_col {self.key_col!r}")
        # a pre-mutation-era artifact has no __gen column; appending
        # versioned rows into it would mix file schemas, and tombstones
        # could not distinguish old rows from re-inserts — require a
        # rebuild instead of corrupting the layout (metadata-only check)
        if "__gen" not in self._stored_schema().names:
            raise ValueError(
                "this index artifact predates the mutation layer (no "
                "__gen column) — rebuild it to enable append/delete/upsert")
        self.key_col = key                 # the first mutation binds it
        return key

    def append(self, df: DataFrame, key_col: str | None = None) -> None:
        """Insert new vectors WITHOUT a rebuild — the reference mutates
        its in-memory graph per keyspace event (vector_base.cc
        AddRecord); the columnar equivalent is: assign each new vector to
        its nearest centroid (one Arrow matmul against the broadcast
        centroid matrix — same stage shape as knn_join_bucketed's probe),
        re-apply the build's deterministic hash split for oversized
        lists, encode through the index's storage tier (int8 / PQ codes
        against the FIXED codebook — appended vectors quantize with the
        build-time codebook; retrain via rebuild if the distribution
        drifts), and parquet-append into the same partition layout.
        Search, bucketed join and persistence see appended rows with no
        code changes because every path reads through scan_raw().

        Assignment is Euclidean argmin for every metric, mirroring the
        KMeans assignment at build, so a vector appends into exactly the
        list build would have put it in. Single-writer contract (as the
        reference: one writer per shard); appends accumulate small
        parquet files — compact by rebuilding when list sizes drift past
        the build-time skew cap."""
        self._resolve_key(key_col)
        work = prepare_vectors(df, self.vec_col, self.metric)
        nearest = nearest_cells_udf(self.centroids, 1, self.metric)
        assigned = split_cells(
            work.withColumn("__list", nearest(F.col(self.vec_col))[0]),
            "__list", self.vec_col, self.list_map)
        with self._generation() as gen:
            self._append_rows(self._encode(assigned)
                              .withColumn("__gen", F.lit(gen)), "__list")

    def delete(self, keys, key_col: str | None = None) -> None:
        """Tombstone-delete by key (reference: RemoveRecord). ``keys`` is
        a Python sequence or a one-column DataFrame. Read paths drop dead
        rows via one broadcast join against the (key, max gen) tombstone
        set; tombstones vanish at the next rebuild."""
        self._delete(keys, self._resolve_key(key_col))

    def upsert(self, df: DataFrame, key_col: str | None = None) -> None:
        """Replace-by-key: tombstone the batch's keys at gen g, append
        the new rows at gen g+1 — the per-document overwrite semantics
        the reference applies when an indexed hash is rewritten."""
        key = self._resolve_key(key_col)
        self.delete(df.select(key), key_col=key)
        self.append(df, key_col=key)

    def compact(self) -> None:
        """The mutation layer's GC: rewrite only the ALIVE rows at gen 0
        and clear the tombstone set. Centroids, codebooks and list
        membership are untouched (no re-clustering) — this folds deletes
        into the layout and merges append file fragments, the cheap
        maintenance step between full rebuilds. One corpus read + one
        partitioned write; single-writer contract, like every mutation.

        Crash-safe swap order: the replacement artifact (data + meta) is
        fully written as a sibling before the old one moves aside, so a
        kill at any point leaves a loadable index at either the original
        or the .old path. Refuses to compact a fully-deleted index (an
        empty partitioned parquet has no readable schema) — drop or
        rebuild instead."""
        import shutil

        alive = self.scan_raw().withColumn("__gen", F.lit(0))
        tmp = self.path.rstrip("/") + ".compact"
        alive.write.mode("overwrite").partitionBy("__list").parquet(tmp)
        # zero alive rows -> the partitioned write emitted no data files
        if not any(e.startswith("__list=") for e in os.listdir(tmp)):
            shutil.rmtree(tmp, ignore_errors=True)
            raise ValueError(
                "every row of this index is tombstoned — compacting "
                "would write an empty (schema-less) artifact; drop the "
                "index or rebuild it from a fresh corpus instead")
        self.gen = 0
        self._save_meta(into=tmp)                  # tmp is self-contained
        sibling_swap(self.path, tmp)

    def rebuild(self, source: DataFrame | None = None,
                n_lists: int | None = None,
                **build_kwargs) -> "IVFIndex":
        """Full re-clustering in place — the answer to centroid drift
        that compact() can't fix (appends assign to FROZEN centroids, so
        a shifted distribution degrades probe recall over time). Builds
        a fresh index from ``source`` (or, by default, this index's own
        alive rows) with the same vec_col/metric/key_col and storage
        tier, then swaps it under this path with the same crash-safe
        sibling dance as compact(). n_lists and any IVFIndex.build
        kwarg can be overridden.

        For PQ indexes pass ``source``: rebuilding from the index's own
        rows re-trains the codebook on lossy reconstructions (error
        compounds); int8/float tiers rebuild fine from themselves."""
        if source is None:
            source = self._read().drop("__list", "__gen")
        kwargs = {"quantize": self.quantized,
                  "pq_m": self.pq.m if self.pq is not None else None,
                  "pq_opq_iters": (8 if self.pq is not None
                                   and self.pq.rotation is not None else 0)}
        kwargs.update(build_kwargs)
        tmp = self.path.rstrip("/") + ".rebuild"
        self._swap_in(IVFIndex.build(
            source, tmp, vec_col=self.vec_col, metric=self.metric,
            n_lists=n_lists or self.n_lists, key_col=self.key_col,
            **kwargs))
        return self

    def list_sizes(self) -> dict[int, int]:
        """Rows per physical list (one aggregation job) — the skew
        monitor for deciding when append drift warrants a compact() or
        rebuild (SCALE.md: one oversized list caps the bucketed join's
        parallelism and task memory)."""
        return {r["__list"]: r["n"] for r in
                (self.scan_raw().groupBy("__list")
                 .agg(F.count("*").alias("n")).collect())}

    def _read(self) -> DataFrame:
        """The persisted corpus with ``vec_col`` as float — dequantized
        JVM-side (whole-stage codegen) when the index stores int8 or PQ
        codes, so the parquet scan reads the smaller column either way
        (PQ reconstruction is lossy by design)."""
        return self._decode(self.scan_raw())

    # ------------------------------------------------------------------
    def _probe_lists(self, qvec: list[float], nprobe: int) -> list[int]:
        """PHYSICAL list ids for the ``nprobe`` nearest centroids —
        nprobe counts centroids; a split centroid contributes all of its
        sub-lists, so recall is independent of build-time splitting."""
        return nearest_cells([qvec], self.centroids, nprobe, self.metric,
                             self.list_map)[0].tolist()

    def search(self, qvec: list[float], k: int = 10, nprobe: int = 4,
               prefilter=None, score_name: str = "__score",
               tiebreak_col: str | None = None) -> DataFrame:
        """Top-k by declared metric over the probed lists. The `__list IN
        (...)` predicate prunes partitions at plan time; the per-list scan is
        an exact distance + TakeOrderedAndProject (no shuffle beyond the
        final k-row merge). ``prefilter``: a SQL predicate (FT.SEARCH
        passes the translator's text) or a Column. ``tiebreak_col`` (a key
        column) makes the cut deterministic under distance ties."""
        lists = self._probe_lists(qvec, nprobe)
        q = np.asarray(qvec, dtype=np.float64)
        if self.pq is not None:
            # ADC fast path: score straight off the m-byte codes (exact
            # query vs per-subspace LUT, pure JVM element_at) — the
            # float reconstruction column stays in the plan only if the
            # prefilter or a downstream projection actually asks for the
            # vector (so the prefilter sees the same columns as on
            # float/int8 indexes). The LUTs take the query as given, so
            # a cosine query is made unit here; distance_sql does that
            # itself on the other tiers.
            q = (unit_rows(q) if self.metric == "cosine" else q).tolist()
            df = self.scan_raw().where(F.col("__list").isin(lists))
            scored = self.pq.attach_adc(df, q, self.metric,
                                        score_name=score_name)
            scored = self.pq.attach_decode(scored, self.vec_col)
            if prefilter is not None:
                scored = scored.where(prefilter)
        else:
            df = self._read().where(F.col("__list").isin(lists))
            if prefilter is not None:
                df = df.where(prefilter)
            scored = df.withColumn(
                score_name, distance_column(self.vec_col, q.tolist(),
                                            self.metric))
        order = [F.col(score_name).asc()]
        if tiebreak_col is not None:
            order.append(F.col(tiebreak_col).asc())
        return scored.orderBy(*order).limit(k).drop("__list", "__gen")

    @property
    def n_lists(self) -> int:
        """Number of CENTROIDS (the nprobe dial's units)."""
        return len(self.centroids)

    @property
    def n_physical_lists(self) -> int:
        """Number of physical parquet partitions (>= n_lists when
        oversized lists were hash-split at build)."""
        return sum(len(ids) for ids in self.list_map)



def _collect_matrix(df: DataFrame, key_col: str, vec_col: str,
                    dtype=np.float64):
    """Collect a (key, vector) frame to ``(keys ndarray, matrix
    ndarray)`` through ONE Arrow fetch. The row path —
    ``np.array([r[c] for r in df.collect()])`` — converts every cell
    through a boxed Python object (measured ~2 s per 5k x 256 collect
    on the bench's hybrid row); reshaping the Arrow list column's
    values buffer is ~50x cheaper and byte-identical. Falls back to
    the row path for ragged vectors, element nulls, or any Arrow
    surprise (the contract is the OLD behavior, faster)."""
    try:
        tbl = df.select(key_col, vec_col).toArrow()
        kcol = tbl.column(0)
        if kcol.null_count:
            # to_numpy would coerce e.g. int64-with-nulls to float64 NaN;
            # boxed keys keep the row path's exact null semantics
            keys = np.array(kcol.to_pylist(), dtype=object)
        else:
            keys = kcol.to_numpy(zero_copy_only=False)
        col = tbl.column(1).combine_chunks()
        if len(col) and col.null_count == 0 and col.values.null_count == 0:
            off = col.offsets.to_numpy()
            widths = np.diff(off)
            if widths.size and widths[0] > 0 and (widths == widths[0]).all():
                flat = col.values.to_numpy(zero_copy_only=False)
                mat = np.asarray(flat[off[0]:off[-1]], dtype=dtype) \
                    .reshape(len(col), int(widths[0]))
                return keys, mat
        return keys, np.array(col.to_pylist(), dtype=dtype)
    except Exception:
        rows = df.select(key_col, vec_col).collect()
        keys = np.array([r[0] for r in rows])
        return keys, np.array([r[1] for r in rows], dtype=dtype)


def recall_at_k(approx: DataFrame, exact: DataFrame, key: str, k: int) -> float:
    """Fraction of the exact top-k present in the approximate top-k —
    for SINGLE-query result frames (``IVFIndex.search`` output). For
    multi-query batch joins use ``batch_recall``, which matches
    (query, corpus) pairs; this helper just compares the first k rows."""
    a = {r[key] for r in approx.limit(k).collect()}
    e = {r[key] for r in exact.limit(k).collect()}
    return len(a & e) / max(len(e), 1)


def batch_recall(approx: DataFrame, exact: DataFrame,
                 query_key: str = "qid", corpus_key: str = "cid") -> float:
    """Batch recall for multi-query KNN joins: the fraction of exact
    (query, corpus) result pairs also present in the approximate
    result — one pair join, no per-query driver loop."""
    e = exact.select(query_key, corpus_key)
    a = approx.select(query_key, corpus_key)
    n = e.count()
    return a.join(e, [query_key, corpus_key]).count() / max(n, 1)


def _knn_join_flipped(queries: DataFrame, corpus: DataFrame, k: int,
                      query_key: str, corpus_key: str, vec_col: str,
                      metric: str, batch_size: int,
                      max_broadcast_bytes: int | None) -> DataFrame:
    """Over-cap ``knn_join`` without an index: broadcast the QUERY
    matrix, stream the corpus through one distributed BLAS scan with a
    per-partition running (distance, key) top-k per query, reduce
    through one window. Exactly one corpus pass, no KMeans fit, no
    artifact — the cheapest exact plan for a one-shot join of a
    moderate query batch against a corpus too big to broadcast. The
    shuffle into the window carries at most partitions x |Q| x k rows.

    Same semantics as the broadcast direction: reference metric map,
    expanded-norm l2, (distance, corpus key) tie order, NaN distances
    sort last. Duplicate query KEYS keep per-row semantics too: each
    input row gets its own top-k (the reduce windows on a per-row
    query index carried through the scan, not on ``query_key``).
    Raises when the query matrix ALSO exceeds the cap — build an
    ``IVFIndex`` (``index_path=``) for huge-x-huge joins."""
    from collections.abc import Iterator

    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    spark = queries.sparkSession
    # ONE Arrow fetch of the query matrix (the _collect_matrix recipe —
    # the boxed-Row path converted every cell through a Python object)
    qkeys, qmat = _collect_matrix(
        queries.select(query_key, vec_col)
        .where(F.col(vec_col).isNotNull()), query_key, vec_col)
    out_schema_full = T.StructType([
        queries.schema[query_key],
        T.StructField(corpus_key, corpus.schema[corpus_key].dataType),
        T.StructField("distance", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ])
    if not len(qkeys):
        return spark.createDataFrame([], out_schema_full)
    qdim = qmat.shape[1]
    if max_broadcast_bytes is not None and \
            len(qkeys) * qdim * 8 > max_broadcast_bytes:
        raise ValueError(
            f"both sides of knn_join exceed max_broadcast_bytes="
            f"{max_broadcast_bytes} (query matrix ~{len(qkeys) * qdim * 8}"
            " B). Build an IVFIndex (pass index_path=) so the corpus is "
            "list-partitioned once and probed per query batch.")
    if metric == "cosine":
        qmat = unit_rows(qmat)
    bcq = spark.sparkContext.broadcast((qkeys, qmat))

    scan_schema = T.StructType([
        T.StructField("__qidx", T.IntegerType()),
        queries.schema[query_key],
        T.StructField(corpus_key, corpus.schema[corpus_key].dataType),
        T.StructField("distance", T.DoubleType()),
    ])

    def scan_corpus(batches: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
        qk, qm = bcq.value
        nq = len(qk)
        # running (|Q|, <= k) top-k, merged with each chunk's distances
        run_d = np.empty((nq, 0), dtype=np.float64)
        run_key = np.empty((nq, 0), dtype=object)
        for arrow_batch in batches:
            arrow_batch = arrow_batch.dropna(subset=[vec_col])
            # re-chunk to batch_size: the distance matrix is |Q| x chunk
            for lo in range(0, len(arrow_batch), batch_size):
                pdf = arrow_batch.iloc[lo:lo + batch_size]
                cmat = np.array(list(pdf[vec_col]), dtype=np.float64)
                if metric == "cosine":
                    cmat = unit_rows(cmat)
                d = emit(distances(qm, cmat, metric, sq_norms(cmat, metric)),
                         metric)
                keys = np.broadcast_to(pdf[corpus_key].to_numpy(), d.shape)
                alld = np.concatenate([run_d, d], axis=1)
                allk = np.concatenate([run_key, keys], axis=1)
                idx = top_k(alld, allk, k)
                run_d = np.take_along_axis(alld, idx, axis=1)
                run_key = np.take_along_axis(allk, idx, axis=1)
        kk = run_d.shape[1]
        yield pd.DataFrame({
            "__qidx": np.repeat(np.arange(nq, dtype=np.int32), kk),
            query_key: np.repeat(qk, kk),
            corpus_key: run_key.ravel(),
            "distance": run_d.ravel(),
        }, columns=["__qidx", query_key, corpus_key, "distance"])

    scanned = corpus.select(corpus_key, vec_col).dropna().mapInPandas(
        scan_corpus, scan_schema)
    # window on the per-ROW query index, not query_key: duplicate keys
    # in the query batch must each keep their own top-k, exactly as the
    # broadcast direction scores every input row independently
    w = Window.partitionBy("__qidx").orderBy(
        F.col("distance").asc_nulls_last(), F.col(corpus_key).asc())
    return (scanned.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_key, corpus_key, "distance", "rank"))


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 10,
             query_key: str = "qid", corpus_key: str = "cid",
             vec_col: str = "embedding", metric: str = "l2",
             batch_size: int = 1024,
             max_broadcast_bytes: int | None = 1 << 30,
             index_path: str | None = None,
             corpus_size_hint: tuple[int, int] | None = None) -> DataFrame:
    """Batch KNN join: for every query row, its k nearest corpus rows.

    Plan shape for scale: the corpus (key + vectors only) is broadcast to
    every task as one numpy matrix; queries stream through mapInPandas in
    Arrow batches, each scored against the matrix with one BLAS matmul and
    reduced to top-k via argpartition — no shuffle at all, wall-clock is
    |Q|x|C| flops spread across query partitions.

    The broadcast contract is SIZE-CHECKED: when the corpus vector matrix
    estimate (rows x dim x 8 bytes, two cheap metadata jobs) exceeds
    ``max_broadcast_bytes`` (default 1 GB), the join auto-routes to an
    exact distributed plan with no driver-side corpus materialization.
    WHICH plan depends on whether the index is worth keeping: with
    ``index_path`` set, an ``IVFIndex`` is built there and the join runs
    ``knn_join_bucketed`` at FULL probe (pay the KMeans fit once, reuse
    the artifact for every later batch); without it, the one-shot
    FLIPPED plan runs instead — query matrix broadcast, corpus streamed
    through one BLAS scan with per-partition running top-k, one window
    (``_knn_join_flipped``; no fit, no artifact, exactly one corpus
    pass). Both return the same rows as the broadcast path. Pass
    ``max_broadcast_bytes=None`` to force the broadcast path for a
    corpus known to fit.

    Ties broken by corpus key ascending, so results are deterministic and
    oracle-comparable. Distances follow the reference metric map
    (/root/reference/src/indexes/vector_base.h:106-110). Float caveat
    (standard for any distributed distance system): the key tiebreak
    applies to distances that compare EXACTLY equal; distances within
    ~1 ulp of each other can order differently across plan shapes,
    because BLAS accumulation is position-dependent — identical vectors
    at different matrix positions have been observed scoring 0.0 vs
    -2.2e-16 (pinned in tests/test_knn_join.py's fuzz).

    ``corpus_size_hint=(rows, dim)`` skips the two eager metadata jobs
    (a ``first()`` for the dimension and a ``count()``) that the size
    check otherwise runs on every call — callers that already know the
    corpus shape (e.g. they just wrote it) route with zero pre-jobs.
    """
    from collections.abc import Iterator

    from pyspark.sql import types as T

    check_metric(metric)
    spark = queries.sparkSession
    if max_broadcast_bytes is not None:
        if corpus_size_hint is not None:
            n_rows, dim = corpus_size_hint
        else:
            first = corpus.select(vec_col).where(
                F.col(vec_col).isNotNull()).first()
            dim = len(first[0]) if first else 0
            n_rows = corpus.count()
        est = n_rows * dim * 8
        if est > max_broadcast_bytes:
            if index_path is None:
                # one-shot over-cap join: FLIP the broadcast side — one
                # pass over the corpus, no KMeans fit, no index artifact
                # (build an IVFIndex via index_path= when the join is
                # repeated or the query batch is itself huge)
                return _knn_join_flipped(
                    queries, corpus, k=k, query_key=query_key,
                    corpus_key=corpus_key, vec_col=vec_col, metric=metric,
                    batch_size=batch_size,
                    max_broadcast_bytes=max_broadcast_bytes)
            n_lists = max(16, spark.sparkContext.defaultParallelism)
            # bound the KMeans fit at ~200k sampled rows — assignment still
            # scans everything once, but the iterative fit must not
            frac = min(1.0, 200_000 / max(n_rows, 1))
            # the cogroup scorer holds one list as a float64 numpy matrix;
            # cap any list at ~256 MB of matrix so a KMeans hot spot can't
            # blow a task (hash-split at build, recall unchanged)
            cap = max(1024, (256 << 20) // max(dim * 8, 1))
            index = IVFIndex.build(
                corpus.select(corpus_key, vec_col), path=index_path,
                vec_col=vec_col, metric=metric, n_lists=n_lists,
                sample_fraction=None if frac >= 1.0 else frac,
                max_list_rows=cap)
            return knn_join_bucketed(
                queries, index, k=k, nprobe=index.n_lists,
                query_key=query_key, corpus_key=corpus_key, vec_col=vec_col)
    ckeys, cmat = _collect_matrix(
        corpus.select(corpus_key, vec_col).dropna(), corpus_key, vec_col)
    if metric == "cosine":
        cmat = unit_rows(cmat)
    order = np.argsort(ckeys)           # deterministic tiebreak by corpus key
    ckeys, cmat = ckeys[order], cmat[order]
    bc = spark.sparkContext.broadcast((ckeys, cmat))

    qkey_field = queries.schema[query_key]
    ckey_type = corpus.schema[corpus_key].dataType
    out_schema = T.StructType([
        qkey_field, T.StructField(corpus_key, ckey_type),
        T.StructField("distance", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keys, mat = bc.value
        csq = sq_norms(mat, metric)
        for arrow_batch in batches:
            arrow_batch = arrow_batch.dropna(subset=[vec_col])
            # re-chunk Arrow's batches (10k rows by default) down to
            # batch_size: the distance matrix is chunk x |corpus|
            # float64, and an unchunked 10k x 200k corpus would
            # allocate 16 GB per task
            for lo in range(0, len(arrow_batch), batch_size):
                pdf = arrow_batch.iloc[lo:lo + batch_size]
                q = np.array(list(pdf[vec_col]), dtype=np.float64)
                if metric == "cosine":
                    q = unit_rows(q)
                d = emit(distances(q, mat, metric, csq), metric)
                idx = top_k(d, keys, k)
                kk = idx.shape[1]
                yield pd.DataFrame({
                    query_key: np.repeat(pdf[query_key].to_numpy(), kk),
                    corpus_key: keys[idx].ravel(),
                    "distance": np.take_along_axis(d, idx, axis=1).ravel(),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32),
                                    len(pdf)),
                }, columns=[query_key, corpus_key, "distance", "rank"])

    return queries.select(query_key, vec_col).mapInPandas(score, out_schema)


def knn_join_bucketed(queries: DataFrame, index: IVFIndex, k: int = 10,
                      nprobe: int = 4, query_key: str = "qid",
                      corpus_key: str = "cid",
                      vec_col: str = "embedding") -> DataFrame:
    """Batch KNN join against an IVF-partitioned corpus — the
    beyond-broadcast path (``knn_join`` collects the corpus to the driver,
    fine to ~1 GB; this never materializes the corpus anywhere).
    Duplicate query keys keep per-row semantics: every input row gets
    its own top-k, exactly as ``knn_join``'s broadcast direction.

    Plan shape: each query is assigned its ``nprobe`` nearest centroid
    lists (one Arrow batch matmul against the tiny centroid matrix, then
    posexplode); the corpus parquet is partition-PRUNED to the union of
    probed lists (a driver-side distinct of at most n_lists ints); both
    sides cogroup on the list id and a per-list BLAS matmul emits each
    query's local top-k; a final window keeps the global (distance, key)
    top-k. Shuffle volume is |Q|*nprobe rows in and |Q|*nprobe*k candidate
    rows out — never |Q|x|C|. With nprobe == index.n_lists the result is
    exactly the brute-force join (tested against the same oracle).

    Parallelism is bounded by the number of probed lists (one cogroup per
    list), so size n_lists to >= the cluster's core count at scale."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    metric = index.metric
    nprobe = min(nprobe, index.n_lists)
    # nearest centroids expanded to their physical sub-lists (identity
    # unless the build split an oversized list)
    probe_lists = nearest_cells_udf(index.centroids, nprobe, metric,
                                    index.list_map)

    if nprobe >= index.n_lists:
        # full probe: every query scores against every list — no need
        # for the Arrow centroid-assignment pass, a JVM explode of the
        # list range is equivalent and keeps the stage Python-free
        # (physical ids are contiguous 0..n_physical-1 by construction)
        all_lists = F.sequence(
            F.lit(0), F.lit(index.n_physical_lists - 1)).cast("array<int>")
        # single-job lineage (no prune collect at full probe): __qidx,
        # key, and vector travel in the same row of one evaluation, so
        # no persist is needed — ids only shift if a stage retry
        # re-evaluates a nondeterministic source, the same caveat
        # knn_join_hnsw documents for its unrouted path
        probed = (queries.select(query_key, vec_col).dropna()
                  .withColumn("__qidx", F.monotonically_increasing_id())
                  .withColumn("__list", F.explode(all_lists)))
    else:
        # persist pins ONE evaluation of the id stamp + probe UDF: the
        # probed-list distinct/collect below and the cogroup are
        # separate jobs — a nondeterministic query frame (sample(),
        # rand()-derived) re-evaluated per job could reassign __qidx
        # and pair a query row with another row's candidates under the
        # per-row window (same hazard knn_join_hnsw's routed path
        # pins). ContextCleaner unpersists once unreferenced.
        probed = (queries.select(query_key, vec_col).dropna()
                  .withColumn("__qidx", F.monotonically_increasing_id())
                  .withColumn("__list",
                              F.explode(probe_lists(F.col(vec_col))))
                  .persist())

    # PQ indexes ship m CODE BYTES per corpus row through the cogroup
    # shuffle instead of the float vector (1/32 the bytes at d=64/m=8)
    # and score with batch ADC (per-query LUT + gather — ~d/m times
    # fewer FLOPs than the reconstruction matmul)
    pq = index.pq
    cvec = "__pqcode" if pq is not None else index.vec_col

    corpus = (index.scan_raw() if pq is not None else index._read()).select(
        "__list", corpus_key, cvec)
    # partition pruning: the probed-list set is at most n_lists ints — the
    # ONLY driver-side materialization on this path. At FULL probe every
    # list is touched by construction, so skip the pruning job entirely
    if nprobe < index.n_lists:
        lists = [r[0] for r in probed.select("__list").distinct().collect()]
        corpus = corpus.where(F.col("__list").isin(lists))

    qkey_field = queries.schema[query_key]
    ckey_type = corpus.schema[corpus_key].dataType
    cand_schema = T.StructType([
        T.StructField("__qidx", T.LongType()),
        qkey_field, T.StructField(corpus_key, ckey_type),
        T.StructField("distance", T.DoubleType()),
    ])

    def score_list(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["__qidx", query_key, corpus_key, "distance"]
        if left.empty or right.empty:
            return pd.DataFrame(columns=cols)
        q = np.stack(left[vec_col].to_numpy()).astype(np.float64)
        ckeys = right[corpus_key].to_numpy()
        if metric == "cosine":                  # corpus normalized at build
            q = unit_rows(q)
        if pq is not None:
            # batch ADC: (nq, m, 256) tables via the norm-expansion
            # einsum (a naive 4-D difference broadcast allocates a
            # (nq, m, 256, dsub) temp — 65 MB per batch at nq=500,
            # measured 5x slower), then one code gather per subspace
            nq = len(q)
            if pq.rotation is not None:   # OPQ: LUTs live in code space
                q = q @ pq.rotation
            qs = q.reshape(nq, pq.m, pq.dsub)
            cents = pq.centroids.astype(np.float64)
            dots = np.einsum("qmd,mkd->qmk", qs, cents)
            if metric == "l2":
                luts = ((qs * qs).sum(2)[:, :, None] - 2.0 * dots
                        + (cents * cents).sum(2)[None, :, :])
            else:
                luts = -dots
            codes = np.stack(right[cvec].to_numpy()).astype(np.int16) + 128
            d = np.zeros((nq, len(codes)))
            for s in range(pq.m):
                d += luts[:, s, :][:, codes[:, s]]
            d = np.sqrt(np.maximum(d, 0.0)) if metric == "l2" else 1.0 + d
        else:
            c = np.stack(right[cvec].to_numpy()).astype(np.float64)
            d = emit(distances(q, c, metric, sq_norms(c, metric)), metric)
        # the per-list cut keeps the same (distance, key) candidates the
        # global window ranks by
        order = top_k(d, ckeys, k)
        kk = order.shape[1]
        if pq is None:
            # re-score the kept set pair by pair: the same (query,
            # vector) pair scored in two differently-sized lists (split
            # vs unsplit index, or exact duplicates landing in different
            # lists) can differ by 1 ulp in the GEMM, which would flip
            # the global window's tie order. O(nq*k*dim).
            dsel = emit(canonical(q, c[order], metric), metric)
        else:
            dsel = np.take_along_axis(d, order, axis=1)
        return pd.DataFrame({
            "__qidx": np.repeat(left["__qidx"].to_numpy(), kk),
            query_key: np.repeat(left[query_key].to_numpy(), kk),
            corpus_key: ckeys[order].ravel(),
            "distance": dsel.ravel(),
        }, columns=cols)

    cand = (probed.groupBy("__list")
            .cogroup(corpus.groupBy("__list"))
            .applyInPandas(score_list, cand_schema))

    # window on the per-ROW query index (not query_key): duplicate keys
    # in the query batch each keep their own top-k, matching knn_join's
    # broadcast semantics (same r10 fix as the flipped/binary paths)
    w = Window.partitionBy("__qidx").orderBy(
        F.col("distance").asc(), F.col(corpus_key).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(query_key, corpus_key, "distance", "rank"))


def _pack_sign_codes(qv, n_words, thr=None):
    """Pack an (n, dim) float64 matrix into (n, n_words) int64 sign
    codes, bit-identically to ``binary_code_expr``: bit i of word w is
    set when ``v[64w+i] > thr[64w+i]`` (0.0 untrained); elements past
    dim are 0 bits. Shared by both knn_join_binary scan directions so
    query and corpus codes can never disagree on packing."""
    import numpy as np

    centered = qv - thr[:qv.shape[1]] if thr is not None else qv
    bits = np.zeros((len(qv), n_words * 64), dtype=np.uint8)
    bits[:, :qv.shape[1]] = (centered > 0.0)
    codes = np.zeros((len(qv), n_words), dtype=np.int64)
    for w in range(n_words):
        word = np.zeros(len(qv), dtype=np.uint64)
        for i in range(63, -1, -1):
            word = (word << np.uint64(1)) | bits[:, w * 64 + i]
        codes[:, w] = word.astype(np.int64)
    return codes


def knn_join_binary(queries: DataFrame, corpus: DataFrame, k: int = 10,
                    query_key: str = "qid", corpus_key: str = "cid",
                    vec_col: str = "embedding", metric: str = "l2",
                    oversample: int = 8,
                    thresholds: list[float] | None = None,
                    code_col: str | None = None,
                    max_broadcast_bytes: int | None = 1 << 30,
                    corpus_size_hint: tuple[int, int] | None = None
                    ) -> DataFrame:
    """Batch KNN through the 1-bit tier: Hamming scan over packed sign
    codes picks ``k * oversample`` candidates per query, then an exact
    float rerank (pure JVM) orders the true top-k.

    Plan shape for scale: only (key, code) is collected and broadcast —
    64x smaller than ``knn_join``'s float64 matrix, so corpora 64x past
    its broadcast bound still take the no-shuffle path. Queries stream
    through ONE Arrow kernel (XOR + LUT popcount against the code
    matrix); the float column is read only for the |Q| x k x oversample
    candidate rows, fetched by an equi-join on the corpus key, and the
    exact distance + top-k window are whole-stage-codegen JVM. Pass a
    pre-encoded ``code_col`` (written at ingest via ``binary_codes``)
    and the corpus float scan prunes to key+code+vector with zero
    encode work per query batch.

    The collect is SIZE-CHECKED (same estimate-first contract as
    ``knn_join``): when the corpus CODE matrix estimate (rows x
    ceil(dim/64) x 8 bytes) exceeds ``max_broadcast_bytes`` (default
    1 GB ≙ ~1.1x10^7 768-dim vectors at 96 B/code — 64x past
    knn_join's float64-estimated bound of ~1.7x10^5),
    the join FLIPS the broadcast side: the (small) query codes are
    broadcast instead, the corpus codes stream through the same Arrow
    Hamming kernel fully distributed with a per-partition running
    top-``k*oversample`` per query, and one window + the identical
    float rerank finish — same candidate set, same results, no
    driver-side corpus materialization. Only when BOTH sides exceed
    the cap does it raise (use ``knn_join_bucketed`` over an
    ``IVFIndex`` there). ``corpus_size_hint=(rows, dim)`` skips the
    probe jobs; ``max_broadcast_bytes=None`` forces the corpus-
    broadcast path.

    Same output contract as ``knn_join``: (query_key, corpus_key,
    distance, rank), reference metric map, ties by corpus key.
    Duplicate query keys keep per-row semantics on both routes — every
    input row gets its own candidate set and top-k (a per-row query
    index threads through the Hamming scan and the rerank window).
    Sign codes carry angle information: recall is strongest for
    cosine/ip (or L2 on normalized vectors); train ``thresholds``
    (``fit_binary_thresholds``) for uncentered data.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    from ..functions.binary_quant import (binary_codes, popcount_words)

    check_metric(metric)
    if k <= 0 or oversample <= 0:
        raise ValueError("k and oversample must be positive")
    spark = queries.sparkSession
    thr = (np.asarray(thresholds, dtype=np.float64)
           if thresholds is not None else None)

    flipped = False
    n_rows = c_dim = None
    if max_broadcast_bytes is not None:
        # estimate BEFORE any collect (or encode): rows x words x 8 B
        if corpus_size_hint is not None:
            n_rows, c_dim = corpus_size_hint
            n_words = (c_dim + 63) // 64
        else:
            probe_col = vec_col if code_col is None else code_col
            first = corpus.select(probe_col).where(
                F.col(probe_col).isNotNull()).first()
            if first is None:
                raise ValueError("empty corpus")
            if code_col is None:
                c_dim = len(first[0])
                n_words = (c_dim + 63) // 64
            else:
                n_words = len(first[0])
            n_rows = corpus.count()
        flipped = n_rows * n_words * 8 > max_broadcast_bytes

    if code_col is None:
        coded = binary_codes(corpus, vec_col, dim=c_dim,
                             thresholds=thresholds, out_col="__bq")
        code_col = "__bq"
    else:
        coded = corpus

    qkey_field = queries.schema[query_key]
    ckey_type = corpus.schema[corpus_key].dataType

    if flipped:
        # corpus-distributed path: broadcast QUERY codes, stream corpus.
        # ONE Arrow fetch of the query matrix (the _collect_matrix
        # recipe; the boxed-Row path converted every cell through a
        # Python object)
        qkeys, qmat = _collect_matrix(
            queries.select(query_key, vec_col)
            .where(F.col(vec_col).isNotNull()), query_key, vec_col)
        if not len(qkeys):
            raise ValueError("no queries")
        qdim = qmat.shape[1]
        if len(qkeys) * qdim * 8 > max_broadcast_bytes:
            raise ValueError(
                f"both sides of knn_join_binary exceed max_broadcast_bytes"
                f"={max_broadcast_bytes}: corpus codes ~{n_rows * n_words * 8}"
                f" B, query vectors ~{len(qkeys) * qdim * 8} B. Build an "
                "IVFIndex and use knn_join_bucketed for huge-x-huge joins.")
        qcodes = _pack_sign_codes(qmat, n_words, thr)
        bcq = spark.sparkContext.broadcast((qkeys, qcodes))
        n_cand = min(k * oversample, n_rows)

        # per-ROW query index: duplicate query keys must each keep
        # their own candidate set, as the corpus-broadcast route does
        ham_schema = T.StructType([
            T.StructField("__qidx", T.IntegerType()),
            T.StructField(corpus_key, ckey_type),
            T.StructField("__ham", T.LongType()),
        ])

        def scan_corpus(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
            qk, qc = bcq.value
            # per-partition running top-n_cand per query, merged batch
            # by batch — the shuffle into the global window carries at
            # most |partitions| x |Q| x n_cand rows, independent of
            # corpus size
            run_ham = [np.empty(0, dtype=np.int64) for _ in range(len(qk))]
            run_key = [np.empty(0, dtype=object) for _ in range(len(qk))]
            for pdf in batches:
                pdf = pdf.dropna(subset=[code_col])
                if not len(pdf):
                    continue
                codes = np.array(list(pdf[code_col]), dtype=np.int64)
                keys = pdf[corpus_key].to_numpy()
                for qi in range(len(qk)):
                    ham = popcount_words(np.bitwise_xor(codes, qc[qi]))
                    allh = np.concatenate([run_ham[qi], ham])
                    allk = np.concatenate(
                        [run_key[qi], keys.astype(object)])
                    idx = np.lexsort((allk, allh))[:n_cand]
                    run_ham[qi], run_key[qi] = allh[idx], allk[idx]
            rows = [(qi, run_key[qi][j], int(run_ham[qi][j]))
                    for qi in range(len(qk))
                    for j in range(len(run_key[qi]))]
            yield pd.DataFrame(rows, columns=["__qidx", corpus_key,
                                              "__ham"])

        scanned = coded.select(corpus_key, code_col).mapInPandas(
            scan_corpus, ham_schema)
        wham = Window.partitionBy("__qidx").orderBy(
            F.col("__ham").asc(), F.col(corpus_key).asc())
        cand = (scanned.withColumn("__hr", F.row_number().over(wham))
                .where(F.col("__hr") <= n_cand)
                .select("__qidx", corpus_key))
        # attach the query key + vector for the rerank via a tiny
        # driver-built frame keyed by __qidx — queries fit in a
        # broadcast by the guard above
        qdf_schema = T.StructType([
            T.StructField("__qidx", T.IntegerType()), qkey_field,
            T.StructField("__qv", queries.schema[vec_col].dataType),
        ])
        qdf = spark.createDataFrame(
            [(i, k, v) for i, (k, v) in
             enumerate(zip(qkeys.tolist(), qmat.tolist()))], qdf_schema)
        cand = cand.join(F.broadcast(qdf), "__qidx")
    else:
        ckeys, cmat = _collect_matrix(
            coded.select(corpus_key, code_col)
            .where(F.col(code_col).isNotNull()),
            corpus_key, code_col, dtype=np.int64)
        if not len(ckeys):
            raise ValueError("empty corpus")
        order = np.argsort(ckeys)
        ckeys, cmat = ckeys[order], cmat[order]
        bc = spark.sparkContext.broadcast((ckeys, cmat))
        n_cand = min(k * oversample, len(ckeys))

        cand_schema = T.StructType([
            T.StructField("__qidx", T.LongType()),
            qkey_field, T.StructField(corpus_key, ckey_type),
            T.StructField("__qv", queries.schema[vec_col].dataType),
        ])

        def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            keys, codes = bc.value
            for pdf in batches:
                pdf = pdf.dropna(subset=[vec_col])
                if not len(pdf):
                    continue
                qv = np.array(list(pdf[vec_col]), dtype=np.float64)
                qcodes = _pack_sign_codes(qv, codes.shape[1], thr)
                rows = []
                for qi, qid in enumerate(pdf[query_key].to_numpy()):
                    ham = popcount_words(np.bitwise_xor(codes, qcodes[qi]))
                    idx = np.lexsort((keys, ham))[:n_cand]
                    vec = list(pdf[vec_col].iloc[qi])
                    qix = int(pdf["__qidx"].iloc[qi])
                    rows.extend((qix, qid, keys[j], vec) for j in idx)
                yield pd.DataFrame(rows, columns=["__qidx", query_key,
                                                  corpus_key, "__qv"])

        # single-job lineage: the scan kernel reads __qidx, key, and
        # vector from the same Arrow row, so pairing is consistent per
        # evaluation without a persist; ids only shift if a stage
        # retry re-evaluates a nondeterministic source (the caveat
        # knn_join_hnsw documents for its unrouted path)
        cand = (queries.select(query_key, vec_col)
                .withColumn("__qidx", F.monotonically_increasing_id())
                .mapInPandas(scan, cand_schema))

    # exact rerank, all JVM: fetch candidate float vectors by key,
    # score against the carried query vector, window top-k
    cvecs = corpus.select(F.col(corpus_key),
                          F.col(vec_col).alias("__cv"))
    joined = cand.join(cvecs, corpus_key)
    qc, cc = F.col("__qv"), F.col("__cv")
    dot = F.aggregate(F.zip_with(qc, cc, lambda x, y:
                                 x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda a, x: a + x)
    if metric == "l2":
        dist = F.sqrt(F.aggregate(
            F.zip_with(qc, cc, lambda x, y:
                       F.pow(x.cast("double") - y.cast("double"), 2)),
            F.lit(0.0), lambda a, x: a + x))
    else:
        if metric == "cosine":
            def _norm(c):
                n = F.sqrt(F.aggregate(
                    c, F.lit(0.0),
                    lambda a, x: a + x.cast("double") * x.cast("double")))
                return F.when(n > 0, n).otherwise(F.lit(1.0))
            dot = dot / (_norm(qc) * _norm(cc))
        dist = F.lit(1.0) - dot
    # rank within the per-row query index, not query_key — duplicate
    # query keys each keep their own top-k (matching knn_join)
    w = Window.partitionBy("__qidx").orderBy(
        F.col("distance").asc(), F.col(corpus_key).asc())
    return (joined.withColumn("distance", dist)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_key, corpus_key, "distance", "rank"))

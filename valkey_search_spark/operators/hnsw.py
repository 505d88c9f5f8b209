"""HNSW ANN tier: segment-local navigable small-world graphs.

The reference's flagship vector index is an hnswlib HNSW graph
(/root/reference/src/indexes/vector_hnsw.cc:315-340) — one mutable
in-memory graph per shard, searched with a beam (ef_runtime) and
filtered IN-traversal when a predicate is attached. This module is the
Spark-native restatement of that design:

- The corpus is hash-split into **segments** of bounded size
  (``max_segment_rows``); each segment builds an immutable HNSW graph
  in one ``applyInPandas`` task (numpy kernel, Malkov & Yashunin
  algorithm with the Alg-4 neighbor-selection heuristic) and persists
  it as parquet partitioned by segment id. This is the Lucene/Vespa
  per-segment-graph shape: build parallelism == segments, graph memory
  per task is capped by the segment cap, and at 100 TB the build is a
  single pass with no shuffle beyond the hash partition.
- A single query (``HNSWIndex.search``, FT.SEARCH's graph path) runs on
  the driver, like the reference's in-process walk: the live segment
  graphs are decoded into numpy once per artifact generation (one Spark
  job, on the first search after a mutation), every segment is
  beam-searched, and the per-segment top-k merge on (distance, key).
- A batch of queries (``knn_join_hnsw``) fans each query out to every
  segment (a broadcast cross join against the tiny segment-id range,
  then ONE cogroup with the graph parquet), beam-searches each segment
  in an executor task, and merges per-segment top-k with a window —
  shuffle volume is |Q|·segments in and |Q|·segments·k candidate rows
  out, never the corpus. Both forms return the same hits.
- Inline filtering == the reference's in-traversal predicate
  (vector_hnsw.cc's filtered search): an arbitrary SQL predicate over
  payload columns is evaluated JVM-side over the segment rows into an
  allowed mask; the beam TRAVERSES the full graph (termination
  is driven by an unfiltered working heap, so a sparse filter widens
  the explored region exactly like hnswlib's filtered search) but only
  allowed nodes are collected as results.
- Mutations mirror hnswlib's add/markDelete under the segment model:
  ``append`` builds NEW segments (graphs stay immutable), ``delete``
  writes generation tombstones that mask results without touching the
  graph (the reference marks nodes deleted in place), ``compact``
  rebuilds from live rows.

With ``ef >= segment rows`` the beam degenerates to an exhaustive
walk of each (connected) graph, so full-explore search is EXACT and
shares the brute-force oracle — the property the driver row pins.

Every distance, from graph build to emitted score, comes from the numpy
kernel of functions/distance.py; the beam ranks on squared L2.

Artifact paths must be LOCAL (or shared-POSIX) filesystem paths: the
graph data is written via Spark, but the meta file, tombstone listing
and compact()'s crash-safe sibling-swap use os.path/open/rename
(sources/swap.py's contract) — scheme-qualified paths (hdfs://,
s3a://) are rejected at build/load.
"""

from __future__ import annotations

import heapq
import math
import os
import threading
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Row, SparkSession, functions as F, types as T

from ..functions.distance import (
    canonical, distances, emit, sq_norms, top_k, unit_rows,
)
from ..sources.swap import require_local_path
from .ann_layer import (
    ANNArtifact, check_tier, kmeans_cells, nearest_cells_udf,
    prepare_vectors, replace_file, train_codebook,
)

_CENTROIDS = "_hnsw_centroids.npy"
_LOAD_LOCK = threading.Lock()       # one resident-graph load at a time


# ---------------------------------------------------------------------------
# graph kernel
# ---------------------------------------------------------------------------

def _kdist(vecs: np.ndarray, idx, q: np.ndarray, metric: str,
           sq=None, qq=None) -> np.ndarray:
    """``distances`` from q to ``vecs[idx]``; l2 row norms ``sq`` select
    the norm expansion, ~2x the subtract-square-sum on the beam."""
    return distances(q, vecs[idx], metric, None if sq is None else sq[idx],
                     qq)


def _select_heuristic(vecs, q, cand, cap, metric, sq=None):
    """Alg. 4 neighbor selection: walk candidates by distance, keep c only
    if it is closer to q than to every already-kept neighbor (diversity),
    then fill to ``cap`` from the pruned list (keepPrunedConnections) —
    the fill is what keeps level-0 graphs connected on clustered data."""
    sel: list[tuple[float, int]] = []
    skipped: list[tuple[float, int]] = []
    for d, c in cand:
        if len(sel) >= cap:
            break
        if sel:
            ds = _kdist(vecs, np.fromiter((s for _, s in sel), dtype=np.int64),
                        vecs[c], metric, sq,
                        sq[c] if sq is not None else None)
            ok = bool((d < ds).all())
        else:
            ok = True
        (sel if ok else skipped).append((d, c))
    for d, c in skipped:
        if len(sel) >= cap:
            break
        sel.append((d, c))
    return sel


def _search_layer(vecs, nbrs, lev, q, eps, ef, metric, sq=None, qq=None,
                  visited=None, stamp=1):
    """Beam search one layer. ``eps``: sorted [(dist, node)] seeds.
    Returns ascending [(dist, node)] of the ef best reached.
    ``visited``/``stamp``: a reusable bytearray(n) scratch with a
    generation stamp — membership == (value == stamp), so the caller
    resets it by bumping the stamp instead of an O(n) clear per call
    (the clear would add O(n) traffic per insert per layer — O(n^2)
    per segment build at the 1M-row segment dial)."""
    if visited is None:
        visited = bytearray(len(vecs))
    for _, n in eps:
        visited[n] = stamp
    cand = list(eps)
    heapq.heapify(cand)
    res = [(-d, n) for d, n in eps]
    heapq.heapify(res)
    while cand:
        d, c = heapq.heappop(cand)
        if len(res) >= ef and d > -res[0][0]:
            break
        neigh = [x for x in nbrs[c][lev] if visited[x] != stamp]
        if not neigh:
            continue
        for x in neigh:
            visited[x] = stamp
        ds = _kdist(vecs, np.asarray(neigh, dtype=np.int64), q, metric,
                    sq, qq)
        for dd, nn in zip(ds.tolist(), neigh):
            if len(res) < ef or dd < -res[0][0]:
                heapq.heappush(res, (-dd, nn))
                heapq.heappush(cand, (dd, nn))
                if len(res) > ef:
                    heapq.heappop(res)
    return sorted((-nd, nn) for nd, nn in res)


def _build_graph(vecs: np.ndarray, m: int, ef_c: int, seed: int,
                 metric: str):
    """Insert-at-a-time HNSW build (Malkov & Yashunin Alg. 1).
    Returns (levels int32[n], nbrs list[node][level] -> list[int],
    entry, top_level)."""
    n = len(vecs)
    rng = np.random.RandomState(seed)
    ml = 1.0 / math.log(max(m, 2))
    levels = np.minimum(
        (-np.log(1.0 - rng.random_sample(n)) * ml).astype(np.int64), 60
    ).astype(np.int32)
    m0 = 2 * m
    nbrs = [[[] for _ in range(int(levels[i]) + 1)] for i in range(n)]
    if n == 0:
        return levels, nbrs, -1, -1
    sq = sq_norms(vecs, metric)
    entry, top = 0, int(levels[0])
    visited = bytearray(n)                     # reused stamped scratch
    stamp = 0
    for i in range(1, n):
        q = vecs[i]
        qq = sq[i] if sq is not None else None
        l = int(levels[i])
        ep = entry
        epd = float(_kdist(vecs, np.array([ep]), q, metric, sq, qq)[0])
        for lev in range(top, l, -1):          # greedy descent above l
            improved = True
            while improved:
                improved = False
                cand = nbrs[ep][lev]
                if cand:
                    ds = _kdist(vecs, np.asarray(cand, dtype=np.int64), q,
                                metric, sq, qq)
                    j = int(np.argmin(ds))
                    if ds[j] < epd:
                        ep, epd, improved = cand[j], float(ds[j]), True
        eps = [(epd, ep)]
        for lev in range(min(l, top), -1, -1):
            stamp += 1
            if stamp == 256:                   # byte stamps wrap at 255
                visited[:] = bytes(n)
                stamp = 1
            w = _search_layer(vecs, nbrs, lev, q, eps, ef_c, metric,
                              sq, qq, visited, stamp)
            cap = m0 if lev == 0 else m
            for dj, j in _select_heuristic(vecs, q, w, m, metric, sq):
                nbrs[i][lev].append(j)
                nbrs[j][lev].append(i)
                if len(nbrs[j][lev]) > cap:    # prune j with the heuristic
                    cj = np.asarray(nbrs[j][lev], dtype=np.int64)
                    ds = _kdist(vecs, cj, vecs[j], metric, sq,
                                sq[j] if sq is not None else None)
                    wj = sorted(zip(ds.tolist(), cj.tolist()))
                    nbrs[j][lev] = [
                        nd for _, nd in
                        _select_heuristic(vecs, vecs[j], wj, cap, metric,
                                          sq)]
            eps = w
        if l > top:
            entry, top = i, l
    # Reachability repair: heuristic pruning can leave a node with OUT
    # edges but zero IN edges, making it unreachable from the entry and
    # silently breaking the full-explore==exact contract. Directed BFS
    # from the entry, then each unreachable node gets one in-edge from
    # its nearest reachable node (cap overflow allowed for repair
    # edges — hnswlib tolerates the same). Orphans are rare, so the
    # per-orphan O(n) distance scan is negligible.
    reach = bytearray(n)
    reach[entry] = 1
    stack = [entry]
    while stack:
        c = stack.pop()
        for j in nbrs[c][0]:
            if not reach[j]:
                reach[j] = 1
                stack.append(j)
    if not all(reach):
        reachable = np.flatnonzero(np.frombuffer(bytes(reach),
                                                 dtype=np.uint8))
        for i in range(n):
            if reach[i]:
                continue
            ds = _kdist(vecs, reachable, vecs[i], metric, sq,
                        sq[i] if sq is not None else None)
            j = int(reachable[int(np.argmin(ds))])
            nbrs[j][0].append(i)
            # newly linked subtree becomes reachable
            reach[i] = 1
            stack = [i]
            while stack:
                c = stack.pop()
                for t in nbrs[c][0]:
                    if not reach[t]:
                        reach[t] = 1
                        stack.append(t)
            reachable = np.flatnonzero(np.frombuffer(bytes(reach),
                                                     dtype=np.uint8))
    return levels, nbrs, entry, top


def _search_graph(vecs, levels, nbrs, entry, top, q, k, ef, metric,
                  allowed=None, sq=None):
    """Full query: greedy descent to layer 1, filtered beam at layer 0.

    ``allowed`` (bool[n] or None) is the reference's in-traversal
    filter: termination is governed by an UNFILTERED working heap of
    size ef (traversal is identical to the unfiltered search), while
    results collect only allowed nodes — so a sparse filter keeps
    exploring instead of starving (vector_hnsw.cc filtered search).
    Returns ascending [(internal_dist, node)] of <= k allowed nodes."""
    if entry < 0:
        return []
    # ONE full gemv per (query, segment), then every traversal distance
    # is a plain list lookup. BLAS computes each row's dot independently
    # of the batch it rides in, so these are the same float64 values
    # per-expansion distance batches would give — precomputing removes
    # ~50 small numpy round-trips per query (measured 36% of the beam
    # kernel at the bench's 500-query batch) without touching results.
    dl = distances(q, vecs, metric, sq, q @ q).tolist()
    ep = entry
    epd = dl[ep]
    for lev in range(top, 0, -1):
        improved = True
        while improved:
            improved = False
            cand = nbrs[ep][lev] if lev < len(nbrs[ep]) else []
            # first-minimum over the WHOLE candidate list, then one
            # jump — exactly the old np.argmin(ds) + ds[j] < epd step
            best, bd = -1, epd
            for c in cand:
                if dl[c] < bd:
                    best, bd = c, dl[c]
            if best >= 0:
                ep, epd, improved = best, bd, True
    ef = max(ef, k)
    # the bounded result heap selects on the (norm-expansion) traversal
    # distances; float cancellation (~1e-8) could pick the wrong member
    # at an exact-k boundary between NEAR-tied distinct vectors, so keep
    # a small slack and re-cut on exact distances at emission
    kres = k + 8
    visited = bytearray(len(vecs))
    visited[ep] = 1
    cand = [(epd, ep)]
    wall = [(-epd, ep)]                        # unfiltered termination heap
    res: list[tuple[float, int]] = []          # allowed-only, cap k+slack
    if allowed is None or allowed[ep]:
        res.append((-epd, -ep))
    while cand:
        d, c = heapq.heappop(cand)
        if len(wall) >= ef and d > -wall[0][0]:
            break
        neigh = [x for x in nbrs[c][0] if not visited[x]]
        if not neigh:
            continue
        for x in neigh:
            visited[x] = 1
        for nn in neigh:
            dd = dl[nn]
            if len(wall) < ef or dd < -wall[0][0]:
                heapq.heappush(wall, (-dd, nn))
                heapq.heappush(cand, (dd, nn))
                if len(wall) > ef:
                    heapq.heappop(wall)
                if allowed is None or allowed[nn]:
                    # (-dist, -node): on distance ties at the k(+slack)
                    # boundary the heap must evict the LARGEST node id
                    # so the kept set matches the (distance asc, node
                    # asc) output contract and the brute-force oracle
                    heapq.heappush(res, (-dd, -nn))
                    if len(res) > kres:
                        heapq.heappop(res)
    # re-score the kept slack set pair by pair so the final k-cut
    # happens on batch-independent values: (a) the l2 norm expansion
    # has cancellation error ~1e-8 near zero; (b) a GEMV row's rounding
    # can depend on the matrix it rides in, so EXACT-DUPLICATE vectors
    # could differ by 1 ulp and flip their (distance, node) tie order.
    nodes = np.fromiter((-nn for _, nn in res), dtype=np.int64)
    exact = canonical(q, vecs[nodes], metric)
    keep = top_k(exact, nodes, k)
    return list(zip(exact[keep].tolist(), nodes[keep].tolist()))


def _graph_arrays(right: pd.DataFrame, vec_col: str):
    """Reassemble one segment's graph from its parquet rows (expects
    rows already sorted by __node — build-local dense node ids)."""
    vecs = np.stack(right[vec_col].to_numpy()).astype(np.float64)
    levels = right["__level"].to_numpy()
    # .tolist() yields PYTHON ints for the set/heap-heavy beam loop
    # (list(np_array) would yield boxed numpy scalars)
    nbrs = [[lv.tolist() if hasattr(lv, "tolist") else list(lv)
             for lv in node] for node in right["__nbrs"]]
    # entry = max level, tiebreak smallest node — derived, not stored
    entry = int(np.lexsort((np.arange(len(levels)), -levels))[0])
    top = int(levels[entry]) if len(levels) else -1
    return vecs, levels, nbrs, entry, top


def _graph_rows(df: DataFrame, vec_col: str, key_col: str,
                payload_cols, metric: str) -> DataFrame:
    """Build/append input: key, FLOAT32 vector (vector_base.h data_type),
    payloads, through the shared vector prep."""
    return prepare_vectors(
        df.select(key_col, F.col(vec_col).cast("array<float>").alias(vec_col),
                  *payload_cols), vec_col, metric)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

class HNSWIndex(ANNArtifact):
    """Persisted per-segment HNSW graphs over one vector column."""

    _META = "_hnsw_meta.json"
    _FORMAT = "hnsw-index-v1"
    _TOMBS = "_hnsw_tombstones"
    _TOMB_GEN = "__tgen"

    def __init__(self, spark: SparkSession, path: str, vec_col: str,
                 key_col: str, metric: str, m: int, ef_construction: int,
                 n_segments: int, seed: int,
                 payload_cols: tuple[str, ...] = (), gen: int = 0,
                 quantized: bool = False, partitioner: str = "hash",
                 centroids: np.ndarray | None = None,
                 seg_map: list[list[int]] | None = None,
                 pq=None, sample_fraction: float | None = None):
        self.spark = spark
        self.path = path
        self.vec_col = vec_col
        self.key_col = key_col
        self.metric = metric
        self.m = m
        self.ef_construction = ef_construction
        self.n_segments = n_segments      # total physical segments (incl. appends)
        self.seed = seed
        self.payload_cols = tuple(payload_cols)
        self.gen = gen
        self.quantized = quantized
        # partitioner="kmeans" makes segments spatially coherent
        # (cluster -> segment, like IVF lists) so per-query routing can
        # prune segments; "hash" segments all share the global mean, so
        # they are never routable and every query beams every segment
        self.partitioner = partitioner
        self.centroids = centroids        # (n_clusters, dim) or None
        self.seg_map = seg_map            # cluster -> [physical seg ids]
        self.pq = pq                      # PQCodebook or None (PQ tier)
        # build-time KMeans fit bound, kept so compact() re-clusters at
        # the same cost profile instead of an unbounded full-corpus fit
        self.sample_fraction = sample_fraction

    def routable_segments(self) -> set[int]:
        """Physical segment ids coverable by centroid routing. Segments
        added by ``append`` after the build (and every segment of a
        hash-partitioned index) are NOT routable — search always probes
        them; ``compact`` re-clusters and restores full routability."""
        if self.seg_map is None:
            return set()
        return {s for ids in self.seg_map for s in ids}

    # -- build ----------------------------------------------------------
    @classmethod
    def build(cls, df: DataFrame, path: str, vec_col: str = "embedding",
              key_col: str = "vec_id", metric: str = "l2", m: int = 16,
              ef_construction: int = 100,
              max_segment_rows: int = 1_000_000,
              n_segments: int | None = None, seed: int = 42,
              payload_cols: tuple[str, ...] = (),
              quantize: bool = False, partitioner: str = "hash",
              sample_fraction: float | None = None,
              pq_m: int | None = None, pq_opq_iters: int = 0,
              _pq_codebook=None) -> "HNSWIndex":
        """One partition pass + one graph build per segment.

        ``max_segment_rows`` is the scale dial: it caps the numpy graph
        one executor task holds (a 1M x d float64 matrix + adjacency),
        and segment count == build/search parallelism. ``payload_cols``
        are persisted next to the graph so inline filters can be
        evaluated in the segment scan without a join.

        ``partitioner``: "hash" (default) splits rows by key hash —
        segments are statistically identical, every query must beam
        every segment, and per-query cost grows linearly with segment
        count. "kmeans" clusters rows into spatially coherent segments
        (one MLlib KMeans job, fit bounded by ``sample_fraction``; hot
        clusters are hash-split under ``max_segment_rows`` exactly like
        IVF's ``max_list_rows``) and persists per-cluster centroids, so
        ``knn_join_hnsw(..., route_segments=r)`` can prune to the r
        nearest segments per query — the SPANN/DiskANN clustered-shard
        shape, and the piece that keeps ANN cost sublinear in corpus
        size at 10^5 segments (the reference sidesteps this with one
        giant in-memory graph per shard; a 100 TB Spark corpus cannot).
        Routing changes NOTHING unless asked for: route_segments=None
        still probes everything, so the full-explore exactness contract
        is untouched.

        ``quantize=True`` stores the vector column as symmetric
        per-vector int8 (functions/quantize struct) — ~4x fewer scan
        bytes, the graph tier's dominant I/O at scale. The GRAPH is
        still built on the full-precision floats (edge selection
        quality is unchanged); only storage and search-time distances
        see quantization error (recall pinned in tests, same contract
        as IVFIndex's int8 tier).

        ``pq_m=<m>`` goes further (the IVF parity tier): product-
        quantized storage, m CODE BYTES per vector (32x smaller at
        d=64/m=8 — the DiskANN-style codes-in-RAM/graph-in-RAM dial).
        Reads reconstruct approximate floats JVM-side
        (PQCodebook.attach_decode), so every search path works
        unchanged at PQ-reconstruction precision. NOTE this trades the
        full-explore EXACTNESS contract for storage: distances on a PQ
        index are approximate at any ef (recall pinned in tests; use
        the float or int8 tier when exactness matters). Mutually
        exclusive with ``quantize``; ``append`` encodes with the FROZEN
        build-time codebook (drift caveat as IVF), ``compact`` keeps
        it (re-encoding reconstructions with the same codebook is
        stable — codes are already nearest-centroid)."""
        path = require_local_path(path, "HNSWIndex artifacts")
        if partitioner not in ("hash", "kmeans"):
            raise ValueError(f"unknown partitioner {partitioner!r}")
        work = _graph_rows(df, vec_col, key_col, payload_cols, metric)
        # BEFORE the KMeans job — failing after a distributed clustering
        # fit wastes it
        check_tier(work, vec_col, quantize, pq_m, pq_opq_iters)
        n = work.count() if n_segments is None else int(not work.isEmpty())
        if n == 0:
            raise ValueError(
                "no indexable vectors (all null/zero) — an empty "
                "partitioned write would be unreadable later")
        if n_segments is None:
            n_segments = max(1, -(-n // max_segment_rows))
        centroids, seg_map = None, None
        if partitioner == "kmeans" and n_segments > 1:
            # spatially coherent segments: the IVF list recipe
            work, centroids, seg_map = kmeans_cells(
                work, vec_col, "__seg", n_segments, seed, sample_fraction,
                max_segment_rows)
            n_segments = sum(len(ids) for ids in seg_map)
        else:
            if partitioner == "kmeans":      # one segment: nothing to route
                partitioner = "hash"
            work = work.withColumn(
                "__seg", F.pmod(F.xxhash64(F.col(key_col)),
                                F.lit(n_segments)).cast("int"))
        codebook = _pq_codebook
        if codebook is None:
            codebook = train_codebook(work, vec_col, pq_m, pq_opq_iters, seed)
        index = cls(df.sparkSession, path, vec_col, key_col, metric, m,
                    ef_construction, n_segments, seed,
                    payload_cols=tuple(payload_cols), gen=0,
                    quantized=quantize, partitioner=partitioner,
                    centroids=centroids, seg_map=seg_map, pq=codebook,
                    sample_fraction=sample_fraction)
        graph = index._build_segments(work, gen=0)
        graph = index._encode(graph)
        graph.write.mode("overwrite").partitionBy("__seg").parquet(path)
        index._save_meta()
        return index

    def _graph_schema(self, work: DataFrame) -> T.StructType:
        fields = [T.StructField("__seg", T.IntegerType()),
                  T.StructField("__node", T.IntegerType()),
                  work.schema[self.key_col],
                  work.schema[self.vec_col]]
        for c in self.payload_cols:
            fields.append(work.schema[c])
        fields += [T.StructField("__level", T.IntegerType()),
                   T.StructField("__nbrs", T.ArrayType(
                       T.ArrayType(T.IntegerType()))),
                   T.StructField("__gen", T.IntegerType())]
        return T.StructType(fields)

    def _build_segments(self, work: DataFrame, gen: int) -> DataFrame:
        """groupBy(__seg).applyInPandas graph build; rows within a segment
        are sorted by key first so node ids (and thus tiebreaks and the
        graph itself) are deterministic under any input partitioning."""
        vec_col, key_col = self.vec_col, self.key_col
        payload = self.payload_cols
        m, ef_c, seed, metric = (self.m, self.ef_construction, self.seed,
                                 self.metric)
        schema = self._graph_schema(work)

        def build_seg(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(key_col).reset_index(drop=True)
            seg = int(pdf["__seg"].iloc[0])
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            levels, nbrs, _entry, _top = _build_graph(
                vecs, m, ef_c, seed + seg, metric)
            out = pd.DataFrame({
                "__seg": np.full(len(pdf), seg, dtype=np.int32),
                "__node": np.arange(len(pdf), dtype=np.int32),
                key_col: pdf[key_col],
                vec_col: pdf[vec_col],
            })
            for c in payload:
                out[c] = pdf[c]
            out["__level"] = levels
            out["__nbrs"] = [nbrs[i] for i in range(len(pdf))]
            out["__gen"] = np.int32(gen)
            return out

        return work.groupBy("__seg").applyInPandas(build_seg, schema)

    # -- persistence ------------------------------------------------------
    def _meta(self) -> dict:
        return {"vec_col": self.vec_col, "key_col": self.key_col,
                "metric": self.metric, "m": self.m,
                "ef_construction": self.ef_construction,
                "n_segments": self.n_segments, "seed": self.seed,
                "payload_cols": list(self.payload_cols), "gen": self.gen,
                "quantized": self.quantized,
                "partitioner": self.partitioner,
                # the centroid matrix lives in a BINARY sidecar: at the
                # 10^5-cluster design point a JSON inlining (the old
                # form, still readable below) would be ~GBs re-written
                # on every mutation and json.loads'd on every load
                "centroids": (_CENTROIDS
                              if self.centroids is not None else None),
                "seg_map": self.seg_map,
                "pq": self.pq.to_json() if self.pq is not None else None,
                "sample_fraction": self.sample_fraction}

    def _save_meta(self, into: str | None = None) -> None:
        if self.centroids is not None:
            cents = np.asarray(self.centroids, dtype=np.float64)
            replace_file(os.path.join(into or self.path, _CENTROIDS),
                         lambda fh: np.save(fh, cents), mode="wb")
        super()._save_meta(into)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "HNSWIndex":
        path, meta = cls._load_meta(path)
        cents = meta.get("centroids")
        if cents == _CENTROIDS:                    # binary sidecar form
            cents = np.load(os.path.join(path, _CENTROIDS))
        return cls(spark, path, meta["vec_col"], meta["key_col"],
                   meta["metric"], meta["m"], meta["ef_construction"],
                   meta["n_segments"], meta["seed"],
                   payload_cols=tuple(meta.get("payload_cols", ())),
                   gen=meta.get("gen", 0),
                   quantized=meta.get("quantized", False),
                   partitioner=meta.get("partitioner", "hash"),
                   centroids=(np.asarray(cents, dtype=np.float64)
                              if cents is not None else None),
                   seg_map=meta.get("seg_map"), pq=meta["pq"],
                   sample_fraction=meta.get("sample_fraction"))

    # -- reads ------------------------------------------------------------
    def _read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def _tomb_path(self) -> str:
        return self._tomb_dir

    def scan_raw(self) -> DataFrame:
        """Live rows with original columns (key, vector, payloads);
        quantized storage is dequantized on read (JVM expression)."""
        return self._decode(self._live(self._read())).select(
            self.key_col, self.vec_col, *self.payload_cols)

    # -- mutations ----------------------------------------------------------
    def append(self, df: DataFrame, n_new_segments: int = 1) -> None:
        """New rows -> NEW segments (graphs are immutable, the Lucene
        model); a re-appended key outlives any older tombstone for it
        (generation check). Size appended batches like build segments;
        frequent tiny appends -> many tiny graphs -> call compact().
        Appended segments are hash-assigned and therefore NOT routable
        (every routed search still probes them in full); compact()
        re-clusters them back under the centroids."""
        work = _graph_rows(df, self.vec_col, self.key_col,
                           self.payload_cols, self.metric)
        base = self.n_segments
        work = work.withColumn(
            "__seg", (F.lit(base) + F.pmod(F.xxhash64(F.col(self.key_col)),
                                           F.lit(n_new_segments))).cast("int"))
        with self._generation() as gen:
            # same storage tier as the build (int8 expr or the FROZEN PQ
            # codebook — the IVF append contract)
            self._append_rows(
                self._encode(self._build_segments(work, gen=gen)), "__seg")
            self.n_segments = base + n_new_segments

    def delete(self, keys) -> None:
        """Generation tombstones; the graphs keep the nodes (they still
        route traversal, like hnswlib's soft deletes) but search masks
        them out of results."""
        self._delete(keys, self.key_col)

    def upsert(self, df: DataFrame, n_new_segments: int = 1) -> None:
        """Replace-by-key: tombstone the incoming keys, then append the
        rows as new segments at a LATER generation (so the fresh rows
        outlive their own tombstones) — the reference's AddRecord
        replace path, and the contract DocumentStore's ann_indexes
        mirror drives (streaming/ingest.py)."""
        self.delete(df.select(self.key_col))
        self.append(df, n_new_segments=n_new_segments)

    def compact(self, max_segment_rows: int = 1_000_000) -> None:
        """Rebuild live rows into fresh right-sized segments and drop
        tombstones. The rebuild happens in a staging dir, so a crash
        BEFORE the swap leaves the live index untouched; the swap
        itself is two local renames with a narrow window where the old
        index sits at ``<path>.old`` (recover by moving it back —
        same recovery contract as IVFIndex.compact).
        Cosine rows are already ingest-normalized (idempotent)."""
        live = self.scan_raw()
        staging = self.path.rstrip("/") + ".compact"
        # a kmeans index keeps its routing granularity (cluster count)
        # across compactions — deriving it from rows/cap alone could
        # collapse a small index to one unroutable segment
        n_seg = (len(self.seg_map)
                 if self.partitioner == "kmeans" and self.seg_map
                 else None)
        # re-clustering folds appended (non-routable) segments back
        # under fresh centroids — routability is fully restored
        self._swap_in(HNSWIndex.build(
            live, staging, vec_col=self.vec_col, key_col=self.key_col,
            metric=self.metric, m=self.m,
            ef_construction=self.ef_construction,
            max_segment_rows=max_segment_rows, n_segments=n_seg,
            seed=self.seed, payload_cols=self.payload_cols,
            quantize=self.quantized, partitioner=self.partitioner,
            _pq_codebook=self.pq,
            sample_fraction=self.sample_fraction))

    # -- search -------------------------------------------------------------
    _resident: "_Resident | None" = None

    def _snapshot(self) -> "_Resident":
        """The live segment graphs in driver memory: loaded by one Spark
        job on the first search after a mutation, then shared read-only.
        A load that races a mutation stores its copy under the token it
        started with, so the next search loads again."""
        snap = self._resident
        if snap is None or snap.version is not self._version:
            with _LOAD_LOCK:
                snap = self._resident
                if snap is None or snap.version is not self._version:
                    version, rows = self._version, self._read()
                    snap = self._resident = _Resident(
                        version, rows, self._load_segments(rows))
        return snap

    def _load_segments(self, rows: DataFrame) -> list["_Segment"]:
        pdf = self._decode(self._with_alive(rows)).select(
            "__seg", "__node", self.key_col, self.vec_col, "__level",
            "__nbrs", "__alive").toPandas()
        segs = []
        for seg, part in pdf.groupby("__seg", sort=True):
            part = part.sort_values("__node").reset_index(drop=True)
            vecs, levels, nbrs, entry, top = _graph_arrays(part, self.vec_col)
            segs.append(_Segment(
                int(seg), vecs, levels, nbrs, entry, top,
                sq_norms(vecs, self.metric),
                part[self.key_col].to_numpy(),
                part["__alive"].to_numpy().astype(bool)))
        return segs

    def resident_bytes(self) -> int:
        """Bytes of the numpy arrays the driver holds for search (vectors,
        norms, levels, keys, alive masks); 0 before the first search. The
        neighbour lists are Python lists and are not counted."""
        snap = self._resident
        if snap is None:
            return 0
        return sum(a.nbytes for s in snap.segments
                   for a in (s.vecs, s.sq, s.levels, s.keys, s.alive)
                   if a is not None)

    def search(self, qvec: list[float], k: int = 10, ef: int = 64,
               where=None) -> list[Row]:
        """One query against the resident segment graphs: the same hits as
        ``knn_join_hnsw`` for a one-row query frame, as
        ``Row(key_col, __score)`` in (score, key) order — scores in the
        reference convention. ``where``: a SQL predicate over the payload
        columns (FT.SEARCH passes the translator's text), evaluated in one
        Spark job over the artifact's rows. The query is rounded to float32
        like a stored vector."""
        _, rows, segs = self._snapshot()
        q = np.asarray(qvec, dtype=np.float32).astype(np.float64)
        if self.metric == "cosine":
            q = unit_rows(q)
        allowed = None
        if where is not None:
            ok = rows.where(where).select("__seg", "__node").toPandas()
            allowed = {s.seg: np.zeros_like(s.alive) for s in segs}
            for seg, nodes in ok.groupby("__seg")["__node"]:
                allowed[seg][nodes.to_numpy()] = True
        kk, eff = int(k), max(int(ef), int(k))
        dists, keys = [], []
        for s in segs:
            mask = s.alive if allowed is None else s.alive & allowed[s.seg]
            hits = _search_graph(s.vecs, s.levels, s.nbrs, s.entry, s.top,
                                 q, kk, eff, self.metric,
                                 allowed=None if mask.all() else mask,
                                 sq=s.sq)
            dists += [d for d, _ in hits]
            keys += s.keys[[node for _, node in hits]].tolist()
        scores = emit(np.asarray(dists, dtype=np.float64), self.metric)
        hit = Row(self.key_col, "__score")
        return [hit(keys[i], float(scores[i]))
                for i in top_k(scores, np.asarray(keys), kk)]


class _Resident(NamedTuple):
    """What ``HNSWIndex.search`` reads: the artifact frame (for inline
    filters) and its segment graphs, under the mutation token they were
    loaded at."""

    version: object
    rows: DataFrame
    segments: list["_Segment"]


class _Segment(NamedTuple):
    """One segment graph as ``_search_graph`` reads it, plus its keys
    and alive mask."""

    seg: int
    vecs: np.ndarray
    levels: np.ndarray
    nbrs: list
    entry: int
    top: int
    sq: np.ndarray | None
    keys: np.ndarray
    alive: np.ndarray


def knn_join_hnsw(queries: DataFrame, index: HNSWIndex, k: int = 10,
                  ef: int = 64, where: str | None = None,
                  query_key: str = "qid",
                  query_vec_col: str | None = None,
                  route_segments: int | None = None) -> DataFrame:
    """Batch KNN join against the segment graphs.

    Plan shape: queries fan out to segment ids (a broadcast of at most
    ``n_segments`` ints — no corpus job), cogroup with the graph parquet
    on segment id, one beam search per (segment, query) inside the
    Arrow kernel, then a global (distance, key) window top-k. The graph
    side never shuffles more than its own parquet scan; parallelism ==
    segments (size segments to >= cluster cores, same dial as IVF
    lists). ``where`` is an arbitrary SQL predicate (text) over the
    persisted payload columns, evaluated JVM-side in the scan and honored
    IN-traversal (reference inline filtering); deleted rows are masked
    through the same path. Output: query_key, key_col, distance, rank.
    Duplicate query keys keep per-row semantics — each input row gets
    its own top-k (the reduce windows on a per-row query index).

    ``route_segments``: None (default) probes EVERY segment — required
    for the full-explore exactness contract, and the only option on a
    hash-partitioned index. An int r on a ``partitioner="kmeans"``
    index prunes each query to its r nearest segment centroids (the IVF
    probe trick, one Arrow matmul against the tiny broadcast centroid
    matrix) plus every non-routable segment (post-build appends) — so
    per-query cost stays ~r·beam as the corpus (and segment count)
    grows, instead of linear in corpus size. The pruned graph scan is
    partition-pruned to the probed-segment union. r >= the cluster
    count degrades gracefully to the full probe. The routed probe
    frame is persisted so the partition-prune job and the cogroup see
    ONE evaluation of the query lineage — both a correctness guard
    (a nondeterministic query frame must not route differently per
    job) and the cost fix for expensive upstream lineages.

    Null handling: query rows with a null key OR null vector are
    DROPPED up front (a null vector has no distance to anything; a null
    key would make its results unattributable) — callers that need
    every input query represented should pre-filter and count, same
    convention as the documented corpus-side null handling in
    ``HNSWIndex.build``.
    """
    from pyspark.sql.window import Window

    qvec = query_vec_col or index.vec_col
    vec_col = index.vec_col
    key_col = index.key_col
    metric = index.metric
    kk, eff = int(k), max(int(ef), int(k))

    # per-ROW query index: duplicate query keys each keep their own
    # top-k (matching knn_join's broadcast semantics, r10 fix)
    qside = (queries.select(query_key, F.col(qvec).alias("__qvec"))
             .dropna()
             .withColumn("__qidx", F.monotonically_increasing_id()))
    n_clusters = len(index.seg_map) if index.seg_map is not None else 0
    if route_segments is not None and route_segments < 1:
        raise ValueError(
            f"route_segments must be >= 1 (got {route_segments}); "
            "pass None to probe every segment")
    routed = route_segments is not None and route_segments < n_clusters
    if routed:
        # persist pins ONE evaluation of the query lineage + routing
        # UDF: the driver-side probed-segment distinct below and the
        # cogroup must see the SAME assignments — a nondeterministic
        # query frame (sample(), rand()-derived) re-evaluated per job
        # could route a query to a segment the scan was pruned away
        # from, silently dropping its results. Spark's ContextCleaner
        # unpersists the block once the frame is unreferenced. Each query
        # probes its r nearest segment centroids (the IVF probe recipe),
        # expanded to physical sub-segments, plus every non-routable
        # segment (post-build appends).
        non_routable = sorted(set(range(index.n_segments))
                              - index.routable_segments())
        probe_segs = nearest_cells_udf(index.centroids, int(route_segments),
                                       index.metric, index.seg_map,
                                       always=non_routable)
        probed = qside.withColumn(
            "__seg", F.explode(probe_segs(F.col("__qvec")))).persist()
    else:
        if route_segments is not None and index.centroids is None:
            raise ValueError(
                "route_segments needs a kmeans-partitioned index "
                "(HNSWIndex.build(..., partitioner='kmeans')): hash "
                "segments all share the global mean, so centroid "
                "routing cannot prune them")
        seg_ids = index.spark.range(index.n_segments).select(
            F.col("id").cast("int").alias("__seg"))
        probed = qside.crossJoin(F.broadcast(seg_ids))

    graph = index._decode(index._with_alive(index._read()))
    if routed:
        # partition-prune the graph scan to the probed-segment union —
        # a driver-side distinct of at most n_segments ints (the only
        # driver materialization on this path, same as IVF's)
        segs = [r[0] for r in probed.select("__seg").distinct().collect()]
        graph = graph.where(F.col("__seg").isin(segs))
    allowed = F.col("__alive")
    if where is not None:
        allowed = allowed & F.expr(where)
    graph = graph.select(
        "__seg", "__node", key_col, vec_col, "__level", "__nbrs",
        allowed.alias("__ok"))

    qkey_field = queries.schema[query_key]
    ckey_type = graph.schema[key_col].dataType
    cand_schema = T.StructType([
        T.StructField("__qidx", T.LongType()),
        qkey_field, T.StructField(key_col, ckey_type),
        T.StructField("distance", T.DoubleType())])

    def search_seg(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["__qidx", query_key, key_col, "distance"]
        if left.empty or right.empty:
            return pd.DataFrame(columns=cols)
        right = right.sort_values("__node").reset_index(drop=True)
        vecs, levels, nbrs, entry, top = _graph_arrays(right, vec_col)
        sq = sq_norms(vecs, metric)
        keys = right[key_col].to_numpy()
        okv = right["__ok"].to_numpy()
        mask = None if bool(okv.all()) else okv.astype(bool)
        qixs, qids, rkeys, dists = [], [], [], []
        for qix, qid, qv in zip(left["__qidx"].to_numpy(),
                                left[query_key].to_numpy(),
                                left["__qvec"].to_numpy()):
            q = np.asarray(qv, dtype=np.float64)
            if metric == "cosine":
                q = unit_rows(q)
            hits = _search_graph(vecs, levels, nbrs, entry, top, q,
                                 kk, eff, metric, allowed=mask, sq=sq)
            for d, node in hits:
                qixs.append(qix)
                qids.append(qid)
                rkeys.append(keys[node])
                dists.append(d)
        d = np.asarray(dists, dtype=np.float64)
        return pd.DataFrame({"__qidx": qixs, query_key: qids,
                             key_col: rkeys,
                             "distance": emit(d, metric)}, columns=cols)

    cand = (probed.groupBy("__seg")
            .cogroup(graph.groupBy("__seg"))
            .applyInPandas(search_seg, cand_schema))
    # window on the per-ROW query index (not query_key): duplicate keys
    # each keep their own top-k, same r10 fix as the IVF/flipped paths
    w = Window.partitionBy("__qidx").orderBy(
        F.col("distance").asc(), F.col(key_col).asc())
    return (cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= kk)
                .select(query_key, key_col, "distance", "rank"))

"""Hybrid-KNN planner: pre-filter exact vs inline-filtered ANN, by cost.

A hybrid KNN op (a filter plus KNN on a field declared HNSW that has an
ANN artifact, no EF_RUNTIME) can filter first and score the survivors
exactly, or run the filter inside the artifact: in-traversal on the
segment graphs, or inside the probed IVF lists. The reference makes the
choice from O(1) per-index metadata — each index reports its size, an
AND takes its smallest child — and a fixed ratio test
(src/query/planner.cc:21-46). Here the ratio test becomes a comparison
of two modelled costs: the ANN path runs only where the model prices it
below exact, which is never less accurate. First the index's row count
(``IndexSchema.row_count``, counted once per index version) bounds the
exact side: if scoring every row costs no more than the ANN path, exact
wins and no estimate is made — below about 14k rows at dim 64, every
index the tests and benchmarks build. Only past that bound is the
filter's size estimated, from statistics the index collects once
(``IndexSchema.stats``: row count, an equi-depth histogram per NUMERIC
field, the most frequent tags per TAG field). Nothing here runs a Spark
job.

The cost model, in milliseconds, from constants measured once (their
provenance is beside them):

- exact = JOB_MS + SCORE_MS * rows after the filter * dim
- graph = 2 * JOB_MS + BEAM_MS * rows * dim: the allowed-set job, the
  fetch job, and the driver's beam, whose first step scores the query
  against every resident row
- IVF   = 2 * JOB_MS + SCORE_MS * rows * (lists probed / lists) * dim:
  the probed lists are scanned from the artifact's parquet, whose set-up
  per op measured about one more job floor than a cached scan

An estimate the statistics cannot make (a TEXT leaf, a tag prefix, a
field without statistics) is unknown, and an unknown estimate chooses
exact.
"""

from __future__ import annotations

import bisect
from typing import Callable, NamedTuple

from ..parser.ast import And, MatchAll, Not, NumericPred, Or, TagPred

# Calibrated on 4 cores (local[4], Spark 4.1.2), one client, warm, a
# cached index of clustered 64-d vectors, median of 15 FT.SEARCH replies
# per point. JOB_MS: an exact hybrid reply keeping 10 rows, 56-139 ms at
# 8k rows and 156 ms at 200k. SCORE_MS: the slope of exact reply time
# over rows kept x dim at 200k rows (2k to 200k kept: 160 -> 1,414 ms,
# 7.5e-5 to 9.9e-5 ms per element); the IVF scan of the same index fits
# it (4 of 32 lists: 253 ms keeping 10 rows, 367 ms unfiltered). At 8k
# rows a filtered EF_RUNTIME 40 graph reply took 113 ms against 68 ms
# exact (two job floors against one), and an IVF reply 184-211 ms.
# BEAM_MS: numpy's float64 GEMV per element, 200k x 64 in 2.1 ms.
JOB_MS = 90.0
SCORE_MS = 1.0e-4
BEAM_MS = 2.0e-7


class NumericStats(NamedTuple):
    """A NUMERIC field: how many rows hold a value, and the equi-depth
    quantiles of those values (probabilities 0, 1/B, ..., 1)."""

    count: int
    quantiles: list[float]


class TagStats(NamedTuple):
    """A TAG field: its most frequent tags with their rows, how many
    (row, tag) pairs it holds, how many distinct tags, and whether query
    tags fold to lower case (not CASESENSITIVE)."""

    top: dict[str, int]
    pairs: int
    distinct: int
    fold: bool


class IndexStats(NamedTuple):
    """What the planner knows of one index version."""

    rows: int
    numeric: dict[str, NumericStats]
    tags: dict[str, TagStats]


class KnnCost(NamedTuple):
    """The planner's decision for one op: whether the ANN path runs, the
    rows it estimated the filter keeps (None: unknown, or not needed) and
    the two modelled costs in ms (exact is None when the estimate is
    unknown, and the cost of keeping every row when none was needed)."""

    ann: bool
    estimated_rows: float | None
    exact_ms: float | None
    ann_ms: float


def _cdf(q: list[float], x: float, inclusive: bool) -> float:
    """Share of values <= x (``inclusive``) or < x, from quantiles ``q``:
    linear inside a bucket, so repeated quantiles (one value held by
    many rows) count as a point mass."""
    j = (bisect.bisect_right if inclusive else bisect.bisect_left)(q, x)
    b = len(q) - 1
    if j == 0:
        return 0.0
    if j > b:
        return 1.0
    lo, hi = q[j - 1], q[j]
    width = hi - lo
    inside = (x - lo) / width if 0 < width < float("inf") else 0.5
    return (j - 1 + inside) / b


def _numeric_rows(s: NumericStats, p: NumericPred) -> float:
    if not s.quantiles:
        return 0.0
    share = (_cdf(s.quantiles, p.hi, not p.hi_excl)
             - _cdf(s.quantiles, p.lo, p.lo_excl))
    return s.count * max(share, 0.0)


def _tag_rows(s: TagStats, p: TagPred) -> float | None:
    if any(pre for _, pre, _ in p.tags):
        return None                       # a prefix's tail is unknown
    rest = s.distinct - len(s.top)
    tail = (s.pairs - sum(s.top.values())) / rest if rest > 0 else 0.0
    total = 0.0
    for t, _, _ in p.tags:
        t = t.lower() if s.fold else t
        total += s.top.get(t, tail)
    return total


def _rows(p, stats: IndexStats) -> float | None:
    n = stats.rows
    if isinstance(p, MatchAll):
        return float(n)
    if isinstance(p, NumericPred):
        s = stats.numeric.get(p.attr)
        return None if s is None else _numeric_rows(s, p)
    if isinstance(p, TagPred):
        s = stats.tags.get(p.attr)
        est = None if s is None else _tag_rows(s, p)
        return None if est is None else min(est, n)
    if isinstance(p, (And, Or)):
        kids = [_rows(c, stats) for c in p.children]
        if any(k is None for k in kids):
            return None
        return min(kids) if isinstance(p, And) else min(sum(kids), n)
    if isinstance(p, Not):
        child = _rows(p.child, stats)
        return None if child is None else max(n - child, 0.0)
    return None                           # TEXT, proximity, ...


def estimate_match_fraction(pred, stats: IndexStats) -> float | None:
    """Share of the index's rows the parsed predicate ``pred`` keeps,
    from ``stats`` alone (no Spark call), or None when a leaf cannot be
    estimated. Leaves: a NUMERIC range from the histogram; a TAG from its
    top-k count, else the mean count of the tags outside the top k.
    AND takes its smallest child, OR the sum capped at the row count, NOT
    the complement — the reference's planner.cc rules."""
    rows = _rows(pred, stats)
    if rows is None:
        return None
    return rows / stats.rows if stats.rows else 0.0


def knn_cost(rows: int, dim: int, probe_share: float | None,
             fraction: Callable[[], float | None]) -> KnnCost:
    """Compare exact with the ANN path for a filter over ``rows``
    ``dim``-d vectors: the segment graphs when ``probe_share`` is None,
    else IVF probing that share of its lists. The ANN path runs only when
    it is strictly cheaper. When exact scoring of every row already costs
    no more, exact wins whatever the filter keeps: ``fraction`` (the
    filter's estimated share, or None when unknown) is not asked for, the
    estimate stays None and ``exact_ms`` is that all-rows bound."""
    if probe_share is None:
        ann_ms = 2 * JOB_MS + BEAM_MS * rows * dim
    else:
        ann_ms = 2 * JOB_MS + SCORE_MS * rows * probe_share * dim
    bound_ms = JOB_MS + SCORE_MS * rows * dim
    if bound_ms <= ann_ms:
        return KnnCost(False, None, bound_ms, ann_ms)
    share = fraction()
    if share is None:
        return KnnCost(False, None, None, ann_ms)
    est = share * rows
    exact_ms = JOB_MS + SCORE_MS * est * dim
    return KnnCost(ann_ms < exact_ms, est, exact_ms, ann_ms)

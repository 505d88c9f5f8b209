"""Vector distance, defined once: a Spark SQL expression for FT.SEARCH's
exact scan, and a numpy kernel for the batch KNN joins, the HNSW build
and beam, and IVF / segment routing.

Metrics follow the reference (src/indexes/vector_base.h:106-110): L2 =
euclidean; IP and COSINE are ``1 - dot``, COSINE over unit vectors
(``unit_vector_expr`` at ingest, ``unit_rows`` on queries); any other
name raises ``ValueError``. ``distance_sql`` is the whole distance as
SQL text with the query as one ``array(...)`` of DOUBLE literals, one
py4j call whatever the DIM; a null or wrong-length vector scores null.
The numpy kernel ranks on an internal form (squared L2) that ``emit``
reports, re-scores a kept set pair by pair (``canonical``: a GEMM's
rounding depends on the block a pair rides in, which could flip ties
between equal vectors), and cuts with ``top_k``.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, functions as F

from .sqltext import double_literal, sql_ident


def check_metric(metric: str) -> None:
    """Raise ``ValueError`` for a metric other than l2, ip or cosine."""
    if metric not in ("l2", "ip", "cosine"):
        raise ValueError(f"unknown metric {metric!r}")


def unit_rows(x: np.ndarray) -> np.ndarray:
    """``x`` (a vector, or rows of vectors) at unit L2 norm per row; a
    zero row is left as it is."""
    n = np.linalg.norm(x, axis=-1, keepdims=True)
    with np.errstate(invalid="ignore"):         # inf / inf is NaN, quietly
        return x / np.where(n == 0, 1.0, n)


def unit_vector_expr(vec: Column) -> Column:
    """``vec / ||vec||`` as float, NULL for a zero vector."""
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0),
                              lambda a, x: a + x.cast("double") * x))
    return F.when(norm > 0, F.transform(vec, lambda x: (x / norm).cast("float")))


def _sum_zip(col: str, vec: list[float], term: str) -> str:
    """``sum_i term(x_i, y_i)`` over the column and the query vector."""
    arr = "array(" + ", ".join(double_literal(x) for x in vec) + ")"
    return (f"aggregate(zip_with({sql_ident(col)}, {arr}, (x, y) -> {term}), "
            "0.0D, (acc, t) -> acc + t)")


def distance_sql(col: str, vec: list[float], metric: str) -> str:
    """Distance between the array<float> column named ``col`` and a
    literal query vector, as SQL text."""
    check_metric(metric)
    if metric == "l2":
        d = "CAST(x AS DOUBLE) - y"
        return f"sqrt({_sum_zip(col, vec, f'({d}) * ({d})')})"
    if metric == "cosine":
        vec = unit_rows(np.asarray(vec, dtype=np.float64)).tolist()
    return f"(1.0D - {_sum_zip(col, vec, 'CAST(x AS DOUBLE) * y')})"


def distance_column(col: str, vec: list[float], metric: str) -> Column:
    """``distance_sql`` as a Column."""
    return F.expr(distance_sql(col, vec, metric))


def sq_norms(mat: np.ndarray, metric: str) -> np.ndarray | None:
    """Squared row norms for the l2 norm expansion; None for ip/cosine,
    and when a row's is not finite (its expansion would be inf - inf): a
    query vector then takes the direct form, query rows the expansion
    with that row scored directly (``distances``)."""
    if metric != "l2":
        return None
    sq = (mat * mat).sum(axis=1)
    return sq if np.isfinite(sq).all() else None


def _sq_diff(q: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """Squared l2 as the sum of squared differences."""
    diff = mat - q if q.ndim == 1 else q[:, None, :] - mat
    return (diff * diff).sum(axis=-1)


def distances(q: np.ndarray, mat: np.ndarray, metric: str,
              sqnorms: np.ndarray | None = None, qq=None) -> np.ndarray:
    """Internal distances from ``q`` (a vector, or query rows) to the rows
    of ``mat``. l2 is squared. A query vector takes the norm expansion
    ||v||² - 2v·q + ||q||² (one GEMV; ``qq`` = ||q||²) clipped at 0 when
    given the rows' ``sqnorms`` and its own ||q||² is finite, else the sum
    of squared differences. Query rows always take the expansion (one
    GEMM; the row norms are computed here when not given), with each row
    and each query whose squared norm is not finite scored by the direct
    form alone, so a batch never builds a queries x rows x dim array."""
    if metric != "l2":
        check_metric(metric)
        return 1.0 - (mat @ q if q.ndim == 1 else q @ mat.T)
    if q.ndim == 1:
        if sqnorms is None:
            return _sq_diff(q, mat)
        if qq is None:
            qq = (q * q).sum()
        if not math.isfinite(qq):
            return _sq_diff(q, mat)
        return np.maximum(sqnorms - 2.0 * (mat @ q) + qq, 0.0)
    if sqnorms is None:
        sqnorms = (mat * mat).sum(axis=1)
    if qq is None:
        qq = (q * q).sum(axis=1)
    with np.errstate(invalid="ignore"):
        d = np.maximum(sqnorms - 2.0 * (q @ mat.T) + qq[:, None], 0.0)
    bad = ~np.isfinite(sqnorms)
    if bad.any():
        d[:, bad] = _sq_diff(q, mat[bad])
    for i in np.flatnonzero(~np.isfinite(qq)):
        d[i] = _sq_diff(q[i], mat)
    return d


def emit(d: np.ndarray, metric: str) -> np.ndarray:
    """Reported scores from internal distances."""
    return np.sqrt(np.maximum(d, 0.0)) if metric == "l2" else d


def canonical(q: np.ndarray, rows: np.ndarray, metric: str) -> np.ndarray:
    """Internal distances pair by pair: ``q`` (dim,) to ``rows`` (m, dim),
    or each of ``q`` (nq, dim) to its ``rows`` (nq, m, dim)."""
    check_metric(metric)
    if metric == "l2":
        diff = q[..., None, :] - rows
        return (diff * diff).sum(axis=-1)
    return 1.0 - (q[..., None, :] * rows).sum(axis=-1)


def top_k(d: np.ndarray, keys: np.ndarray, k: int) -> np.ndarray:
    """Positions of the ``k`` smallest of ``d`` in (distance, key) order,
    NaN last, so ties at the cut keep the lowest keys. A 2-D ``d`` is cut
    row by row; ``keys`` is one per column, or one per cell."""
    rows = np.atleast_2d(d)
    keys = np.broadcast_to(keys, rows.shape)
    n = rows.shape[1]
    kk = min(k, n)
    if kk == 0 or n <= 4 * kk:
        idx = np.lexsort((keys, rows), axis=1)[:, :kk]
    else:
        # sort each row's argpartition k; a row with a tie at its k-th
        # value, or a NaN k-th (fewer than k numbers), sorts every
        # candidate <= the k-th (all of them on NaN)
        part = np.argpartition(rows, kk - 1, axis=1)[:, :kk]
        best = np.take_along_axis(rows, part, axis=1)
        kth = best.max(axis=1)
        order = np.lexsort((np.take_along_axis(keys, part, axis=1), best),
                           axis=1)
        idx = np.take_along_axis(part, order, axis=1)
        for i in np.flatnonzero((rows <= kth[:, None]).sum(axis=1) != kk):
            r = rows[i]
            cand = (np.arange(n) if np.isnan(kth[i])
                    else np.flatnonzero(r <= kth[i]))
            idx[i] = cand[np.lexsort((keys[i][cand], r[cand]))][:kk]
    return idx if np.ndim(d) == 2 else idx[0]

"""Vector distance as one Spark SQL expression — pure JVM-side
(zip_with/aggregate), no Python in the hot path.

``distance_column`` renders the whole distance as SQL text and parses it
with one ``F.expr``: the vector column (backquoted), the query vector as
one ``array(...)`` of typed DOUBLE literals, and the zip_with/aggregate
lambdas. Building it is therefore one py4j call whatever the DIM; a
Column built from per-component ``F.lit`` calls costs a round-trip per
component. Literals are written ``<repr>D`` because a bare decimal parses
as DECIMAL (about 2x slower to evaluate); NaN and ±Infinity, which have
no literal form, are ``CAST('...' AS DOUBLE)``.

Metrics follow the reference (src/indexes/vector_base.h:106-110,
docs/commands/ft.create.md:103-109): L2 = euclidean; IP and COSINE are
returned as ``1 - value``. COSINE assumes ingest-normalized vectors
(VectorField normalizes; the query vector is normalized here), so
cosine distance == 1 - dot (src/indexes/vector_base.h:46).
A null vector, or one whose length differs from the query's, yields a
null distance.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F


def normalize_query(vec: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in vec))
    return [x / n for x in vec] if n > 0 else vec


def double_literal(x: float) -> str:
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _sum_zip(col: str, vec: list[float], term: str) -> str:
    """``sum_i term(x_i, y_i)`` over the column and the query vector."""
    arr = "array(" + ", ".join(double_literal(x) for x in vec) + ")"
    ident = "`" + col.replace("`", "``") + "`"
    return (f"aggregate(zip_with({ident}, {arr}, (x, y) -> {term}), "
            "0.0D, (acc, t) -> acc + t)")


def _dot_sql(col: str, vec: list[float]) -> str:
    return _sum_zip(col, vec, "CAST(x AS DOUBLE) * y")


def distance_column(col: str, vec: list[float], metric: str) -> Column:
    """Distance between the array<float> column named ``col`` and a
    literal query vector."""
    if metric == "l2":
        d = "CAST(x AS DOUBLE) - y"
        return F.expr(f"sqrt({_sum_zip(col, vec, f'({d}) * ({d})')})")
    if metric == "cosine":
        vec = normalize_query(vec)
    elif metric != "ip":
        raise ValueError(f"unknown metric {metric!r}")
    return F.expr(f"1.0D - {_dot_sql(col, vec)}")

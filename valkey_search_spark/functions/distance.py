"""Vector distance as one Spark SQL expression — pure JVM-side
(zip_with/aggregate), no Python in the hot path.

``distance_sql`` renders the whole distance as SQL text: the vector
column (backquoted), the query vector as one ``array(...)`` of typed
DOUBLE literals, and the zip_with/aggregate lambdas. FT.SEARCH splices
it into its statement; ``distance_column`` parses it with one ``F.expr``. Building it is therefore one py4j call whatever the DIM; a
Column built from per-component ``F.lit`` calls costs a round-trip per
component. Literals follow ``functions/sqltext.py``.

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

from .sqltext import double_literal, sql_ident


def normalize_query(vec: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in vec))
    return [x / n for x in vec] if n > 0 else vec


def _sum_zip(col: str, vec: list[float], term: str) -> str:
    """``sum_i term(x_i, y_i)`` over the column and the query vector."""
    arr = "array(" + ", ".join(double_literal(x) for x in vec) + ")"
    return (f"aggregate(zip_with({sql_ident(col)}, {arr}, (x, y) -> {term}), "
            "0.0D, (acc, t) -> acc + t)")


def _dot_sql(col: str, vec: list[float]) -> str:
    return _sum_zip(col, vec, "CAST(x AS DOUBLE) * y")


def distance_sql(col: str, vec: list[float], metric: str) -> str:
    """Distance between the array<float> column named ``col`` and a
    literal query vector, as SQL text."""
    if metric == "l2":
        d = "CAST(x AS DOUBLE) - y"
        return f"sqrt({_sum_zip(col, vec, f'({d}) * ({d})')})"
    if metric == "cosine":
        vec = normalize_query(vec)
    elif metric != "ip":
        raise ValueError(f"unknown metric {metric!r}")
    return f"(1.0D - {_dot_sql(col, vec)})"


def distance_column(col: str, vec: list[float], metric: str) -> Column:
    """``distance_sql`` as a Column."""
    return F.expr(distance_sql(col, vec, metric))

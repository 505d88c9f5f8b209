"""RESP-shaped reply formatting: the reference's FT.SEARCH / FT.AGGREGATE
wire shapes, driver-side.

FT.SEARCH replies ``[total, key1, [f1, v1, ...], key2, ...]`` with the
KNN distance exposed as ``__<field>_score`` (or its AS name)
(/root/reference/src/commands/ft_search.cc:74 SerializeNeighbors,
:137 SerializeNonVectorNeighbors). FT.AGGREGATE replies
``[N, [f1, v1, ...], ...]`` where the leading scalar is meaningless
(docs/commands/ft.aggregate.md Result). Values are RESP bulk strings;
doubles print shortest-roundtrip like the reference's Value::ToString.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


def _fmt(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e17:
            return str(int(v))
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    if isinstance(v, list):
        return "[" + ", ".join(_fmt(x) for x in v) + "]"
    return str(v)


def search_reply(df: DataFrame, total: int | None = None,
                 nocontent: bool = False, observation=None,
                 offset: int = 0) -> list:
    """``[total, key, [field, value, ...], ...]``. ``total`` is the
    pre-LIMIT match count when supplied (the reference reports it even when
    LIMIT trims, src/query/search.cc:779-842); a KNN reply frame carries it
    in its ``__total`` column, with ``offset`` rows before its page, and
    ``observation`` reads it from the CollectMetrics node of the SAME
    collect job for any other (one-pass path,
    SearchEngine.ft_search_reply); defaults to returned rows."""
    rows = df.collect()
    windowed = "__total" in (rows[0].__fields__ if rows else df.columns)
    if windowed:
        total = rows[0]["__total"] if rows else 0
        rows = rows[offset:]
    elif observation is not None:
        total = int(observation.get["n"])
    out: list = [total if total is not None else len(rows)]
    for r in rows:
        d = r.asDict()
        key = d.pop("__key", None)
        if windowed:
            del d["__total"]
        out.append(_fmt(key))
        if not nocontent:
            fv: list[str] = []
            for f, v in d.items():
                if v is None:
                    continue  # missing fields are omitted from the doc reply
                fv.append(f)
                fv.append(_fmt(v))
            out.append(fv)
    return out


def aggregate_reply(df: DataFrame) -> list:
    """``[N, [field, value, ...], ...]`` — first element is a scalar the
    clients ignore (ft.aggregate.md Result section)."""
    rows = df.collect()
    out: list = [len(rows)]
    for r in rows:
        fv: list[str] = []
        for f, v in r.asDict().items():
            if v is None:
                continue
            fv.append(f)
            fv.append(_fmt(v))
        out.append(fv)
    return out

"""Z-order (Morton) clustered parquet layout — multi-column data
clustering for scan pruning.

Plain parquet scans prune row groups with footer min/max statistics,
but the statistics only help when rows with nearby key values sit in
the same row groups. ``repartitionByRange`` clusters ONE column;
queries filtering the second column still touch every file. Z-order
interleaves the bits of several columns into one sort key, so a range
predicate on ANY of the z-ordered columns maps to a bounded set of
z-ranges — matching rows concentrate in a few files/row groups and
the rest are skipped at scan time. This is the layout feature Delta
Lake / Iceberg ship (OPTIMIZE ZORDER BY) that vanilla Spark lacks.

Everything is one JVM expression + one range repartition:

    z(row) = OR over columns j, bits i of
             bit_i(normalize(col_j)) << (i * n_cols + j)

``normalize`` maps each column linearly from its [min, max] (one
aggregation job, or caller-supplied stats) onto ``bits``-bit fixed
point. The bit interleave unrolls Python-side into literal shift
expressions — whole-stage codegen, no UDF. The write is
``repartitionByRange(z) + sortWithinPartitions(z)``: ONE shuffle at
write time buys every later multi-dimensional scan its pruning.

Linear normalization degrades to few distinct cells on heavily skewed
columns — pre-transform (log, rank) such columns, as Delta users do.

Reference analogue: none (the reference is an in-memory engine);
beyond-reference extension (SURVEY §2.10). Oracle: scalar Morton
reference + file-concentration pins in tests/test_layout.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


_ORDERABLE = ("tinyint", "smallint", "int", "bigint", "float", "double",
              "date") # + timestamp* and decimal(...) prefixes


def _check_types(df: DataFrame, cols: list[str]) -> None:
    dtypes = dict(df.dtypes)
    for c in cols:
        if c not in dtypes:
            raise ValueError(f"no such column: {c}")
        t = dtypes[c]
        if not (t in _ORDERABLE or t.startswith("timestamp")
                or t.startswith("decimal")):
            raise ValueError(
                f"z-order column {c!r} has non-numeric/temporal type "
                f"{t} — cast or map it to a numeric key first")


def column_ranges(df: DataFrame, cols: list[str]) -> dict[str, tuple]:
    """min/max per column in ONE aggregation job (timestamps come back
    as timestamps; pass the result to ``zorder_expr``/``write_zordered``
    to skip their stats job)."""
    _check_types(df, cols)
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    row = df.agg(*aggs).first()
    return {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in cols}


def _as_double(col: Column, dtype: str) -> Column:
    if dtype.startswith("timestamp"):
        return F.unix_timestamp(col).cast("double")
    if dtype == "date":
        return F.unix_date(col).cast("double")
    return col.cast("double")


def zorder_expr(df: DataFrame, cols: list[str], bits: int = 12,
                stats: dict[str, tuple] | None = None) -> Column:
    """The interleaved Morton key as a ``bigint`` column. ``bits`` per
    column; ``bits * len(cols)`` must fit in 63. Nulls sort first
    (cell 0). Stats default to ``column_ranges`` (one job)."""
    if not cols:
        raise ValueError("need at least one column")
    if bits <= 0 or bits * len(cols) > 63:
        raise ValueError("bits * n_cols must be in (0, 63]")
    _check_types(df, cols)
    if stats is None:
        stats = column_ranges(df, cols)
    dtypes = dict(df.dtypes)
    n = len(cols)
    cells = F.lit((1 << bits) - 1).cast("double")

    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        mn, mx = stats[c]
        dtype = dtypes[c]
        lo = _as_double(F.lit(mn), dtype if not isinstance(mn, (int, float))
                        else "double")
        hi = _as_double(F.lit(mx), dtype if not isinstance(mx, (int, float))
                        else "double")
        x = _as_double(F.col(c), dtype)
        span = hi - lo
        frac = F.when(span > 0, (x - lo) / span).otherwise(F.lit(0.0))
        cell = F.least(F.greatest(F.round(frac * cells), F.lit(0.0)),
                       cells).cast("long")
        cell = F.coalesce(cell, F.lit(0).cast("long"))
        for i in range(bits):
            # literal shift amounts -> plain codegen bitwise ops
            bit = F.shiftright(cell, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def write_zordered(df: DataFrame, path: str, cols: list[str],
                   n_files: int | None = None, bits: int = 12,
                   stats: dict[str, tuple] | None = None,
                   mode: str = "overwrite") -> dict[str, tuple]:
    """Write ``df`` as parquet clustered by the Morton key of ``cols``:
    one ``repartitionByRange`` shuffle + in-partition sort, then the
    key is dropped (it is derivable; layout is its only job). Returns
    the stats used, so later incremental writes can reuse them.
    ``n_files`` defaults to the session's shuffle parallelism."""
    if stats is None:
        stats = column_ranges(df, cols)
    z = zorder_expr(df, cols, bits=bits, stats=stats)
    out = df.withColumn("__z", z)
    n = n_files or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    out = (out.repartitionByRange(int(n), F.col("__z"))
           .sortWithinPartitions("__z")
           .drop("__z"))
    out.write.mode(mode).parquet(path)
    return stats

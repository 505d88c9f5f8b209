"""WebDataset tar-shard sink + source — the multimodal last mile.

WebDataset (the convention used by torch ``webdataset``, NVIDIA DALI,
and most large-scale image/audio training loaders; public spec at
github.com/webdataset/webdataset): a corpus is a directory of POSIX
tar files; a SAMPLE is the group of consecutive members sharing a
basename (the sample "key"), one member per field, the field name
being the file extension — ``000123.txt`` + ``000123.json`` +
``000123.jpg`` is one three-field sample. Training loaders stream the
tars sequentially, so shard membership and intra-shard order ARE the
data order seen by the model.

This module writes and reads that layout Spark-side, completing the
multimodal story: decode/feature ops (``multimodal/``) curate binary
columns in DataFrames; this is how the result leaves for a trainer —
or how an existing WebDataset corpus enters.

Scale + determinism contract:

- shard id = ``pmod(xxhash64(key, seed), n_shards)`` and intra-shard
  position = ``xxhash64(key, seed+1)`` — membership and order are pure
  functions of (key, seed): retries, plan re-evaluation, and re-runs
  produce byte-identical shards (tar metadata is pinned: mtime 0,
  uid/gid 0, USTAR), so dataloader caches and resume offsets stay
  valid across pipeline re-runs.
- ONE shuffle (groupBy shard), each shard materialized by exactly one
  task writing one tar — size ``n_shards`` so a shard fits task
  memory (the reason loaders want ~100-1000 samples/shard anyway).
- crash-safe publish: shards write into a ``.building`` sibling that
  is atomically renamed into place only after every shard task
  succeeded (``sources/swap.py`` conventions; local/POSIX paths only).

Reading: ``read_webdataset`` returns the LONG form (shard, key, ext,
content) via Spark's binaryFile source + one Arrow pass — schema is
stable regardless of which extensions exist, and member names split
at the FIRST dot of the basename (the spec convention, so multi-part
extensions like ``.seg.png`` group as foreign loaders expect);
``pivot_samples`` turns it wide (one column per requested extension)
with one aggregation, grouped by (shard, key) by default since
foreign corpora only guarantee per-shard key uniqueness.
A whole tar is one binaryFile row, so the same sizing rule applies on
the way in.
"""

from __future__ import annotations

import io
import json
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from .swap import require_local_path

_MANIFEST_SCHEMA = "shard int, samples long, bytes long"


def _encode_member(value, ext: str) -> bytes | None:
    """Field value -> member bytes. bytes/bytearray pass through,
    strings are UTF-8, anything else (numbers, Rows, dicts, arrays)
    serializes as JSON — which is also what loaders expect behind a
    ``.json`` extension. None -> member omitted (WebDataset samples
    may be ragged)."""
    if value is None:
        return None
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    if isinstance(value, str):
        return value.encode("utf-8")

    def _plain(v):
        if hasattr(v, "asDict"):            # pyspark Row
            return {k: _plain(x) for k, x in v.asDict().items()}
        if isinstance(v, dict):
            return {k: _plain(x) for k, x in v.items()}
        if isinstance(v, (list, tuple)):
            return [_plain(x) for x in v]
        return v

    return json.dumps(_plain(value), sort_keys=True).encode("utf-8")


def write_webdataset(df: DataFrame, path: str, key: str,
                     columns: dict[str, str],
                     n_shards: int | None = None,
                     samples_per_shard: int | None = None,
                     seed: int = 0,
                     mode: str = "error") -> DataFrame:
    """Write ``df`` as ``path/shard-000000.tar ...``; returns the
    per-shard manifest (shard, samples, bytes) — already materialized,
    so collecting it twice never rewrites.

    ``columns`` maps DataFrame column -> member extension, e.g.
    ``{"text": "txt", "meta": "json", "image": "jpg"}``. Keys must be
    non-null and unique (one sample per key; duplicate keys raise —
    a tar with two same-key groups silently corrupts loader batching).
    Size shards with exactly one of ``n_shards`` or
    ``samples_per_shard`` (one count job derives n_shards from the
    latter). ``mode="overwrite"`` replaces an existing corpus
    atomically; the default errors if ``path`` exists."""
    if (n_shards is None) == (samples_per_shard is None):
        raise ValueError(
            "pass exactly one of n_shards or samples_per_shard")
    if not columns:
        raise ValueError("columns must map at least one column")
    missing = [c for c in list(columns) + [key] if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    path = require_local_path(path, "write_webdataset")
    if os.path.exists(path):
        if mode != "overwrite":
            raise ValueError(
                f"{path} exists (pass mode='overwrite' to replace)")
    if samples_per_shard is not None:
        total = df.count()
        n_shards = max(1, -(-total // int(samples_per_shard)))

    cols = dict(columns)
    keyed = F.col(key).cast("string")
    staged = (df.select(keyed.alias("__k"),
                        *[F.col(c).alias(f"__f_{i}")
                          for i, c in enumerate(cols)])
              .withColumn("__shard",
                          F.pmod(F.xxhash64(F.col("__k"), F.lit(seed)),
                                 F.lit(n_shards)).cast("int"))
              .withColumn("__pos",
                          F.xxhash64(F.col("__k"), F.lit(seed + 1))))
    exts = list(cols.values())
    tmp = path.rstrip("/") + ".building"
    if os.path.exists(tmp):
        import shutil

        shutil.rmtree(tmp)                  # leftover from a crash
    os.makedirs(tmp)

    def write_shard(pdf):
        import pandas as pd

        shard = int(pdf["__shard"].iloc[0])
        pdf = pdf.sort_values(["__pos", "__k"], kind="mergesort")
        if pdf["__k"].duplicated().any():
            dup = pdf["__k"][pdf["__k"].duplicated()].iloc[0]
            raise ValueError(
                f"duplicate sample key {dup!r}: WebDataset groups "
                "members by key, one sample per key")
        fpath = os.path.join(tmp, f"shard-{shard:06d}.tar")
        n = 0
        # column arrays once, then a plain zip loop: iterrows() builds
        # a Series per ROW (measured ~100x the per-member tar cost on
        # text-sized members); the emitted bytes are identical
        field_cols = [pdf[f"__f_{i}"].to_numpy() for i in range(len(exts))]
        # USTAR + zeroed metadata: byte-identical output per (key, seed).
        # The tar streams straight to disk — peak task memory is one
        # MEMBER, not 2x the shard (the pre-r10 BytesIO double-buffer).
        with open(fpath, "wb") as fh, \
                tarfile.open(fileobj=fh, mode="w",
                             format=tarfile.USTAR_FORMAT) as tf:
            for j, k in enumerate(pdf["__k"].to_numpy()):
                if k.startswith("/") or ".." in k:
                    raise ValueError(f"unsafe sample key {k!r}")
                if "." in k.rpartition("/")[2]:
                    # the spec keys a member at the FIRST dot of its
                    # basename — a dotted key cannot round-trip through
                    # any conforming reader (incl. read_webdataset)
                    raise ValueError(
                        f"sample key {k!r} contains '.' in its "
                        "basename: WebDataset readers split members at "
                        "the first dot, so dotted keys do not round-trip")
                for i, ext in enumerate(exts):
                    data = _encode_member(field_cols[i][j], ext)
                    if data is None:
                        continue
                    info = tarfile.TarInfo(name=f"{k}.{ext}")
                    info.size = len(data)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    info.mode = 0o644
                    tf.addfile(info, io.BytesIO(data))
                n += 1
        return pd.DataFrame([(shard, n, os.path.getsize(fpath))],
                            columns=["shard", "samples", "bytes"])

    manifest_rows = (staged.groupBy("__shard")
                     .applyInPandas(write_shard, _MANIFEST_SCHEMA)
                     .collect())
    if os.path.exists(path):
        from .swap import sibling_swap

        sibling_swap(path, tmp)
    else:
        os.rename(tmp, path)
    spark = df.sparkSession
    return spark.createDataFrame(manifest_rows, _MANIFEST_SCHEMA)


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Read a WebDataset directory to the LONG form ``(shard, key,
    ext, content, size)`` — one row per tar member, schema independent
    of which extensions the corpus carries. One binaryFile scan + one
    Arrow pass; each tar is one input row, so shards must fit task
    memory (they were sized to, on the way out).

    Member names split at the FIRST dot of the basename, per the
    WebDataset convention (torch ``webdataset``/DALI): ``a/b/c.seg.png``
    is key ``a/b/c``, ext ``seg.png`` — multi-part extensions stay with
    the field name, matching how external loaders group the corpus."""
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("shard", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("ext", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("size", T.LongType()),
    ])

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                shard = os.path.basename(row["path"])
                rows = []
                with tarfile.open(
                        fileobj=io.BytesIO(row["content"])) as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        # first dot of the BASENAME keys the sample
                        # (spec convention): dirs may be dotted, and
                        # multi-part extensions belong to the ext
                        slash = m.name.rfind("/")
                        dot = m.name.find(".", slash + 1)
                        if dot == -1:
                            base, ext = m.name, ""
                        else:
                            base, ext = m.name[:dot], m.name[dot + 1:]
                        data = tf.extractfile(m).read()
                        rows.append((shard, base, ext, data, len(data)))
                yield pd.DataFrame(rows, columns=[
                    "shard", "key", "ext", "content", "size"])

    raw = (spark.read.format("binaryFile")
           .load(os.path.join(path, "*.tar"))
           .select("path", "content"))
    return raw.mapInPandas(parse, schema)


def pivot_samples(long_df: DataFrame, extensions: list[str],
                  within_shard: bool = True) -> DataFrame:
    """Long form -> one row per sample with a binary column per
    requested extension (missing members stay null). One aggregation;
    extension list explicit so the schema is plan-time-stable.

    Groups by ``(shard, key)`` by default: external WebDataset corpora
    commonly reuse keys across shards (keys are only unique WITHIN a
    shard), and a key-only group would silently merge such samples via
    ``max(content)``. The ``shard`` column rides along in the output.
    Pass ``within_shard=False`` for corpus-global keys (e.g. this
    module's own output, whose writer enforces global uniqueness) to
    drop the shard column and group on ``key`` alone."""
    aggs = [F.max(F.when(F.col("ext") == e, F.col("content"))).alias(e)
            for e in extensions]
    keys = ["shard", "key"] if within_shard else ["key"]
    return long_df.groupBy(*keys).agg(*aggs)

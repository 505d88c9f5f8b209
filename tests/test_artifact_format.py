"""Artifact format stamps: persisted index artifacts carry a versioned
"format" tag (the reference versions its RDB chunks the same way,
src/rdb_serialization.cc). Loads must accept the PRE-stamp layout
(checked-in miniature fixtures under tests/data/artifacts_v1, written
by the pre-stamp writer: identical files, no format key) and fail
a foreign tag with a versioned error — never deserialize garbage."""
from __future__ import annotations

import json as _json
import os
import shutil as _shutil

import pytest

from pyspark.sql import functions as F

_V1 = os.path.join(os.path.dirname(__file__), "data", "artifacts_v1")


def test_legacy_artifacts_load_and_search(spark):
    from valkey_search_spark.operators.ann import IVFIndex
    from valkey_search_spark.operators.hnsw import HNSWIndex

    ivf = IVFIndex.load(spark, os.path.join(_V1, "ivf"))
    assert _json.load(open(os.path.join(
        _V1, "ivf", "_ivf_meta.json"))).get("format") is None
    out = ivf.search([0.0] * 4, k=3, nprobe=ivf.n_lists).collect()
    assert len(out) == 3
    hnsw = HNSWIndex.load(spark, os.path.join(_V1, "hnsw"))
    rows = hnsw.search([0.0] * 4, k=3, ef=16)
    assert len(rows) == 3


def test_foreign_format_tag_fails_versioned(spark, tmp_path):
    from valkey_search_spark.artifact import ArtifactFormatError
    from valkey_search_spark.operators.ann import IVFIndex
    from valkey_search_spark.operators.hnsw import HNSWIndex

    for kind, metaname, loader in (
            ("ivf", "_ivf_meta.json", IVFIndex.load),
            ("hnsw", "_hnsw_meta.json", HNSWIndex.load)):
        dst = str(tmp_path / kind)
        _shutil.copytree(os.path.join(_V1, kind), dst)
        mp = os.path.join(dst, metaname)
        m = _json.load(open(mp))
        m["format"] = f"{kind}-index-v9"
        _json.dump(m, open(mp, "w"))
        with pytest.raises(ArtifactFormatError, match="v9"):
            loader(spark, dst)


def test_current_writer_stamps_and_reloads(spark, sf_dir, tmp_path):
    from valkey_search_spark.operators.ann import IVFIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(16).select(
        F.col("vec_id").alias("cid"), F.slice("embedding", 1, 4)
        .alias("embedding"))
    path = str(tmp_path / "ivf_new")
    IVFIndex.build(emb, path=path, vec_col="embedding", metric="l2",
                   n_lists=2)
    m = _json.load(open(os.path.join(path, "_ivf_meta.json")))
    assert m["format"] == "ivf-index-v1"
    assert IVFIndex.load(spark, path).n_lists == 2


@pytest.mark.parametrize("kind", ["ivf", "hnsw"])
def test_failed_meta_write_keeps_previous_meta(spark, tmp_path, monkeypatch,
                                               kind):
    """A meta write that dies midway (a kill, a full disk) must leave the
    previous meta whole: ``load`` still reads it, and no temp file is
    left beside it."""
    from valkey_search_spark.operators.ann import IVFIndex
    from valkey_search_spark.operators.hnsw import HNSWIndex

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0, 0.5]) for i in range(40)],
        "vec_id: int, embedding: array<float>")
    path = str(tmp_path / kind)
    if kind == "ivf":
        cls = IVFIndex
        idx = IVFIndex.build(df, path, n_lists=2, key_col="vec_id")
    else:
        cls = HNSWIndex
        idx = HNSWIndex.build(df, path, m=4, ef_construction=20)

    def torn(obj, fh, **kw):
        fh.write(_json.dumps(obj)[:20])
        raise OSError("disk full")

    monkeypatch.setattr(_json, "dump", torn)
    with pytest.raises(OSError, match="disk full"):
        idx.delete([3])
    monkeypatch.undo()
    again = cls.load(spark, path)
    assert again.gen == 0
    assert not [f for f in os.listdir(path) if f.endswith(".tmp")]

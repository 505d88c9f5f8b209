"""Structured-Streaming maintenance of the HNSW tier: a mutation
stream applied via foreachBatch keeps the graph index live — the
reference's keyspace-notification -> AddRecord/RemoveRecord loop
(/root/reference/src/indexes/vector_base.cc:131+), restated as
micro-batch appends + generation tombstones on immutable segments."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import Row, functions as F

from valkey_search_spark.operators.hnsw import HNSWIndex


@pytest.fixture()
def base(spark, tmp_path):
    rng = np.random.RandomState(3)
    rows = [(int(i), [float(x) for x in rng.randn(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    idx = HNSWIndex.build(df, str(tmp_path / "idx"), metric="l2", m=6,
                          ef_construction=40, max_segment_rows=30)
    return idx, rows


def test_stream_appends_and_deletes_apply_in_order(spark, tmp_path, base):
    idx, rows = base
    rng = np.random.RandomState(9)

    mut_dir = tmp_path / "muts"
    mut_dir.mkdir()
    new_rows = [Row(vec_id=int(i), embedding=[float(x) for x in rng.randn(8)],
                    __op="SET") for i in range(60, 80)]
    dels = [Row(vec_id=int(i), embedding=[0.0] * 8, __op="DEL")
            for i in (2, 3, 61)]        # 61: delete a row set in the SAME run
    df = spark.createDataFrame(new_rows + dels)
    df.write.mode("append").parquet(str(mut_dir))

    def apply_batch(batch_df, epoch_id):
        # SETs before DELs within a batch: a DEL's tombstone generation
        # must exceed the generation of any same-batch insert it kills
        sets = batch_df.where("__op = 'SET'").select("vec_id", "embedding")
        if sets.count():
            idx.append(sets)
        dels_df = batch_df.where("__op = 'DEL'").select("vec_id")
        if dels_df.count():
            idx.delete(dels_df)

    stream = spark.readStream.schema(df.schema).parquet(str(mut_dir))
    q = (stream.writeStream.foreachBatch(apply_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r["vec_id"] for r in
           idx.search([0.0] * 8, k=200, ef=10 ** 6)}
    assert got == set(range(80)) - {2, 3, 61}

    # a second micro-batch re-inserting a deleted key must win (newer gen)
    df2 = spark.createDataFrame(
        [Row(vec_id=2, embedding=[0.0] * 8, __op="SET")])
    df2.write.mode("append").parquet(str(mut_dir))
    q = (spark.readStream.schema(df.schema).parquet(str(mut_dir))
         .writeStream.foreachBatch(apply_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = idx.search([0.0] * 8, k=1, ef=10 ** 6)
    assert res[0]["vec_id"] == 2 and res[0]["__score"] == 0.0

    # reload from disk sees the same state (all mutations are durable)
    re = HNSWIndex.load(spark, idx.path)
    got = {r["vec_id"] for r in
           re.search([0.0] * 8, k=200, ef=10 ** 6)}
    assert got == set(range(80)) - {3, 61}


def test_compact_after_stream_restores_segment_sizing(spark, tmp_path,
                                                      base):
    idx, _ = base
    rng = np.random.RandomState(11)
    for i in range(3):                      # three tiny appends
        df = spark.createDataFrame(
            [(int(100 + 10 * i + j),
              [float(x) for x in rng.randn(8)]) for j in range(10)],
            "vec_id: long, embedding: array<float>")
        idx.append(df)
    idx.delete([0, 1])
    assert idx.n_segments == 2 + 3
    idx.compact(max_segment_rows=30)
    assert idx.n_segments == 3              # ceil(88 / 30)
    assert idx.gen == 0
    got = {r["vec_id"] for r in
           idx.search([0.0] * 8, k=200, ef=10 ** 6)}
    assert got == (set(range(2, 60)) | set(range(100, 130)))


def test_document_store_mirrors_into_hnsw_artifact(spark, tmp_path):
    """DocumentStore.apply_mutations(ann_indexes=[hnsw]) — the
    notification -> AddRecord/RemoveRecord loop against the GRAPH tier:
    DEL keys tombstone out, SET rows upsert (replace-by-key), vectorless
    SETs leave the index."""
    from pyspark.sql import Row, functions as F
    from valkey_search_spark.streaming.ingest import (OP_DEL, OP_SET,
                                                      DocumentStore)

    rng = np.random.RandomState(21)
    docs = spark.createDataFrame(
        [(str(i), [float(x) for x in rng.randn(8)]) for i in range(50)],
        "__key: string, embedding: array<float>")
    store = DocumentStore(spark, str(tmp_path / "docs"), num_buckets=4)
    store.backfill(docs)
    idx = HNSWIndex.build(docs, str(tmp_path / "idx"), key_col="__key",
                          metric="l2", m=6, ef_construction=40,
                          max_segment_rows=30)

    moved = [0.0] * 8
    muts = spark.createDataFrame([
        Row(__key="3", embedding=moved, __op=OP_SET),      # replace
        Row(__key="7", embedding=None, __op=OP_SET),       # unembedded
        Row(__key="9", embedding=moved, __op=OP_DEL),      # delete
        Row(__key="60", embedding=[9.0] * 8, __op=OP_SET),  # insert
    ])
    store.apply_mutations(muts, ann_indexes=[idx])

    res = idx.search([0.0] * 8, k=100, ef=10 ** 6)
    got = {r["__key"] for r in res}
    assert got == {str(i) for i in range(50) if i not in (7, 9)} | {"60"}
    # the replaced row moved to the new vector: rank 1 at distance 0
    best = idx.search(moved, k=1, ef=10 ** 6)[0]
    assert best["__key"] == "3" and best["__score"] == 0.0
    # store and index agree on membership
    assert store.read().where("__key = '9'").count() == 0


def test_streamed_rows_found_under_routed_search(spark, tmp_path):
    """Round-8 routing x streaming: rows appended by a mutation stream
    land in hash-assigned (non-routable) segments — a ROUTED search
    must still find them (non-routable segments are always probed),
    and compact() folds them under fresh centroids."""
    from valkey_search_spark.operators.hnsw import knn_join_hnsw

    rng = np.random.RandomState(4)
    # two far-apart clusters, kmeans-partitioned
    rows = [(int(i), [float(x + (100.0 if i % 2 else 0.0))
                      for x in rng.randn(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    idx = HNSWIndex.build(df, str(tmp_path / "kidx"), metric="l2", m=6,
                          ef_construction=40, max_segment_rows=1000,
                          n_segments=2, partitioner="kmeans")

    mut_dir = tmp_path / "muts2"
    mut_dir.mkdir()
    # a brand-new far-away cluster arrives via the stream
    new_rows = [Row(vec_id=int(900 + i),
                    embedding=[float(500 + rng.randn())] * 8)
                for i in range(8)]
    spark.createDataFrame(new_rows).write.mode("append") \
        .parquet(str(mut_dir))

    def apply_batch(batch_df, epoch_id):
        idx.append(batch_df.select("vec_id", "embedding"))

    stream = (spark.readStream
              .schema(spark.createDataFrame(new_rows).schema)
              .parquet(str(mut_dir)))
    (stream.writeStream.foreachBatch(apply_batch)
     .option("checkpointLocation", str(tmp_path / "ckpt2"))
     .trigger(availableNow=True).start().awaitTermination(120))

    assert len(idx.routable_segments()) < idx.n_segments
    q = spark.createDataFrame(
        [(0, [500.0] * 8)], "qid long, embedding array<float>")
    hits = knn_join_hnsw(q, idx, k=5, ef=10**6, route_segments=1)
    got = {r["vec_id"] for r in hits.collect()}
    assert got <= {900 + i for i in range(8)} and len(got) == 5
    # compaction restores routability and keeps the streamed rows
    idx.compact(max_segment_rows=1000)
    assert idx.routable_segments() == set(range(idx.n_segments))
    hits2 = knn_join_hnsw(q, idx, k=5, ef=10**6, route_segments=1)
    assert {r["vec_id"] for r in hits2.collect()} == got

"""IVF index mutation layer: append / delete / upsert without a rebuild
(reference live mutation surface: /root/reference/src/indexes/vector_base.cc
AddRecord/RemoveRecord driven by keyspace events — here parquet appends into
the partitioned layout + generation-versioned broadcast tombstones)."""

import math

import pytest
from pyspark.sql import functions as F

from valkey_search_spark.functions.distance import distance_column
from valkey_search_spark.operators.ann import (
    IVFIndex, knn_join_bucketed, recall_at_k,
)

SF = "/root/testdata/sf0.001"
QVEC = [round(math.sin(i + 1), 6) for i in range(64)]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _brute(emb, metric, k=10):
    return (emb.withColumn("__score",
                           distance_column("embedding", QVEC, metric))
               .orderBy("__score", "vec_id").limit(k))


def test_append_matches_full_build(spark, emb, tmp_path):
    """Build on half the corpus, append the other half: full-probe search
    is exact, so results must equal a from-scratch build on everything."""
    lo = emb.where(F.col("vec_id") % 2 == 0)
    hi = emb.where(F.col("vec_id") % 2 == 1)
    idx = IVFIndex.build(lo, str(tmp_path / "half"), vec_col="embedding",
                         metric="l2", n_lists=8, seed=42, key_col="vec_id")
    idx.append(hi)
    got = idx.search(QVEC, k=10, nprobe=idx.n_lists, tiebreak_col="vec_id")
    assert recall_at_k(got, _brute(emb, "l2"), "vec_id", 10) == 1.0
    assert idx.gen == 1


def test_append_lands_in_kmeans_list(spark, emb, tmp_path):
    """An appended vector goes to the list KMeans assignment would pick:
    append a corpus row that was withheld at build and check it shares a
    __list with its build-time twin (same vector appears in both)."""
    one = emb.limit(1)
    vid = one.first()["vec_id"]
    rest = emb.where(F.col("vec_id") != vid)
    idx = IVFIndex.build(rest, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=8, seed=42, key_col="vec_id")
    idx.append(one)
    raw = spark.read.parquet(idx.path)
    appended = raw.where(F.col("vec_id") == vid).select("__list").first()[0]
    # nearest-centroid recomputed from the stored centroid matrix
    import numpy as np

    v = np.asarray(one.first()["embedding"], dtype=np.float64)
    want = int(np.argmin(((idx.centroids - v) ** 2).sum(axis=1)))
    assert appended in idx.list_map[want]


def test_delete_hides_rows_everywhere(spark, emb, tmp_path):
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=8, seed=42, key_col="vec_id")
    top = [r["vec_id"] for r in
           idx.search(QVEC, k=3, nprobe=idx.n_lists).collect()]
    idx.delete(top)
    after = [r["vec_id"] for r in
             idx.search(QVEC, k=10, nprobe=idx.n_lists).collect()]
    assert not set(top) & set(after)
    # the bucketed join path honors the same tombstones
    qdf = spark.createDataFrame([(0, QVEC)], "qid int, embedding array<float>")
    joined = knn_join_bucketed(qdf, idx, k=10, nprobe=idx.n_lists,
                               corpus_key="vec_id")
    assert not set(top) & {r["vec_id"] for r in joined.collect()}


def test_reinsert_after_delete_survives(spark, emb, tmp_path):
    """A key deleted at gen g and re-appended at gen g+1 is alive: the
    tombstone only kills rows written at or before its own generation."""
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42, key_col="vec_id")
    row = emb.limit(1)
    vid = row.first()["vec_id"]
    idx.delete([vid])
    assert idx.scan_raw().where(F.col("vec_id") == vid).count() == 0
    idx.append(row)
    assert idx.scan_raw().where(F.col("vec_id") == vid).count() == 1


def test_upsert_replaces_vector(spark, emb, tmp_path):
    """Upserting a key with a new vector: searches see the new position,
    the old row is gone, and the key appears exactly once."""
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42, key_col="vec_id")
    vid = emb.first()["vec_id"]
    moved = emb.limit(1).withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda _: F.lit(9.0).cast("float")))
    idx.upsert(moved)
    alive = idx._read().where(F.col("vec_id") == vid)
    rows = alive.collect()
    assert len(rows) == 1
    assert all(abs(x - 9.0) < 1e-6 for x in rows[0]["embedding"])


def test_mutations_survive_load(spark, emb, tmp_path):
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42, key_col="vec_id")
    gone = [r["vec_id"] for r in
            idx.search(QVEC, k=2, nprobe=idx.n_lists).collect()]
    idx.delete(gone)
    again = IVFIndex.load(spark, idx.path)
    assert again.gen == idx.gen and again.key_col == "vec_id"
    ids = {r["vec_id"] for r in
           again.search(QVEC, k=10, nprobe=again.n_lists).collect()}
    assert not set(gone) & ids


def test_append_routes_through_split_lists(spark, emb, tmp_path):
    """On an index whose hot list was hash-split at build, appends use the
    identical split formula — full-probe search still finds everything and
    no appended row lands outside its centroid's physical sub-lists."""
    cap = 40                    # 1000 rows / 8 lists => ~125 per list
    lo = emb.where(F.col("vec_id") % 2 == 0)
    hi = emb.where(F.col("vec_id") % 2 == 1)
    idx = IVFIndex.build(lo, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=8, seed=42,
                         max_list_rows=cap, key_col="vec_id")
    assert idx.n_physical_lists > idx.n_lists   # the cap actually split
    idx.append(hi)
    got = idx.search(QVEC, k=10, nprobe=idx.n_lists, tiebreak_col="vec_id")
    assert recall_at_k(got, _brute(emb, "l2"), "vec_id", 10) == 1.0
    # physical list of every appended row is one of its centroid's ids
    import numpy as np

    raw = spark.read.parquet(idx.path).where(F.col("__gen") == 1)
    for r in raw.select("vec_id", "embedding", "__list").collect():
        v = np.asarray(r["embedding"], dtype=np.float64)
        c = int(np.argmin(((idx.centroids - v) ** 2).sum(axis=1)))
        assert r["__list"] in idx.list_map[c]


def test_append_quantized_and_pq_tiers(spark, emb, tmp_path):
    """Appends encode through the index's storage tier: int8 rows join the
    quantized scan; PQ rows encode against the FIXED build-time codebook
    and an appended outlier vector is findable at rank 1."""
    probe = [9.0] * 64
    outlier = spark.createDataFrame(
        [(99999, 0, [float(x) for x in probe])],
        "vec_id bigint, label bigint, embedding array<float>")
    out_cast = outlier.withColumn(
        "embedding", F.col("embedding").cast("array<float>"))
    for kw in ({"quantize": True}, {"pq_m": 8}):
        path = str(tmp_path / f"ix_{'q' if 'quantize' in kw else 'pq'}")
        idx = IVFIndex.build(emb, path, vec_col="embedding", metric="l2",
                             n_lists=4, seed=42, key_col="vec_id", **kw)
        idx.append(out_cast.select(*emb.columns))
        top = idx.search(probe, k=1, nprobe=idx.n_lists).first()
        assert top["vec_id"] == 99999


def test_tombstone_join_is_broadcast_and_pruning_survives(spark, emb, tmp_path):
    """Plan pins: the tombstone filter is a BroadcastHashJoin (never a
    corpus shuffle) and the probed-list predicate still prunes partitions
    beneath it."""
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=8, seed=42, key_col="vec_id")
    idx.delete([1, 2, 3])
    plan = (idx.search(QVEC, k=5, nprobe=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "__list" in plan


def test_key_col_contract_errors(spark, emb, tmp_path):
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42)
    with pytest.raises(ValueError, match="key_col"):
        idx.delete([1])
    idx2 = IVFIndex.build(emb, str(tmp_path / "ix2"), vec_col="embedding",
                          metric="l2", n_lists=4, seed=42, key_col="vec_id")
    with pytest.raises(ValueError, match="key_col"):
        idx2.delete([1], key_col="label")


def test_engine_ann_mutates_by_document_key(spark, emb, tmp_path):
    """Engine-level surface: ft_build_ann keys the artifact on the index's
    __key, so a document delete tombstones it out of engine KNN results —
    the reference's keyspace-event RemoveRecord, minus the rebuild."""
    import math

    from valkey_search_spark import SearchEngine, VectorField

    e = SearchEngine(spark)
    e.ft_create("mut_emb", emb,
                [VectorField("embedding", dim=64, metric="l2")],
                key_column="vec_id")
    ivf = e.ft_build_ann("mut_emb", "embedding",
                         str(tmp_path / "ann"), n_lists=8)
    q = [round(math.sin(i + 1), 6) for i in range(64)]
    # EF_RUNTIME 40 at k 5 probes all 8 lists
    before = e.ft_search("mut_emb", "*=>[KNN 5 @embedding $v EF_RUNTIME 40]",
                         params={"v": q}, limit=(0, 5))
    top_key = before.first()["__key"]
    ivf.delete([top_key])
    after = e.ft_search("mut_emb", "*=>[KNN 5 @embedding $v EF_RUNTIME 40]",
                        params={"v": q}, limit=(0, 5))
    keys = [r["__key"] for r in after.collect()]
    assert top_key not in keys and len(keys) == 5


def test_document_store_mutations_flow_into_ann(spark, emb, tmp_path):
    """End-to-end keyspace-event loop: DocumentStore SET/DEL mutations
    apply to the document table AND propagate into the ANN artifact via
    upsert/delete — the reference's notification -> mutation queue ->
    index AddRecord/RemoveRecord pipeline, one micro-batch at a time."""
    import math

    from valkey_search_spark.streaming.ingest import DocumentStore

    store = DocumentStore(spark, str(tmp_path / "docs"),
                          key_column="vec_id", num_buckets=8)
    store.backfill(emb)
    idx = IVFIndex.build(store.read(), str(tmp_path / "ann"),
                         vec_col="embedding", metric="l2", n_lists=8,
                         seed=42, key_col="vec_id")

    q = [round(math.sin(i + 1), 6) for i in range(64)]
    victim = idx.search(q, k=1, nprobe=idx.n_lists).first()["vec_id"]
    new_vec = [float(x) for x in q]

    muts = spark.createDataFrame(
        [(victim, "DEL", None, None),
         (777777, "SET", new_vec, 5)],
        "vec_id long, __op string, embedding array<float>, label int")
    store.apply_mutations(muts)
    # propagate the same batch into the index (what a foreachBatch sink
    # composing store + index would do per micro-batch)
    idx.delete([victim])
    idx.append(muts.where("__op = 'SET'").drop("__op"))

    table_keys = {r["vec_id"] for r in
                  store.read().select("vec_id").collect()}
    assert victim not in table_keys and 777777 in table_keys
    top = idx.search(q, k=2, nprobe=idx.n_lists,
                     tiebreak_col="vec_id").collect()
    got = [r["vec_id"] for r in top]
    assert got[0] == 777777 and victim not in got


def test_delete_dataframe_casts_key_type(spark, emb, tmp_path):
    """A DataFrame delete with a mismatched key type must not write mixed
    physical parquet types into the tombstone dir."""
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42, key_col="vec_id")
    vid = emb.first()["vec_id"]
    narrow = spark.createDataFrame([(int(vid),)], "vec_id int")  # not bigint
    idx.delete(narrow)
    idx.delete([emb.collect()[1]["vec_id"]])   # second write, stored type
    assert idx.scan_raw().where(F.col("vec_id") == vid).count() == 0


def test_legacy_artifact_without_gen_refuses_mutation(spark, emb, tmp_path):
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42, key_col="vec_id")
    # simulate a pre-mutation-era artifact: rewrite without __gen
    legacy = str(tmp_path / "legacy")
    (spark.read.parquet(idx.path).drop("__gen")
     .write.partitionBy("__list").parquet(legacy))
    import json
    import shutil

    shutil.copy(f"{idx.path}/_ivf_meta.json", f"{legacy}/_ivf_meta.json")
    old = IVFIndex.load(spark, legacy)
    with pytest.raises(ValueError, match="rebuild"):
        old.delete([1])
    with pytest.raises(ValueError, match="rebuild"):
        old.append(emb.limit(1))
    # plain reads still work
    assert old.search([0.0] * 64, k=3, nprobe=4).count() == 3


def test_engine_build_rejects_reserved_kwargs(spark, emb, tmp_path):
    from valkey_search_spark import SearchEngine, VectorField
    from valkey_search_spark.errors import QuerySyntaxError

    e = SearchEngine(spark)
    e.ft_create("resv_emb", emb,
                [VectorField("embedding", dim=64, metric="l2")],
                key_column="vec_id")
    with pytest.raises(QuerySyntaxError, match="key_col"):
        e.ft_build_ann("resv_emb", "embedding", str(tmp_path / "a"),
                       key_col="vec_id")


def test_streaming_sink_mirrors_ann(spark, emb, tmp_path):
    """The full reference loop as ONE streaming pipeline: a mutation
    stream upserts the document store AND mirrors into the ANN artifact
    per micro-batch (ann_indexes=), so KNN results track the keyspace
    with no rebuild."""
    import math

    from valkey_search_spark.streaming.ingest import DocumentStore

    store = DocumentStore(spark, str(tmp_path / "docs"),
                          key_column="vec_id", num_buckets=4)
    store.backfill(emb)
    idx = IVFIndex.build(store.read(), str(tmp_path / "ann"),
                         vec_col="embedding", metric="l2", n_lists=4,
                         seed=42, key_col="vec_id")

    q = [round(math.sin(i + 1), 6) for i in range(64)]
    victim = idx.search(q, k=1, nprobe=idx.n_lists).first()["vec_id"]

    mut_dir = tmp_path / "muts"
    mut_dir.mkdir()
    mut_schema = ("vec_id long, embedding array<float>, label int,"
                  " __op string")
    spark.createDataFrame([
        (888888, [float(x) for x in q], 1, "SET"),
        (int(victim), None, None, "DEL"),
        (777777, None, 2, "SET"),                     # SET with no vector
    ], mut_schema).write.mode("append").parquet(str(mut_dir))

    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>, label int,"
                      " __op string")
              .parquet(str(mut_dir)))
    sq = store.streaming_sink(stream, str(tmp_path / "ckpt"),
                              trigger={"availableNow": True},
                              ann_indexes=[idx])
    sq.awaitTermination(120)

    top = idx.search(q, k=3, nprobe=idx.n_lists,
                     tiebreak_col="vec_id").collect()
    got = [r["vec_id"] for r in top]
    assert got[0] == 888888          # streamed insert is the new nearest
    assert victim not in got         # streamed delete tombstoned
    # vector-less SET lands in the store but NOT the index
    assert store.read().where("vec_id = 777777").count() == 1
    assert idx.scan_raw().where("vec_id = 777777").count() == 0


def test_compact_folds_tombstones_and_preserves_results(spark, emb, tmp_path):
    import math
    import os

    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42, key_col="vec_id")
    q = [round(math.sin(i + 1), 6) for i in range(64)]
    gone = [r["vec_id"] for r in
            idx.search(q, k=2, nprobe=idx.n_lists).collect()]
    idx.delete(gone)
    idx.append(emb.limit(1).withColumn(
        "vec_id", F.col("vec_id") + 5_000_000))
    before = [r["vec_id"] for r in
              idx.search(q, k=10, nprobe=idx.n_lists,
                         tiebreak_col="vec_id").collect()]
    n_before = idx.scan_raw().count()
    sizes_before = idx.list_sizes()

    idx.compact()
    assert idx.gen == 0
    assert not os.path.isdir(idx._tomb_path)          # tombstones gone
    after = [r["vec_id"] for r in
             idx.search(q, k=10, nprobe=idx.n_lists,
                        tiebreak_col="vec_id").collect()]
    assert after == before                            # results unchanged
    assert idx.scan_raw().count() == n_before         # only dead rows left
    assert idx.list_sizes() == sizes_before           # membership preserved
    # gens reset: a fresh delete still works post-compact
    idx.delete([after[0]])
    assert after[0] not in [r["vec_id"] for r in
                            idx.search(q, k=10, nprobe=idx.n_lists).collect()]
    # load still works (meta rewritten after the swap)
    again = IVFIndex.load(spark, idx.path)
    assert again.gen == idx.gen


def test_list_sizes_count_every_row(spark, emb, tmp_path):
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42, key_col="vec_id")
    sizes = idx.list_sizes()
    assert sum(sizes.values()) == emb.count()


def test_ft_info_reports_ann_state(spark, emb, tmp_path):
    from valkey_search_spark import SearchEngine, VectorField

    e = SearchEngine(spark)
    e.ft_create("info_emb", emb,
                [VectorField("embedding", dim=64, metric="l2")],
                key_column="vec_id")
    before = e.ft_info("info_emb")
    vec_attr = [a for a in before["attributes"]
                if a["type"] == "VECTOR"][0]
    assert "ann" not in vec_attr["index"]          # no artifact yet
    ivf = e.ft_build_ann("info_emb", "embedding",
                         str(tmp_path / "ann"), n_lists=8)
    ivf.delete(["1"])
    after = e.ft_info("info_emb")
    ann = [a for a in after["attributes"]
           if a["type"] == "VECTOR"][0]["index"]["ann"]
    assert ann == {"n_lists": 8, "n_physical_lists": 8,
                   "mutation_generation": 1, "storage": "float32"}


def test_compact_refuses_fully_tombstoned_index(spark, emb, tmp_path):
    sub = emb.limit(5)
    idx = IVFIndex.build(sub, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=2, seed=42, key_col="vec_id")
    idx.delete([r["vec_id"] for r in sub.collect()])
    assert idx.scan_raw().count() == 0               # valid all-dead state
    with pytest.raises(ValueError, match="tombstoned"):
        idx.compact()
    # the original artifact is untouched and still loads
    again = IVFIndex.load(spark, idx.path)
    assert again.scan_raw().count() == 0


def test_opq_without_pq_raises(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="pq_opq_iters requires pq_m"):
        IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                       metric="l2", n_lists=2, seed=42, pq_opq_iters=4)


def test_mirror_deletes_on_non_set_ops(spark, emb, tmp_path):
    """Store semantics: any winner that is not a vector-carrying SET is
    a delete — unknown/lowercase/null ops must not leave ghost vectors
    in the mirrored index."""
    from valkey_search_spark.streaming.ingest import DocumentStore

    store = DocumentStore(spark, str(tmp_path / "docs"),
                          key_column="vec_id", num_buckets=4)
    store.backfill(emb)
    idx = IVFIndex.build(store.read(), str(tmp_path / "ann"),
                         vec_col="embedding", metric="l2", n_lists=4,
                         seed=42, key_col="vec_id")
    k1, k2, k3 = [r["vec_id"] for r in emb.limit(3).collect()]
    muts = spark.createDataFrame(
        [(int(k1), None, None, "EXPIRE"),      # unknown op
         (int(k2), None, None, "del"),         # wrong case
         (int(k3), None, None, None)],         # null op
        "vec_id long, embedding array<float>, label int, __op string")
    store.apply_mutations(muts, ann_indexes=[idx])
    for k in (k1, k2, k3):
        assert store.read().where(F.col("vec_id") == k).count() == 0
        assert idx.scan_raw().where(F.col("vec_id") == k).count() == 0


def test_rebuild_recenters_and_clears_mutation_state(spark, emb, tmp_path):
    """rebuild(): fresh KMeans over alive rows, same storage tier and
    key; tombstones and generations reset; results equal a from-scratch
    build over the same survivors."""
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42, key_col="vec_id")
    gone = [r["vec_id"] for r in
            idx.search(QVEC, k=3, nprobe=idx.n_lists).collect()]
    idx.delete(gone)
    idx.rebuild(n_lists=8, seed=42)
    assert idx.gen == 0 and idx.n_lists == 8
    import os

    assert not os.path.isdir(idx._tomb_path)
    got = [r["vec_id"] for r in
           idx.search(QVEC, k=10, nprobe=idx.n_lists,
                      tiebreak_col="vec_id").collect()]
    survivors = emb.where(~F.col("vec_id").isin(gone))
    want = [r["vec_id"] for r in
            survivors.withColumn(
                "__s", distance_column("embedding", QVEC, "l2"))
            .orderBy("__s", "vec_id").limit(10).collect()]
    assert got == want
    # a reload sees the rebuilt state
    again = IVFIndex.load(spark, idx.path)
    assert again.n_lists == 8 and again.gen == 0


def test_rebuild_keeps_storage_tier(spark, emb, tmp_path):
    idx = IVFIndex.build(emb, str(tmp_path / "ix"), vec_col="embedding",
                         metric="l2", n_lists=4, seed=42,
                         key_col="vec_id", quantize=True)
    idx.rebuild(seed=43)
    assert idx.quantized
    raw = spark.read.parquet(idx.path)
    assert "__qvec" in raw.columns and "embedding" not in raw.columns
    # OPQ-PQ tier survives a rebuild from a fresh source
    idx2 = IVFIndex.build(emb, str(tmp_path / "ix2"), vec_col="embedding",
                          metric="l2", n_lists=4, seed=42,
                          key_col="vec_id", pq_m=8, pq_opq_iters=3)
    idx2.rebuild(source=emb, seed=44)
    assert idx2.pq is not None and idx2.pq.rotation is not None

"""int8 vector quantization: reconstruction error bounds + KNN agreement."""

import math

from pyspark.sql import functions as F

from valkey_search_spark.functions.quantize import (
    dequantize_vector_expr, quantize_vector_expr,
)

SF = "/root/testdata/sf0.001"
QVEC = [round(math.sin(i + 1), 6) for i in range(64)]


def test_roundtrip_error_bounded(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rt = emb.withColumn("deq", dequantize_vector_expr(
        quantize_vector_expr(F.col("embedding"))))
    err = rt.select(F.max(F.aggregate(
        F.zip_with(F.col("embedding"), F.col("deq"),
                   lambda a, b: F.abs(a.cast("double") - b)),
        F.lit(0.0), lambda acc, x: F.greatest(acc, x))).alias("e")).first()["e"]
    mx = emb.select(F.max(F.aggregate(
        F.col("embedding"), F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double")))))).first()[0]
    # per-element error <= scale/2 = max|v|/254
    assert err <= mx / 254 + 1e-9


def test_knn_over_quantized_matches_full_precision(spark):
    from valkey_search_spark import SearchEngine, VectorField

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    deq = emb.withColumn("emb_q", dequantize_vector_expr(
        quantize_vector_expr(F.col("embedding"))))
    e = SearchEngine(spark)
    e.ft_create("full", emb, [VectorField("embedding", dim=64)],
                key_column="vec_id")
    e.ft_create("quant", deq, [VectorField("emb_q", dim=64)],
                key_column="vec_id")
    a = [r["vec_id"] for r in e.ft_search(
        "full", "*=>[KNN 10 @embedding $v]", params={"v": QVEC},
        limit=(0, 10)).collect()]
    b = [r["vec_id"] for r in e.ft_search(
        "quant", "*=>[KNN 10 @emb_q $v]", params={"v": QVEC},
        limit=(0, 10)).collect()]
    assert len(set(a) & set(b)) >= 9        # ~identical top-10


def test_quantized_ivf_index_recall_and_scan_bytes(spark, tmp_path):
    """A quantize=True IVF index serves every search path at >= 0.9
    recall@10 vs the float index, and its vector storage is measurably
    smaller (the 100 TB scan-bytes motivation)."""
    import os

    from valkey_search_spark.operators.ann import IVFIndex, recall_at_k

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    fpath, qpath = str(tmp_path / "f"), str(tmp_path / "q")
    fidx = IVFIndex.build(emb, fpath, metric="l2", n_lists=4)
    qidx = IVFIndex.build(emb, qpath, metric="l2", n_lists=4, quantize=True)
    assert qidx.quantized

    # full-probe search == exact scan modulo quantization noise
    exact = fidx.search(QVEC, k=10, nprobe=4)
    approx = qidx.search(QVEC, k=10, nprobe=4)
    assert recall_at_k(approx, exact, "vec_id", 10) >= 0.9

    # reload from disk keeps the quantized flag
    reloaded = IVFIndex.load(spark, qpath)
    assert reloaded.quantized
    again = reloaded.search(QVEC, k=10, nprobe=4)
    assert [r["vec_id"] for r in again.collect()] == \
           [r["vec_id"] for r in approx.collect()]

    def du(path):
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(path) for f in fs
                   if f.endswith(".parquet"))

    assert du(qpath) < 0.6 * du(fpath)      # int8 column ~4x smaller


def test_quantized_bucketed_knn_join_recall(spark, tmp_path):
    from pyspark.sql import functions as F

    from valkey_search_spark.operators.ann import (
        IVFIndex, knn_join, knn_join_bucketed,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.limit(10).select(F.col("vec_id").alias("qid"), "embedding")
    c = emb.select(F.col("vec_id").alias("cid"), "embedding")
    exact = knn_join(q, c, k=5, metric="cosine", max_broadcast_bytes=None)
    qidx = IVFIndex.build(emb.select(F.col("vec_id").alias("cid"), "embedding"),
                          str(tmp_path / "qb"), metric="cosine", n_lists=4,
                          quantize=True)
    approx = knn_join_bucketed(q, qidx, k=5, nprobe=4)
    ex = {(r["qid"], r["cid"]) for r in exact.collect()}
    ap = {(r["qid"], r["cid"]) for r in approx.collect()}
    assert len(ex & ap) / len(ex) >= 0.9

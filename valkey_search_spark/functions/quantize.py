"""Scalar int8 vector quantization — the 100 TB storage path.

At scale the vector column dominates table size (a 768-dim float32
embedding is 3 KB/row); symmetric per-vector int8 quantization cuts scan
I/O 4x with ~0.1-0.4 % cosine error on typical embeddings. All-JVM
expressions (no Python), so quantized tables stay inside whole-stage
codegen; dequantize on read, or score against int8 directly inside the
Arrow kernels.

The reference keeps float32 in RAM (vector_base.h) — quantization here is
a storage-tier choice its in-memory design never needed.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def quantize_vector_expr(vec: Column) -> Column:
    """struct<q: array<tinyint>, scale: float>: symmetric per-vector
    quantization q[i] = round(v[i] / scale), scale = max|v| / 127."""
    mx = F.aggregate(vec, F.lit(0.0),
                     lambda a, x: F.greatest(a, F.abs(x.cast("double"))))
    scale = F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(vec, lambda x: F.round(x.cast("double") / scale)
                    .cast("tinyint"))
    return F.when(vec.isNotNull(),
                  F.struct(q.alias("q"), scale.cast("float").alias("scale")))


def dequantize_vector_expr(qstruct: Column) -> Column:
    """array<float> reconstruction: v[i] ~= q[i] * scale."""
    return F.transform(
        qstruct["q"],
        lambda x: (x.cast("double") * qstruct["scale"]).cast("float"))

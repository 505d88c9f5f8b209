"""ft_explain: the plan-inspection surface — parsed predicate, pushed
filters, Python-stage and exchange counts, KNN planner mode, estimate
and modelled costs."""
from __future__ import annotations

from pyspark.sql import functions as F

from valkey_search_spark import (NumericField, SearchEngine, TagField,
                                 TextField, VectorField)


def test_ft_explain_surfaces(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    eng = SearchEngine(spark)
    eng.ft_create("exp_parts", part,
                  [TagField("p_brand"), NumericField("p_retailprice"),
                   TextField("p_name")], key_column="p_partkey")
    ex = eng.ft_explain("exp_parts", "@p_brand:{Brand#13} "
                                     "@p_retailprice:[905 915]")
    assert "Brand#13" in ex["predicate"]
    assert {"tag", "numeric"} <= set(ex["operations"])
    assert ex["knn"] is None
    # the numeric range reaches the parquet scan
    assert any("p_retailprice" in f for f in ex["pushed_filters"])
    assert ex["python_stages"] == 0
    assert "Scan parquet" in ex["physical_plan"]

    # a fuzzy query surfaces its text operation; plan text is returned
    ex2 = eng.ft_explain("exp_parts", "%widgot%")
    assert "text_fuzzy" in ex2["operations"]


def test_ft_explain_knn_mode_and_metrics_untouched(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .withColumn("grp", F.pmod("vec_id", F.lit(4)).cast("string"))
    eng = SearchEngine(spark)
    eng.ft_create("exp_vecs", emb,
                  [VectorField("embedding", dim=64, metric="l2"),
                   TagField("grp")], key_column="vec_id")
    before = dict(eng._metrics)
    # no ANN artifact: match-all KNN is FLAT exact
    ex = eng.ft_explain("exp_vecs", "*=>[KNN 5 @embedding $v]",
                        params={"v": [0.0] * 64})
    # the cost planner runs only for a hybrid op on an HNSW artifact
    assert ex["knn"] == {"attr": "embedding", "k": 5, "mode": "exact",
                         "estimated_rows": None, "exact_cost_ms": None,
                         "ann_cost_ms": None}
    # hybrid exact KNN: filter first = prefilter
    ex2 = eng.ft_explain("exp_vecs", "@grp:{1}=>[KNN 5 @embedding $v]",
                         params={"v": [0.0] * 64})
    assert ex2["knn"]["mode"] == "prefilter"
    # an explain is NOT a served query: every counter is unchanged
    assert dict(eng._metrics) == before
    import pytest
    with pytest.raises(ValueError, match="without executing"):
        eng.ft_explain("exp_vecs", "*", count_only=True)

"""Physical-plan regression tests: the scale properties SCALE.md claims
are asserted here so optimizer-visible regressions fail loudly."""

import math

import pytest
from pyspark.sql import functions as F

from valkey_search_spark import (
    NumericField, SearchEngine, TagField, TextField, VectorField,
)

SF = "/root/testdata/sf0.001"
QVEC = [round(math.sin(i + 1), 6) for i in range(64)]


@pytest.fixture(scope="module")
def eng(spark):
    e = SearchEngine(spark)
    e.ft_create("parts", spark.read.parquet(f"{SF}/part.parquet"),
                [TagField("p_brand"), NumericField("p_retailprice"),
                 TextField("p_name")], key_column="p_partkey")
    e.ft_create("emb", spark.read.parquet(f"{SF}/embeddings.parquet"),
                [VectorField("embedding", dim=64, metric="l2"),
                 NumericField("label")], key_column="vec_id")
    return e


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_numeric_filter_pushes_down(eng):
    plan = _plan(eng.ft_search("parts", "@p_retailprice:[905 915]",
                               limit=(0, 10**9)))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "GreaterThanOrEqual(p_retailprice,905.0)" in pushed[0]


def test_negation_still_pushes_positive_conjunct(eng):
    plan = _plan(eng.ft_search(
        "parts", "-@p_brand:{Brand#13} @p_retailprice:[900 905]",
        limit=(0, 10**9)))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "p_retailprice" in pushed[0]


def test_knn_is_zero_exchange_takeordered(eng):
    plan = _plan(eng.ft_search("emb", "*=>[KNN 10 @embedding $v]",
                               params={"v": QVEC}, limit=(0, 10)))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan          # per-partition heap + driver merge
    assert "Python" not in plan            # distance stays JVM-side
    assert plan.count("zip_with(") == 1    # distance evaluated once


def test_hybrid_knn_pushes_filter(eng):
    plan = _plan(eng.ft_search("emb", "@label:[3 5]=>[KNN 10 @embedding $v]",
                               params={"v": QVEC}, limit=(0, 10)))
    assert "TakeOrderedAndProject" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "label" in pushed[0]
    assert plan.count("zip_with(") == 1


def test_aggregate_has_partial_aggregation(eng):
    df = eng.ft_aggregate(
        "parts", "*",
        "GROUPBY 1 @p_brand REDUCE SUM 1 @p_retailprice AS s "
        "REDUCE COUNT 0 AS n")
    plan = _plan(df)
    # partial -> shuffle -> final: two HashAggregate levels, no Python
    assert plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()
    assert "Python" not in plan


def test_proximity_udf_sees_candidates_not_corpus(eng):
    df = eng.ft_search("parts", "cold widget", slop=1, inorder=True,
                       limit=(0, 10**9))
    plan = _plan(df)
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
    # the JVM containment conjuncts must sit BELOW the Python eval node
    # (i.e. appear later in the tree dump) so the UDF input is pre-filtered
    py_at = plan.find("EvalPython")
    # stem-expanded proximity guards with array_contains on the aligned
    # stem column (raw/NOSTEM paths still use exists over token structs)
    guard_at = max(plan.rfind("exists"), plan.rfind("array_contains"))
    assert py_at != -1 and guard_at > py_at


def test_fuzzy_udf_has_jvm_prefilter(eng):
    plan = _plan(eng.ft_search("parts", "%widgt%", limit=(0, 10**9)))
    py_at = plan.find("EvalPython")
    assert py_at != -1
    # length-window conjunct below the Python eval
    assert plan.rfind("length") > py_at


def test_bucketed_knn_join_plan_prunes_and_bounds(spark, tmp_path):
    """knn_join_bucketed's physical plan must (a) partition-prune the
    corpus scan to the probed lists and (b) bound the global top-k with
    WindowGroupLimit (per-partition group limit BEFORE the exchange), so
    candidate shuffle volume is <=k rows per (query, partition)."""
    from pyspark.sql import functions as F
    from valkey_search_spark.operators.ann import IVFIndex, knn_join_bucketed

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = IVFIndex.build(emb.select(F.col("vec_id").alias("cid"), "embedding"),
                         str(tmp_path / "ivf"), "embedding", n_lists=8)
    q = emb.limit(20).select(F.col("vec_id").alias("qid"), "embedding")
    plan = knn_join_bucketed(q, idx, k=3, nprobe=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters: [__list" in plan          # pruned corpus read
    assert "WindowGroupLimit" in plan                   # bounded top-k


def test_block_cosine_plan_single_exchange(spark):
    """The exact block-BLAS cosine join is ONE hash exchange on the
    block-pair id feeding FlatMapGroupsInPandas — no crossJoin node."""
    from valkey_search_spark.operators import dedup as dd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = dd.embedding_cosine_pairs(emb, "vec_id", threshold=0.4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning(__bp") == 1


def test_decontaminate_never_shuffles_training_grams(spark):
    """ngram_decontaminate's training gram rows (~one per corpus token)
    must flow from the posexplode straight into the map-side broadcast
    join — no pre-join dedup/shuffle on the raw (k, g) gram rows. The
    only gram-keyed exchanges allowed are the benchmark-side distinct
    and the post-join count_distinct (both bounded: benchmark grams are
    small by construction, post-join rows by leaked occurrences)."""
    from valkey_search_spark.operators.contamination import (
        ngram_decontaminate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 20 == 0).select("doc_id", "text")
    qe = ngram_decontaminate(docs, bench, n=13)._jdf.queryExecution()
    # exactly 2 Deduplicate nodes: benchmark .distinct() and
    # training-keys .distinct() — a 3rd means a side regained a
    # redundant per-document dropDuplicates
    assert qe.analyzed().toString().count("Deduplicate") == 2
    # no exchange keyed on the raw string gram column g# (the training
    # grams pre-hash); hash-keyed exchanges (__gram/__tk) are post-join
    for ln in qe.executedPlan().toString().splitlines():
        if "Exchange hashpartitioning" in ln:
            assert " g#" not in ln and "(k#" not in ln, ln


def test_gopher_flags_map_only_jvm_plan(spark):
    """gopher_quality_flags is one map-only codegen scan: no Python
    node, and no exchange beyond the optional input-spread round-robin
    (r12: an under-partitioned 1-file scan repartitions once so the
    rule expressions don't run on a single task; a well-partitioned
    100 TB input gets none — the rules themselves introduce no
    shuffle either way)."""
    from valkey_search_spark.operators.textops import gopher_quality_flags

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = gopher_quality_flags(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "ROUND_ROBIN" in plan or "RoundRobin" in plan, plan
    assert "Python" not in plan


def test_span_dedup_plan_bounded_and_python_free(spark):
    """exact_substring_dedup's physical plan: all-JVM (no Python node —
    windows, gram frequency, interval merge, rebuild are expressions),
    and the rebuild's interval array is a materialized attribute, not a
    re-evaluated capture. The gram verdict flows through hash joins;
    the only aggregations are the gram doc-frequency and the per-doc
    start collection (plus their partials)."""
    from valkey_search_spark.operators.contamination import (
        exact_substring_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qe = exact_substring_dedup(docs, n=4)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "Python" not in plan
    # no nested-loop/cartesian anywhere — every join is key-equi
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the gram doc-frequency agg runs its skew-resistant two-round
    # form: first round keyed (gram, k) so a hot boilerplate gram's
    # occurrences combine across docs before any single reducer sees it
    assert "partial_count(distinct" in plan or \
        plan.count("HashAggregate(keys=[__gram") >= 2
    # rebuild is map-side off the verdict join: no exchange keyed on
    # the interval/start columns (only gram/key-keyed shuffles exist)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "__starts" not in ln and "__iv" not in ln, ln


def test_hnsw_join_plan_one_python_node_and_bounded_topk(spark, tmp_path):
    """knn_join_hnsw: exactly ONE cogroup Python node (the beam kernel);
    the global top-k is group-limited BEFORE its exchange; the inline
    predicate is JVM-evaluated in the graph scan (no extra Python node,
    no Filter above the kernel)."""
    from pyspark.sql import functions as F
    from valkey_search_spark.operators.hnsw import HNSWIndex, knn_join_hnsw

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = HNSWIndex.build(emb, str(tmp_path / "h"), m=6, ef_construction=40,
                          max_segment_rows=100, payload_cols=("label",))
    q = emb.limit(20).select(F.col("vec_id").alias("qid"), "embedding")
    plan = knn_join_hnsw(q, idx, k=3, ef=16, where="label >= 2") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1    # one beam kernel
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan                 # mask is JVM expr
    assert "WindowGroupLimit" in plan                    # bounded top-k
    assert "CartesianProduct" not in plan                # seg fan-out is a
    assert "BroadcastNestedLoopJoin" in plan             # BROADCAST range


def test_hnsw_build_is_single_shuffle(spark, tmp_path):
    """The graph build plan is one hash exchange on __seg feeding
    FlatMapGroupsInPandas — no extra shuffles, no driver collect of
    corpus rows (n_segments given: zero count jobs)."""
    from pyspark.sql import functions as F
    from valkey_search_spark.operators.hnsw import HNSWIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = HNSWIndex(spark, str(tmp_path / "h2"), "embedding", "vec_id",
                    "l2", 6, 40, 4, 42)
    work = emb.select("vec_id", "embedding") \
        .where(F.col("embedding").isNotNull()) \
        .withColumn("__seg", F.pmod(F.xxhash64(F.col("vec_id")),
                                    F.lit(4)).cast("int"))
    plan = idx._build_segments(work, gen=0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("Exchange") == 1


def test_tdigest_sketch_single_exchange_centroids_only(spark):
    from valkey_search_spark.operators.quantiles import tdigest_sketch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tdigest_sketch(docs, "n_chars", group_col="lang",
                                compression=64))
    # map partials -> ONE group-key shuffle of centroid rows -> merge;
    # the raw values never shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("MapInPandas") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_trim_to_quantiles_broadcasts_bounds(spark):
    from valkey_search_spark.operators.quantiles import trim_to_quantiles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(trim_to_quantiles(docs, "n_chars", lo=0.1, hi=0.9,
                                   group_col="lang", compression=64))
    # the data side joins the per-group bounds broadcast — no shuffle
    # of the trimmed frame itself (the only Exchange is the sketch's)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_weighted_sample_one_window_shuffle(spark):
    from valkey_search_spark.operators.sampling import weighted_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .withColumn("w", F.col("n_chars").cast("double"))
    plan = _plan(weighted_sample(docs, "w", 5, by="lang"))
    # one shuffle on the group key, zero Python nodes (A-Res key is a
    # pure JVM expression)
    assert plan.count("Exchange hashpartitioning") == 1
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_knn_binary_flipped_plan_no_corpus_collect(spark):
    # past the broadcast cap the binary tier flips sides: the corpus
    # codes stay DISTRIBUTED (one MapInPandas over the corpus scan),
    # candidates reduce through one window, and the float rerank joins
    # back — building the plan must run zero corpus-sized collects
    # (only the probe first()/count() jobs fire during planning)
    from valkey_search_spark.operators.ann import knn_join_binary

    emb = spark.read.parquet(f"{SF}/embeddings.parquet") \
        .select(F.col("vec_id").alias("cid"), "embedding")
    q = emb.limit(4).select(F.col("cid").alias("qid"), "embedding")
    out = knn_join_binary(q, emb, k=5, metric="cosine",
                          max_broadcast_bytes=3000)
    plan = _plan(out)
    # exactly one Python kernel (the distributed Hamming scan); the
    # window + rerank are JVM
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "Window" in plan


def test_heavy_hitters_plan_candidates_only(spark):
    """Misra-Gries (the r11 sketch_heavy_hitters driver row): the
    distinct-value set never shuffles — one MapInPandas summary pass
    (<= summary_size rows out per partition), then exchanges carry
    only the tiny candidate frame; the exact recount adds ONE
    broadcast semi-join over the corpus (no corpus shuffle)."""
    from valkey_search_spark.operators.sketches import heavy_hitters

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
    plan = _plan(heavy_hitters(toks, "tok", k=10, summary_size=4096,
                               exact_recount=True))
    # the recount branches the summary lineage twice; the operator
    # persists `top` so the Arrow kernel executes ONCE per action —
    # visible as the cached scan in the plan (the second MapInPandas
    # occurrence is the cached lineage's echo, not a second execution;
    # an eager collect + local rebuild was tried in r12 and measured
    # 1.27x slower interleaved, so the persist stays)
    assert "InMemoryTableScan" in plan
    assert plan.count("MapInPandas") <= 2
    assert "BroadcastHashJoin" in plan        # recount is a semi-join
    # corpus-sized rows cross no exchange: every hashpartitioning
    # operates on the post-summary candidate set (bounded by
    # summary_size x partitions), visible as <= 4 small exchanges
    assert plan.count("Exchange hashpartitioning") <= 4


def test_retention_cohorts_plan_two_aggs_one_join(spark):
    """events_retention (r11 driver row): two date_trunc aggregations
    + one user-keyed join + the cohort window — all JVM, zero Python
    stages, no corpus-wide (unpartitioned) window over event rows
    (the only Window partitions by cohort over the tiny grid)."""
    from valkey_search_spark.operators.events import retention_cohorts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(retention_cohorts(ev, period="week"))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert "HashAggregate" in plan

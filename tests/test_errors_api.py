"""Error surface + API-parity options (reference behaviors:
unknown index/field are errors; WITHSUFFIXTRIE gates suffix queries;
DIALECT validated; FT.INFO/_LIST/DROPINDEX lifecycle)."""

import pytest
from pyspark.sql import functions as F

from valkey_search_spark import (
    NumericField, SearchEngine, TagField, TextField, VectorField,
)
from valkey_search_spark.errors import (
    QuerySyntaxError, UnknownFieldError, UnknownIndexError,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def eng(spark):
    e = SearchEngine(spark)
    part = spark.read.parquet(f"{SF}/part.parquet")
    e.ft_create("parts", part,
                [TagField("p_brand"), NumericField("p_retailprice"),
                 TextField("p_name"),
                 TextField("p_type", alias="ptype", with_suffixtrie=False)],
                key_column="p_partkey")
    return e


def test_unknown_index(eng):
    with pytest.raises(UnknownIndexError):
        eng.ft_search("nope", "*")


def test_unknown_field(eng):
    with pytest.raises(UnknownFieldError):
        eng.ft_search("parts", "@missing:{x}")


def test_type_mismatch(eng):
    with pytest.raises(QuerySyntaxError):
        eng.ft_search("parts", "@p_brand:[1 2]")  # TAG field, numeric pred


def test_bad_syntax(eng):
    with pytest.raises(QuerySyntaxError):
        eng.ft_search("parts", "@p_retailprice:[5")


def test_suffixtrie_gate(eng):
    # field with WITHSUFFIXTRIE works; field without errors
    assert eng.ft_search("parts", "@p_name:*get", count_only=True) > 0
    with pytest.raises(QuerySyntaxError, match="WITHSUFFIXTRIE"):
        eng.ft_search("parts", "@ptype:*all", count_only=True)


def test_query_limits(eng, spark):
    # tag prefix below tag-min-prefix-length (default 2) errors
    with pytest.raises(QuerySyntaxError, match="tag-min-prefix-length"):
        eng.ft_search("parts", "@p_brand:{B*}")
    assert eng.ft_search("parts", "@p_brand:{Br*}", count_only=True) > 0
    # fuzzy distance above the default cap (3) errors at parse time
    with pytest.raises(QuerySyntaxError, match="fuzzy"):
        eng.ft_search("parts", "%%%%widget%%%%")
    # custom limits are honored
    from valkey_search_spark.plans.predicate_translator import QueryLimits

    strict = SearchEngine(spark, limits=QueryLimits(tag_min_prefix_length=5,
                                                    fuzzy_max_distance=1))
    part = spark.read.parquet(f"{SF}/part.parquet")
    strict.ft_create("p", part, [TagField("p_brand"), TextField("p_name")],
                     key_column="p_partkey")
    with pytest.raises(QuerySyntaxError, match="tag-min-prefix-length"):
        strict.ft_search("p", "@p_brand:{Bra*}")
    with pytest.raises(QuerySyntaxError, match="fuzzy-max-distance"):
        strict.ft_search("p", "%%widget%%")


def test_invalid_dialect(eng):
    with pytest.raises(QuerySyntaxError):
        eng.ft_search("parts", "*", dialect=9)


def test_dialect_and_timeout_accepted(eng):
    assert eng.ft_search("parts", "*", count_only=True, dialect=4,
                         timeout_ms=5000) > 0


def test_info_list_drop(spark):
    e = SearchEngine(spark)
    part = spark.read.parquet(f"{SF}/part.parquet")
    e.ft_create("tmp_idx", part, [TagField("p_brand")], key_column="p_partkey")
    assert "tmp_idx" in e.ft_list()
    info = e.ft_info("tmp_idx")
    assert info["index_name"] == "tmp_idx"
    assert info["attributes"][0]["identifier"] == "p_brand"
    e.ft_dropindex("tmp_idx")
    assert "tmp_idx" not in e.ft_list()
    with pytest.raises(UnknownIndexError):
        e.ft_info("tmp_idx")


def test_return_zero_is_nocontent(eng):
    # RETURN 0 ≡ NOCONTENT: keys only (search.h:82-86)
    df = eng.ft_search("parts", "@p_brand:{Brand#13}", limit=(0, 3),
                       return_fields=[])
    assert df.columns == ["__key"]


def test_info_computed_stats(eng):
    n = eng.catalog.get("parts").doc_df.count()
    info = eng.ft_info("parts", compute_stats=True)
    assert info["num_docs"] == n
    by_attr = {a["attribute"]: a for a in info["attributes"]}
    # every part row has a brand/price -> fully tracked
    assert by_attr["p_brand"]["num_tracked"] == n
    assert by_attr["p_brand"]["num_untracked"] == 0


def test_three_term_proximity(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame([
        Row(id=1, body="alpha beta gamma"),
        Row(id=2, body="alpha filler beta gamma"),
        Row(id=3, body="gamma beta alpha"),
    ])
    e = SearchEngine(spark)
    e.ft_create("p3", docs, [TextField("body")], key_column="id")
    # inorder, slop 0: only the exact consecutive ordering
    got = sorted(r["id"] for r in e.ft_search(
        "p3", "alpha beta gamma", slop=0, inorder=True, limit=(0, 10)).collect())
    assert got == [1]
    # slop 1 admits one intervening token
    got = sorted(r["id"] for r in e.ft_search(
        "p3", "alpha beta gamma", slop=1, inorder=True, limit=(0, 10)).collect())
    assert got == [1, 2]
    # unordered: any permutation within slop
    got = sorted(r["id"] for r in e.ft_search(
        "p3", "alpha beta gamma", slop=0, inorder=False, limit=(0, 10)).collect())
    assert got == [1, 3]


def test_alias_resolution(eng):
    # AS alias is the query-visible name (identifier stays the source col)
    assert eng.ft_search("parts", "@ptype:small", count_only=True) > 0
    with pytest.raises(UnknownFieldError):
        eng.ft_search("parts", "@p_type:small", count_only=True)


def test_info_documented_field_set(spark):
    """FT.INFO reply carries every field documented in the reference's
    docs/commands/ft.info.md LOCAL response, including the type-specific
    attribute extensions and the (statically-ready) backfill block."""
    e = SearchEngine(spark)
    part = spark.read.parquet(f"{SF}/part.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e.ft_create("ix_full", part,
                [TagField("p_brand"), NumericField("p_retailprice"),
                 TextField("p_name")], key_column="p_partkey")
    info = e.ft_info("ix_full", compute_stats=True)
    for key in ("index_name", "index_definition", "attributes", "num_docs",
                "num_records", "total_term_occurrences", "num_terms",
                "hash_indexing_failures", "backfill_in_progress",
                "backfill_complete_percent", "mutation_queue_size",
                "recent_mutations_queue_delay", "state", "punctuation",
                "stopwords", "with_offsets", "min_stem_size"):
        assert key in info, key
    idxdef = info["index_definition"]
    assert idxdef["key_type"] == "HASH" and idxdef["default_score"] == "1.0"
    assert info["state"] == "ready"
    assert info["backfill_in_progress"] == "0"
    assert info["backfill_complete_percent"] == "1.0"
    by_attr = {a["attribute"]: a for a in info["attributes"]}
    assert by_attr["p_brand"]["type"] == "TAG"
    assert by_attr["p_brand"]["SEPARATOR"] == ","
    assert by_attr["p_brand"]["CASESENSITIVE"] == 0
    assert by_attr["p_brand"]["SIZE"] == info["num_docs"]
    assert by_attr["p_name"]["type"] == "TEXT"
    assert by_attr["p_name"]["WITH_SUFFIX_TRIE"] == 1
    assert by_attr["p_name"]["NO_STEM"] == 0
    n = part.count()
    assert info["num_docs"] == n
    assert info["num_records"] == 3 * n          # all three fields tracked
    brand_bytes = part.select(
        F.sum(F.octet_length(F.col("p_brand").cast("string")))).first()[0]
    assert by_attr["p_brand"]["user_indexed_memory"] == brand_bytes
    assert info["hash_indexing_failures"] == 0
    # p_name is two vocab words per row: occurrences = 2n, terms = vocab size
    assert info["total_term_occurrences"] == 2 * n
    assert 0 < info["num_terms"] <= info["total_term_occurrences"]
    assert "is" in info["stopwords"] and info["with_offsets"] == "1"

    e.ft_create("ix_vec", emb,
                [VectorField("embedding", dim=64, metric="cosine", algo="hnsw")],
                key_column="vec_id")
    vinfo = e.ft_info("ix_vec")
    vattr = vinfo["attributes"][0]
    assert vattr["type"] == "VECTOR"
    # HNSW algorithm reports its build params, like the reference's
    # FT.INFO (m / ef_construction default to ft.create.md's 16 / 100)
    assert vattr["index"] == {"dimensions": 64, "distance_metric": "COSINE",
                              "data_type": "FLOAT32",
                              "algorithm": {"name": "HNSW", "m": 16,
                                            "ef_construction": 100}}


def test_info_search_metrics(spark):
    """INFO SEARCH query-section counters classify requests the way
    search-observables.md defines them; latency accumulates only for
    executing (count_only) vector searches."""
    from valkey_search_spark import VectorField as VF

    e = SearchEngine(spark)
    part = spark.read.parquet(f"{SF}/part.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e.ft_create("mx", part, [TagField("p_brand"), NumericField("p_size")],
                key_column="p_partkey")
    e.ft_create("mxv", emb, [VF("embedding", dim=64), NumericField("label")],
                key_column="vec_id")
    qv = [0.1] * 64

    e.ft_search("mx", "@p_brand:{Brand#13}", count_only=True)     # nonvector
    e.ft_search("mxv", "*=>[KNN 5 @embedding $v]", params={"v": qv},
                count_only=True)                                  # vector
    e.ft_search("mxv", "@label:[1 5]=>[KNN 5 @embedding $v]",
                params={"v": qv}, count_only=True)        # hybrid prefilter
    try:
        e.ft_search("mx", "@nope:{x}")                            # failure
    except Exception:
        pass

    info = e.info_search()
    q = info["query"]
    assert q["successful_requests_count"] == 3
    assert q["failure_requests_count"] == 1
    assert q["nonvector_requests_count"] == 1
    assert q["vector_requests_count"] == 2
    assert q["hybrid_requests_count"] == 1
    assert q["prefiltering_requests_count"] == 1
    assert q["inline_filtering_requests_count"] == 0
    assert info["latency"]["flat_vector_index_search_latency_usec"] > 0
    assert info["indexing"]["background_indexing_status"] == "NO_ACTIVITY"
    st = info["index_stats"]
    assert st["number_of_indexes"] == 2 and st["number_of_attributes"] == 4

    stats = e.info_search(compute_stats=True)
    assert stats["index_stats"]["total_indexed_documents"] == \
        part.count() + emb.count()


def test_query_guard_configurables(spark):
    """The parser-guard configurables enforce like the reference:
    query-string-bytes pre-parse, depth/terms post-parse, max-vector-knn
    on the KNN clause (search-configurables.md)."""
    from valkey_search_spark import VectorField as VF
    from valkey_search_spark.plans.predicate_translator import QueryLimits

    part = spark.read.parquet(f"{SF}/part.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e = SearchEngine(spark, limits=QueryLimits(
        query_string_bytes=200, query_string_depth=3,
        query_string_terms_count=5, max_vector_knn=8))
    e.ft_create("lim", part, [TagField("p_brand"), NumericField("p_size")],
                key_column="p_partkey")
    e.ft_create("limv", emb, [VF("embedding", dim=64)], key_column="vec_id")

    # FT.SEARCH and FT.AGGREGATE share the search phase, so both reject
    over = [
        ("query-string-bytes", "lim", "@p_brand:{" + "x" * 300 + "}", None),
        # alternating AND/OR nests the predicate tree 4 deep (plain parens
        # collapse at parse time, as in the reference's recursion counting)
        ("query-string-depth", "lim", "@p_size:[1 2] (@p_size:[1 2] | "
                                      "(@p_size:[3 4] @p_size:[5 6]))", None),
        ("terms-count", "lim", " | ".join("@p_size:[%d %d]" % (i, i + 1)
                                          for i in range(6)), None),
        ("max-vector-knn", "limv", "*=>[KNN 9 @embedding $v]",
         {"v": [0.0] * 64}),
    ]
    for guard, index, query, params in over:
        with pytest.raises(QuerySyntaxError, match=guard):
            e.ft_search(index, query, params=params)
        with pytest.raises(QuerySyntaxError, match=guard):
            e.ft_aggregate(index, query, params=params)
    # within limits: all four forms pass
    assert e.ft_search("lim", "@p_size:[1 10]", count_only=True) >= 0
    assert e.ft_search("limv", "*=>[KNN 8 @embedding $v]",
                       params={"v": [0.0] * 64}, count_only=True) == 8


def test_create_limit_configurables(spark):
    """FT.CREATE-time limits (ft_create_parser.cc): attribute count,
    prefix count, tag/numeric identifier length, vector dimensions."""
    from valkey_search_spark.plans.predicate_translator import QueryLimits

    part = spark.read.parquet(f"{SF}/part.parquet")
    e = SearchEngine(spark, limits=QueryLimits(
        max_attributes=2, max_prefixes=1, max_tag_field_length=10,
        max_numeric_field_length=8, max_vector_dimensions=32))
    with pytest.raises(QuerySyntaxError, match="max-attributes"):
        e.ft_create("c1", part, [TagField("p_brand"), TagField("p_type"),
                                 NumericField("p_size")],
                    key_column="p_partkey")
    with pytest.raises(QuerySyntaxError, match="prefixes"):
        e.ft_create("c2", part, [TagField("p_brand")],
                    key_column="p_partkey", prefixes=["a:", "b:"])
    with pytest.raises(QuerySyntaxError, match="tag field"):
        e.ft_create("c3", part, [TagField("p_container_long", alias="c")],
                    key_column="p_partkey")
    with pytest.raises(QuerySyntaxError, match="numeric field"):
        e.ft_create("c4", part, [NumericField("p_retailprice")],
                    key_column="p_partkey")
    with pytest.raises(QuerySyntaxError, match="dimensions"):
        e.ft_create("c5", part, [VectorField("v", dim=64)],
                    key_column="p_partkey")
    # within limits
    e.ft_create("c_ok", part, [TagField("p_brand"), NumericField("p_size")],
                key_column="p_partkey", prefixes=["p:"])
    assert "c_ok" in e.ft_list()


def test_text_weight_pinned_to_one(spark):
    """WEIGHT is a RediSearch-compat knob the reference accepts only at
    1.0 (ft_create_parser.cc:528-531)."""
    part = spark.read.parquet(f"{SF}/part.parquet")
    e = SearchEngine(spark)
    with pytest.raises(QuerySyntaxError, match="WEIGHT"):
        e.ft_create("w1", part, [TextField("p_name", weight=2.0)],
                    key_column="p_partkey")
    e.ft_create("w_ok", part, [TextField("p_name", weight=1.0)],
                key_column="p_partkey")
    assert e.ft_search("w_ok", "widget", count_only=True) > 0


def test_timeout_cancels_executing_search(spark):
    """TIMEOUT on an executing (count_only / reply) call cancels the job
    group and raises SearchTimeoutError; a generous budget succeeds.
    FT.AGGREGATE's TIMEOUT bounds the reply that executes its frame."""
    from valkey_search_spark import CommandDispatcher
    from valkey_search_spark.errors import SearchTimeoutError

    e = SearchEngine(spark)
    docs = spark.read.parquet(f"{SF}/../sf0.01/documents.parquet")
    e.ft_create("tmo", docs, [TextField("text")], key_column="doc_id")
    # generous budget: completes normally
    assert e.ft_search("tmo", "%windo%", count_only=True,
                       timeout_ms=120_000) >= 0
    # 1 ms budget: no Spark job finishes that fast
    with pytest.raises(SearchTimeoutError):
        e.ft_search("tmo", "%windote%", count_only=True, timeout_ms=1)
    # the engine stays usable after a cancelled group
    assert e.ft_search("tmo", "window", count_only=True) >= 0
    d = CommandDispatcher(e, source=None)
    with pytest.raises(SearchTimeoutError):
        d.execute_reply(["FT.AGGREGATE", "tmo", "%windote%", "TIMEOUT", "1"])
    reply = d.execute_reply(["FT.AGGREGATE", "tmo", "%windote%",
                             "TIMEOUT", "120000"])
    assert reply[0] == len(reply) - 1


def test_genuine_error_mentioning_cancel_is_not_a_timeout(spark):
    """A failure whose message merely contains "cancel" must surface as
    itself, not SearchTimeoutError — only a deadline actually fired by
    the canceller rewrites the exception (and then chains the cause)."""
    from valkey_search_spark.errors import SearchTimeoutError

    e = SearchEngine(spark)

    def boom():
        raise RuntimeError("column 'cancelled' does not exist")

    # generous budget: the canceller never fires, so the original error
    # propagates even though its text contains "cancel"
    with pytest.raises(RuntimeError, match="cancelled"):
        e._run_with_timeout(boom, timeout_ms=120_000)

    # fired deadline still maps a cancellation to SearchTimeoutError and
    # preserves the cause chain
    import time

    def slow_cancel():
        time.sleep(0.3)
        raise RuntimeError("job cancelled because of job group")

    with pytest.raises(SearchTimeoutError) as ei:
        e._run_with_timeout(slow_cancel, timeout_ms=1)
    assert isinstance(ei.value.__cause__, RuntimeError)


def test_numeric_bound_strictness_and_comma_separator(eng):
    """ParseNumber (filter_parser.cc:246-281) lexes ±inf plus a strict
    digits/dot/exponent numeral — float()-style leniency ("infinity",
    "nan", "+5") errors; a single `,` is an accepted bounds separator
    (filter_parser.cc:298)."""
    base = eng.ft_search("parts", "@p_retailprice:[905 915]",
                         count_only=True)
    assert eng.ft_search("parts", "@p_retailprice:[905,915]",
                         count_only=True) == base > 0
    assert eng.ft_search("parts", "@p_retailprice:[9.05e2, 915.]",
                         count_only=True) == base
    for bad in ("[infinity 915]", "[nan 915]", "[+5 915]", "[1_0 915]",
                "[5.2.3 915]", "[1e 915]"):
        with pytest.raises(QuerySyntaxError):
            eng.ft_search("parts", f"@p_retailprice:{bad}", count_only=True)
    # inf without sign is +inf; -infinity is NOT accepted
    assert eng.ft_search("parts", "@p_retailprice:[905 inf]",
                         count_only=True) > 0
    with pytest.raises(QuerySyntaxError):
        eng.ft_search("parts", "@p_retailprice:[-infinity 915]",
                      count_only=True)


def test_unused_params_error(eng):
    """Every supplied PARAMS pair must be referenced
    (ft_search_parser.cc:91-98 'Parameter `X` not used.')."""
    with pytest.raises(QuerySyntaxError, match="not used"):
        eng.ft_search("parts", "@p_brand:{Brand#13}",
                      params={"ghost": 1}, count_only=True)
    # used params pass; KNN $K/$vec usage counts as used
    assert eng.ft_search("parts", "@p_brand:{$b}",
                         params={"b": "Brand#13"}, count_only=True) > 0


def test_knn_k_accepts_param(spark):
    """K may be a $param (search.cc:1143 SubstituteParam on k_string)."""
    import math
    from valkey_search_spark import VectorField

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e = SearchEngine(spark)
    e.ft_create("ek", emb, [VectorField("embedding", dim=64, metric="l2")],
                key_column="vec_id")
    v = [round(math.sin(i + 1), 6) for i in range(64)]
    df = e.ft_search("ek", "*=>[KNN $K @embedding $v]",
                     params={"K": 7, "v": v}, limit=(0, 20))
    assert df.count() == 7


def test_reserved_chars_in_unquoted_text_error(eng):
    r"""`{ } [ ] : ;` are reserved in unquoted text — the reference
    errors (filter_parser.cc:662-668 'Unexpected character') instead of
    splitting the token; escaping makes them literal word bytes, which
    the field lexer then strips as punctuation like ingest does."""
    for q in ("wid:get", "@p_name:wid;get", "wid]get", "@p_name:a[b"):
        with pytest.raises(QuerySyntaxError, match="Unexpected character"):
            eng.ft_search("parts", q, count_only=True)
    # escaped form is legal and lexes like ingest ("wid:get" -> wid, get)
    assert eng.ft_search("parts", r"@p_name:wid\:get",
                         count_only=True) >= 0


def test_info_search_query_stats_counters(spark):
    """Per-operation query_stats counters classify like the reference's
    IncrementQueryOperationMetrics (search.cc:907-935)."""
    e = SearchEngine(spark)
    part = spark.read.parquet(f"{SF}/part.parquet")
    e.ft_create("qs", part,
                [TagField("p_brand"), NumericField("p_retailprice"),
                 TextField("p_name")], key_column="p_partkey")
    e.ft_search("qs", "@p_brand:{Brand#13}", count_only=True)
    e.ft_search("qs", "@p_retailprice:[905 915]", count_only=True)
    e.ft_search("qs", "widget", count_only=True)
    e.ft_search("qs", "wid*", count_only=True)
    e.ft_search("qs", "%widgex%", count_only=True)
    e.ft_search("qs", "cold anvil", slop=1, count_only=True)
    qs = e.info_search()["query_stats"]
    assert qs["query_tag_count"] == 1
    assert qs["query_numeric_count"] == 1
    assert qs["query_text_requests_cnt"] == 4       # term/prefix/fuzzy/prox
    assert qs["query_text_term_count"] == 2         # term + proximity slots
    assert qs["query_text_prefix_count"] == 1
    assert qs["query_text_fuzzy_count"] == 1
    assert qs["query_text_proximity_count"] == 1
    assert qs["query_text_suffix_count"] == 0


def test_param_name_charset(eng):
    """PARAMS names are [A-Za-z0-9_] (ft_aggregate_parser.cc:133-139)."""
    with pytest.raises(QuerySyntaxError, match="invalid"):
        eng.ft_search("parts", "@p_brand:{$b}", params={"b-a": "x"},
                      count_only=True)
    assert eng.ft_search("parts", "@p_brand:{$b_1}",
                         params={"b_1": "Brand#13"}, count_only=True) > 0


def test_concurrent_searches_classify_independently(spark):
    """Metric classification state is per-thread: concurrent ft_search
    calls must not read each other's parsed query."""
    import threading

    e = SearchEngine(spark)
    part = spark.read.parquet(f"{SF}/part.parquet")
    e.ft_create("cc", part, [TagField("p_brand"), TextField("p_name")],
                key_column="p_partkey")
    errors = []

    def worker(q):
        try:
            for _ in range(5):
                e.ft_search("cc", q, count_only=True)
        except Exception as ex:                      # noqa: BLE001
            errors.append(ex)

    ts = [threading.Thread(target=worker, args=(q,))
          for q in ("@p_brand:{Brand#13}", "widget", "wid*",
                    "@p_brand:{Brand#42}")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    qs = e.info_search()["query_stats"]
    assert qs["query_tag_count"] == 10               # 2 tag threads x 5
    assert qs["query_text_term_count"] == 5
    assert qs["query_text_prefix_count"] == 5
    assert e.info_search()["query"]["successful_requests_count"] == 20


def test_metric_counter_is_exact_under_threads():
    """INFO SEARCH counters are bumped from many request threads at once;
    every bump must land (a bare ``Counter[k] += n`` can lose updates
    when a thread switch falls between its read and its write)."""
    import sys
    import threading

    e = SearchEngine(None)                # counters need no Spark session
    n_threads, n_iter = 8, 5_000

    def worker():
        for _ in range(n_iter):
            e._count("successful_requests_count")
            e._count("flat_vector_index_search_latency_usec", 3)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts)
    info = e.info_search()
    assert info["query"]["successful_requests_count"] == n_threads * n_iter
    assert info["latency"]["flat_vector_index_search_latency_usec"] == \
        3 * n_threads * n_iter

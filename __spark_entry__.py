"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
through the public engine API (valkey_search_spark), and ``oracle_sql()``
gives the DuckDB-equivalent ANSI SQL over the same parquet views.
Both sides alias/round identically so the driver's order-insensitive
value-hash comparison is meaningful.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from valkey_search_spark import (
    NumericField, SearchEngine, TagField, TextField, VectorField,
)
from valkey_search_spark.operators import dedup as dd, textops as tx
from valkey_search_spark.operators.search import ReturnField
from valkey_search_spark.sources.tables import load_table

ALL = (0, None)  # explicitly-unbounded LIMIT (driver compares row sets)

# deterministic 64-dim query vector, embedded identically in oracle SQL
QVEC = [round(math.sin(i + 1), 6) for i in range(64)]
_QVEC_SQL = "[" + ",".join(str(x) for x in QVEC) + "]::DOUBLE[]"
_EMB_D = "embedding::DOUBLE[]"

_STOPWORDS = sorted(
    """a is the an and are as at be but by for if in into it no not of on or
    such that their then there these they this to was will with""".split()
)
_SW_SQL = "(" + ",".join(f"'{w}'" for w in _STOPWORDS) + ")"

_LANG_SQL_MARKERS = {
    "en": _STOPWORDS,
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "un", "des", "du", "pas"],
    "es": ["el", "la", "los", "las", "es", "una", "un", "y", "de", "no"],
}

_ENGINES: dict[tuple[int, str], SearchEngine] = {}
_IVF: dict = {}
_HNSW: dict = {}


def hnsw_index(spark: SparkSession, sf_dir: str):
    """Shared per-SF HNSW artifact (built once; the knn_hnsw row and the
    bench's hnsw entries reuse it). label is persisted as a payload
    column so inline filters evaluate in the segment scan."""
    from valkey_search_spark.operators.hnsw import HNSWIndex

    if sf_dir not in _HNSW:
        emb = load_table(spark, sf_dir, "embeddings")
        path = f"/tmp/valkey_hnsw_{os.path.basename(sf_dir.rstrip('/'))}"
        _HNSW[sf_dir] = HNSWIndex.build(
            emb, path, metric="l2", m=8, ef_construction=60,
            max_segment_rows=512, payload_cols=("label",))
    return _HNSW[sf_dir]


def ivf_index(spark: SparkSession, sf_dir: str):
    """Shared per-SF IVF artifact (built once, reused by the knn_ivf /
    knn_join_bucketed rows and the bench's partial-probe recall block)."""
    from valkey_search_spark.operators.ann import IVFIndex

    if sf_dir not in _IVF:
        emb = load_table(spark, sf_dir, "embeddings")
        path = f"/tmp/valkey_ivf_{os.path.basename(sf_dir.rstrip('/'))}"
        _IVF[sf_dir] = IVFIndex.build(emb, path, metric="l2", n_lists=8)
    return _IVF[sf_dir]


def _eng(spark: SparkSession, sf_dir: str) -> SearchEngine:
    key = (id(spark), sf_dir)
    if key in _ENGINES:
        return _ENGINES[key]
    e = SearchEngine(spark)
    # text-bearing indexes cache their derived columns: tokenization/stemming
    # is paid once at FT.CREATE (the reference's ingest-time indexing), not
    # per query
    e.ft_create("parts", load_table(spark, sf_dir, "part"),
                [TagField("p_brand"), TagField("p_type"),
                 NumericField("p_retailprice"), NumericField("p_size"),
                 TextField("p_name")], key_column="p_partkey", cache=True)
    e.ft_create("docs", load_table(spark, sf_dir, "documents"),
                [TextField("text"), TagField("lang"), TagField("source"),
                 NumericField("n_chars")], key_column="doc_id", cache=True)
    e.ft_create("ords", load_table(spark, sf_dir, "orders"),
                [TagField("o_orderstatus"), TagField("o_orderpriority"),
                 NumericField("o_totalprice"), NumericField("o_orderdate")],
                key_column="o_orderkey")
    e.ft_create("li", load_table(spark, sf_dir, "lineitem"),
                [TagField("l_returnflag"), TagField("l_linestatus"),
                 NumericField("l_quantity"), NumericField("l_extendedprice"),
                 NumericField("l_discount"), NumericField("l_shipdate")],
                key_column="l_orderkey")
    # ON-JSON document model: JSONPath identifiers with AS aliases over the
    # `props` JSON column ($.m is an always-missing path)
    # cache=True: the ON-JSON index pays get_json_object parsing once at
    # creation (measured 2x on agg_events_json at sf0.1). The pure-column
    # indexes (ords/li) stay UNcached on purpose — persisting wide rows
    # defeats parquet column pruning and measured SLOWER for agg_q1
    e.ft_create("events", load_table(spark, sf_dir, "events"),
                [TagField("event_type"), NumericField("value"),
                 NumericField("ts"),
                 NumericField("$.k", alias="props_k"),
                 NumericField("$.m", alias="props_m")],
                key_column="event_id", on_json="props", cache=True)
    emb = load_table(spark, sf_dir, "embeddings")
    # cache=True persists each index's derived vector columns (cosine's
    # normalized copy, the packed scoring column) so knn_metrics doesn't
    # re-derive them per query — the ingest-time cost model of the reference
    for name, metric in (("emb_l2", "l2"), ("emb_cos", "cosine"), ("emb_ip", "ip")):
        e.ft_create(name, emb,
                    [VectorField("embedding", dim=64, metric=metric),
                     NumericField("label")], key_column="vec_id", cache=True)
    _ENGINES[key] = e
    return e


_WIDE: dict[tuple[int, str], SearchEngine] = {}


def _wide_eng(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """50-TEXT-field index over documents (field-explosion shape)."""
    key = (id(spark), sf_dir)
    if key in _WIDE:
        return _WIDE[key]
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    cols = {f"field{i}": F.array_join(F.slice(toks, i + 1, 5), " ")
            for i in range(50)}
    cols["field0"] = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(F.lit("sentineltoken "), cols["field0"])
    ).otherwise(cols["field0"])
    wide = docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])
    e = SearchEngine(spark)
    e.ft_create("wide", wide, [TextField(f"field{i}") for i in range(50)],
                key_column="doc_id", cache=True)
    _WIDE[key] = e
    return e


def _r(col, nd=4):
    # round, then +0.0 to normalize -0.0 for hash comparison
    return F.round(col, nd) + F.lit(0.0)


def _synth_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url) with planted equivalent-form groups (param order,
    fragments, default ports, case) from doc_id arithmetic — shared by
    the hygiene_url_dedup driver row and the bench entry, and replicated
    analytically in the DuckDB oracle."""
    d = F.col("doc_id")
    g = d % 200
    scheme = F.element_at(
        F.array(F.lit("https"), F.lit("HTTPS"), F.lit("https")),
        (d % 3 + 1).cast("int"))
    host = F.concat(
        F.when(d % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"), (g % 37).cast("string"),
        F.element_at(F.array(F.lit(".example.com"),
                             F.lit(".example.co.uk"),
                             F.lit(".shop.com.au")),
                     (g % 3 + 1).cast("int")),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")))
    qs = F.element_at(F.array(
        F.lit("?a=1&b=2"), F.lit("?b=2&a=1"),
        F.lit("?a=1&utm_source=x&b=2"), F.lit("?b=2&a=1&gclid=9")),
        (d % 4 + 1).cast("int"))
    frag = F.when(d % 7 == 0, F.lit("#top")).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        F.concat(scheme, F.lit("://"), host, F.lit("/p/"),
                 g.cast("string"), qs, frag).alias("url"))


_WARC_DIRS: dict = {}


def warc_archive_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once WARC archives (per-record gzip members, the Common
    Crawl layout) wrapping the real documents in HTML — the input for
    the warc_extract_clean driver row and the ingest bench entries."""
    import gzip as _gz

    if sf_dir in _WARC_DIRS:
        return _WARC_DIRS[sf_dir]
    d = f"/tmp/valkey_warc_{os.path.basename(sf_dir.rstrip('/'))}"
    os.makedirs(d, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").collect()
    # one task per archive is the format's parallelism: scale the
    # archive count with the corpus (~600 pages/archive)
    n_files = max(8, len(docs) // 600)
    handles = [open(f"{d}/part{i}.warc.gz", "wb") for i in range(n_files)]
    for r in docs:
        body = (f"<html><head><title>doc {r.doc_id}</title>"
                f"</head><body><p>{r.text}</p></body></html>").encode()
        http = (f"HTTP/1.1 200 OK\r\nContent-Type: text/html"
                f"\r\nContent-Length: {len(body)}\r\n\r\n"
                ).encode() + body
        rec = (f"WARC/1.0\r\nWARC-Type: response\r\n"
               f"WARC-Record-ID: <urn:uuid:{r.doc_id}>\r\n"
               f"WARC-Date: 2026-01-02T03:04:05Z\r\n"
               f"WARC-Target-URI: https://ex.com/{r.doc_id}\r\n"
               f"Content-Length: {len(http)}\r\n\r\n"
               ).encode() + http + b"\r\n\r\n"
        handles[r.doc_id % n_files].write(_gz.compress(rec))
    for h in handles:
        h.close()
    _WARC_DIRS[sf_dir] = d
    return d


# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hybrid filtered KNN on sf0.001."""
    e = _eng(spark, "/root/testdata/sf0.001")
    df = e.ft_search("emb_l2", "@label:[3 5]=>[KNN 8 @embedding $v AS dist]",
                     params={"v": QVEC}, limit=(0, 8))
    return df.select(F.col("vec_id").cast("long").alias("vec_id"),
                     F.col("label").cast("int").alias("label"),
                     _r(F.col("dist")).alias("dist"))


# ---------------------------------------------------------------------------
# FT.SEARCH family
def _search(index, query, cols, params=None, **kw):
    def run(spark, sf_dir):
        df = _eng(spark, sf_dir).ft_search(index, query, params=params,
                                           limit=ALL, **kw)
        return df.select(*cols)

    return run


def _knn_query(index, query, score="dist"):
    def run(spark, sf_dir):
        df = _eng(spark, sf_dir).ft_search(
            index, query, params={"v": QVEC}, limit=(0, 10))
        return df.select(F.col("vec_id").cast("long").alias("vec_id"),
                         _r(F.col(score)).alias(score))

    return run


def _agg(index, query, stages, post=None, params=None):
    def run(spark, sf_dir):
        df = _eng(spark, sf_dir).ft_aggregate(index, query, stages, params=params)
        return post(df) if post else df

    return run


PART_COLS = ["p_partkey", "p_brand", "p_retailprice"]
DOC_COLS = ["doc_id", "source"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # -- filter algebra (SURVEY §2.2) -----------------------------------
    # (round-1 entries tag_match/tag_prefix and numeric_range/_exclusive/
    # _halfopen are merged into discriminated unions so every operator
    # keeps a driver row within the CORRECTNESS budget)
    def _union_search(cols, *form_queries):
        def run(spark, sf_dir):
            e = _eng(spark, sf_dir)
            parts = []
            for form, index, query, kw in form_queries:
                df = e.ft_search(index, query, limit=ALL, **kw)
                parts.append(df.select(*cols).withColumn("form", F.lit(form)))
            out = parts[0]
            for x in parts[1:]:
                out = out.unionByName(x)
            return out

        return run

    q["tag_match_prefix"] = _union_search(
        PART_COLS,
        ("exact", "parts", "@p_brand:{Brand#13|Brand#42}", {}),
        ("prefix", "parts", "@p_brand:{Brand#1*}", {}))
    # PARAMS substitution (round-6 slot consolidation: the old
    # params_sub row rides as a 4th form — same §2.2 PARAMS coverage,
    # one slot)
    q["numeric_ranges"] = _union_search(
        PART_COLS,
        ("closed", "parts", "@p_retailprice:[905 915]", {}),
        ("exclusive", "parts", "@p_retailprice:[(905 (915]", {}),
        ("halfopen", "parts", "@p_retailprice:[910 +inf]", {}),
        ("params", "parts", "@p_brand:{$b} @p_retailprice:[$lo $hi]",
         {"params": {"b": "Brand#13", "lo": 900, "hi": 910}}))
    # round-7 slot consolidation: AND/OR and NOT (§2.2 rows 19-21) share
    # one union row — each form keeps its own hash-checked leg
    q["bool_algebra"] = _union_search(
        PART_COLS,
        ("and_or", "parts",
         "(@p_brand:{Brand#13}|@p_brand:{Brand#42}) @p_size:[20 40]", {}),
        ("negation", "parts",
         "-@p_brand:{Brand#13} @p_retailprice:[900 905]", {}))

    # -- text search (SURVEY §2.2 text rows) ----------------------------
    # term / stem / verbatim forms in ONE discriminated-union row
    # (round-6 slot consolidation of text_term + text_term_stem +
    # text_term_verbatim), normalized to (k, v, form) like text_affixes
    def q_term_forms(spark, sf_dir):
        e = _eng(spark, sf_dir)
        term = (e.ft_search("parts", "widget", limit=ALL)
                .select(F.col("p_partkey").cast("string").alias("k"),
                        F.col("p_name").alias("v"),
                        F.lit("term").alias("form")))
        stem = (e.ft_search("docs", "tables", limit=ALL)
                .select(F.col("doc_id").cast("string").alias("k"),
                        F.col("source").alias("v"),
                        F.lit("stem").alias("form")))
        # VERBATIM routes around stem expansion; the stemmed twin of the
        # same query keeps asserting the toggle's OTHER side
        verb = (e.ft_search("docs", "table", verbatim=True, limit=ALL)
                .select(F.col("doc_id").cast("string").alias("k"),
                        F.col("source").alias("v"),
                        F.lit("verbatim").alias("form")))
        stmd = (e.ft_search("docs", "table", limit=ALL)
                .select(F.col("doc_id").cast("string").alias("k"),
                        F.col("source").alias("v"),
                        F.lit("stemmed").alias("form")))
        # field-group modifier @f:(a|b) (§2.2 row 12's field-scoped
        # union) — round-7 slot consolidation of the old
        # text_field_group row, same normalization
        grp = (e.ft_search("parts", "@p_name:(widget|bolt)", limit=ALL)
               .select(F.col("p_partkey").cast("string").alias("k"),
                       F.col("p_name").alias("v"),
                       F.lit("field_group").alias("form")))
        out = term
        for x in (stem, verb, stmd, grp):
            out = out.unionByName(x)
        return out

    q["text_term_forms"] = q_term_forms
    def q_affixes(spark, sf_dir):
        # prefix (win* on docs), suffix (*get on parts) and infix (*art*
        # on docs) share one row, normalized to (k, v, form)
        e = _eng(spark, sf_dir)
        pre = (e.ft_search("docs", "win*", limit=ALL)
               .select(F.col("doc_id").cast("string").alias("k"),
                       F.col("source").alias("v"),
                       F.lit("prefix").alias("form")))
        suf = (e.ft_search("parts", "*get", limit=ALL)
               .select(F.col("p_partkey").cast("string").alias("k"),
                       F.col("p_name").alias("v"),
                       F.lit("suffix").alias("form")))
        inf = (e.ft_search("docs", "*art*", limit=ALL)
               .select(F.col("doc_id").cast("string").alias("k"),
                       F.col("source").alias("v"),
                       F.lit("infix").alias("form")))
        return pre.unionByName(suf).unionByName(inf)

    q["text_affixes"] = q_affixes
    def q_text_phrase(spark, sf_dir):
        # 2-form union: plain phrase + wildcard-member phrase
        # (docs/full-text/phrase.md word specifiers)
        e = _eng(spark, sf_dir)
        plain = e.ft_search("docs", '"batch stream"', limit=ALL).select(
            *DOC_COLS).withColumn("form", F.lit("plain"))
        wild = e.ft_search("docs", '"batch str*"', limit=ALL).select(
            *DOC_COLS).withColumn("form", F.lit("wild"))
        return plain.unionByName(wild)

    q["text_phrase"] = q_text_phrase
    q["text_fuzzy"] = _search("docs", "%windo%", DOC_COLS)
    # proximity variants, one discriminated-union row (driver cap is 50):
    #  2term   — SLOP 1 + INORDER (the old text_proximity row, folded in
    #            as a form in the round-6 slot consolidation)
    #  stem    — stem-expanded slots (src/query/search.cc:226-298)
    #  inorder — INORDER without SLOP: ordering only, unbounded span
    #            (proximity.h: span checked only when slop is set)
    #  3term/5term — k-slot shapes on the pure-JVM paths (the reference CI
    #            stresses 5-term proximity: proximity_5term_1combo_100k,
    #            .github/benchmark_configs/fts-benchmarks-arm.json)
    #  and_numeric — combined text term + numeric range conjunction
    #            (round-7 slot consolidation of the old text_and_numeric
    #            row; same DOC_COLS shape, own hash-checked leg)
    q["text_proximity_multi"] = _union_search(
        DOC_COLS,
        ("2term", "docs", "batch stream", {"slop": 1, "inorder": True}),
        ("stem", "docs", "tables streaming", {"slop": 1}),
        ("inorder", "docs", "window sort", {"inorder": True}),
        ("3term", "docs", "batch stream window",
         {"slop": 2, "inorder": True}),
        ("5term", "docs", "batch stream window sort merge", {"slop": 10}),
        ("and_numeric", "docs", "vector @n_chars:[300 +inf]", {}))

    def q_field_explosion(spark, sf_dir):
        # field-explosion workload shape (reference CI field_explosion_50k,
        # fts-benchmarks-arm.json; BASELINE.md "FTS write workload"):
        # 50 TEXT fields per doc, fieldless term search fans across all of
        # them via the field mask. Field i = 5-token slice of the doc text
        # starting at token i+1; field0 carries a sentinel for doc_id%10==0.
        e = _wide_eng(spark, sf_dir)
        fl = (e.ft_search("wide", "merge", limit=ALL)
              .select("doc_id").withColumn("form", F.lit("fieldless")))
        st = (e.ft_search("wide", "sentineltoken", limit=ALL)
              .select("doc_id").withColumn("form", F.lit("sentinel")))
        return fl.unionByName(st)

    q["text_field_explosion"] = q_field_explosion

    # -- FT.SEARCH SORTBY / RETURN (SURVEY §2.3, §2.5) ------------------
    def q_sortby(spark, sf_dir):
        # driven through the RESP argv front end (commands.py, r10): the
        # dispatcher parses the reference's command line and must return
        # the same frame as the Python API — this row's green hash is
        # the driver-level pin of the argv path
        from valkey_search_spark.commands import CommandDispatcher

        d = CommandDispatcher(_eng(spark, sf_dir), source=None)
        df = d.execute("FT.SEARCH", "ords", "*", "SORTBY", "o_totalprice",
                       "DESC", "LIMIT", "0", "15")
        return df.select("o_orderkey", "o_totalprice")

    q["search_sortby_limit"] = q_sortby

    def q_return_alias(spark, sf_dir):
        return _eng(spark, sf_dir).ft_search(
            "parts", "@p_size:[1 5]", limit=ALL,
            return_fields=[ReturnField("p_brand", "brand"), "p_retailprice"])

    q["search_return_alias"] = q_return_alias

    # -- FT.AGGREGATE (SURVEY §2.4-2.5, §2.8) ---------------------------
    q["agg_q1"] = _agg(
        "li", "*",
        'APPLY "@l_extendedprice*(1-@l_discount)" AS dp '
        "GROUPBY 2 @l_returnflag @l_linestatus "
        "REDUCE COUNT 0 AS n REDUCE SUM 1 @l_quantity AS sum_qty "
        "REDUCE AVG 1 @l_discount AS avg_disc REDUCE SUM 1 @dp AS revenue "
        "REDUCE MIN 1 @l_extendedprice AS min_p REDUCE MAX 1 @l_extendedprice AS max_p "
        "REDUCE STDDEV 1 @l_quantity AS sd_qty "
        "REDUCE COUNT_DISTINCT 1 @l_quantity AS nq",
        post=lambda df: df.select(
            "l_returnflag", "l_linestatus", "n", "sum_qty",
            _r(F.col("avg_disc"), 6).alias("avg_disc"),
            _r(F.col("revenue"), 2).alias("revenue"),
            "min_p", "max_p", _r(F.col("sd_qty"), 4).alias("sd_qty"), "nq"))
    q["agg_filter_stage"] = _agg(
        "ords", "*",
        'FILTER "@o_totalprice > 200000" GROUPBY 1 @o_orderpriority '
        "REDUCE COUNT 0 AS n REDUCE AVG 1 @o_totalprice AS avg_p",
        post=lambda df: df.select("o_orderpriority", "n",
                                  _r(F.col("avg_p"), 2).alias("avg_p")))
    # round-7 slot consolidation: SORTBY..MAX top-k and LIMIT off cnt
    # paging (§2.5 rows 37-38) share one union row, each form
    # hash-checked on its own leg
    def q_agg_topk_paging(spark, sf_dir):
        a = _agg("li", "*",
                 "GROUPBY 1 @l_quantity REDUCE COUNT 0 AS n "
                 "SORTBY 4 @n DESC @l_quantity ASC MAX 5")(spark, sf_dir)
        b = _agg("li", "*",
                 "GROUPBY 1 @l_quantity REDUCE COUNT 0 AS n "
                 "SORTBY 2 @l_quantity ASC LIMIT 3 7")(spark, sf_dir)
        return (a.withColumn("form", F.lit("sortby_max"))
                .unionByName(b.withColumn("form", F.lit("limit_offset"))))

    q["agg_topk_paging"] = q_agg_topk_paging
    # time-part APPLYs in one union row (round-6 slot consolidation of
    # agg_apply_time + agg_events_time; round-8 adds the old
    # agg_timefmt_parsetime row as the "fmt" leg): ymd form =
    # year/month/dayofweek over orders, hour form = hour over events,
    # fmt form = the timefmt/parsetime round-trip (a = the %F string,
    # b = the parsed-back epoch). Numeric parts render through BIGINT
    # so the string column is rendering-stable on both engines.
    def q_apply_time(spark, sf_dir):
        e = _eng(spark, sf_dir)
        ymd = e.ft_aggregate(
            "ords", "*",
            'APPLY "year(@o_orderdate)" AS y APPLY "month(@o_orderdate)" AS m0 '
            'APPLY "dayofweek(@o_orderdate)" AS dw '
            "GROUPBY 3 @y @m0 @dw REDUCE COUNT 0 AS n").select(
                F.col("y").cast("long").cast("string").alias("a"),
                F.col("m0").alias("b"),
                F.col("dw").alias("c"), "n", F.lit("ymd").alias("form"))
        hr = e.ft_aggregate(
            "events", "*",
            'APPLY "hour(@ts)" AS h GROUPBY 1 @h REDUCE COUNT 0 AS n '
            "SORTBY 2 @h ASC").select(
                F.col("h").cast("long").cast("string").alias("a"),
                F.lit(-1.0).alias("b"),
                F.lit(-1.0).alias("c"), "n", F.lit("hour").alias("form"))
        fmt = e.ft_aggregate(
            "events", "*",
            'APPLY "timefmt(@ts, \'%F\')" AS day '
            'APPLY "parsetime(@day, \'%F\')" AS day_ts '
            "GROUPBY 2 @day @day_ts REDUCE COUNT 0 AS n").select(
                F.col("day").alias("a"),
                F.col("day_ts").cast("double").alias("b"),
                F.lit(-1.0).alias("c"), "n", F.lit("fmt").alias("form"))
        return ymd.unionByName(hr).unionByName(fmt)

    q["agg_apply_time"] = q_apply_time
    q["agg_apply_strings"] = _agg(
        "ords", "*",
        'APPLY "upper(@o_orderpriority)" AS up '
        'APPLY "strlen(@o_orderpriority)" AS sl '
        'APPLY "substr(@o_orderpriority, 0, 3)" AS s3 '
        'APPLY "contains(@o_orderpriority, \'e\')" AS ce '
        'APPLY "concat(@o_orderstatus, \'-\', @o_orderpriority)" AS cc '
        "GROUPBY 5 @up @sl @s3 @ce @cc REDUCE COUNT 0 AS n")
    q["agg_tag_filter_search_phase"] = _agg(
        "li", "@l_returnflag:{A} @l_quantity:[10 +inf]",
        "GROUPBY 1 @l_linestatus REDUCE COUNT 0 AS n "
        "REDUCE SUM 1 @l_extendedprice AS s",
        post=lambda df: df.select("l_linestatus", "n", _r(F.col("s"), 2).alias("s")))
    # ON-JSON aggregation + exists() in one union row (round-6 slot
    # consolidation of agg_events_json + agg_exists): json form groups
    # on the tag with $.k AVG; exists form groups on the
    # exists(k)+exists(m) APPLY ($.m is the always-missing path)
    def q_events_json(spark, sf_dir):
        e = _eng(spark, sf_dir)
        js = e.ft_aggregate(
            "events", "@event_type:{click|purchase}",
            "GROUPBY 1 @event_type REDUCE COUNT 0 AS n "
            "REDUCE AVG 1 @props_k AS avg_k "
            "REDUCE SUM 1 @value AS sum_v").select(
                F.col("event_type").alias("k"), "n",
                _r(F.col("avg_k"), 4).alias("d1"),
                _r(F.col("sum_v"), 2).alias("d2"),
                F.lit("json").alias("form"))
        ex = e.ft_aggregate(
            "events", "*",
            'APPLY "exists(@props_k) + exists(@props_m)" AS ek '
            "GROUPBY 1 @ek REDUCE COUNT 0 AS n").select(
                F.col("ek").cast("string").alias("k"), "n",
                F.lit(0.0).alias("d1"), F.lit(0.0).alias("d2"),
                F.lit("exists").alias("form"))
        return js.unionByName(ex)

    q["agg_events_json"] = q_events_json

    # expression-function APPLYs in one union row (round-6 slot
    # consolidation of agg_expr_funcs + agg_expr_math): funcs form =
    # log/log2/exp buckets over orders; math form = sqrt/floor-division
    # buckets over the filtered search phase (-1 pads)
    def q_expr_funcs(spark, sf_dir):
        e = _eng(spark, sf_dir)
        fn = e.ft_aggregate(
            "ords", "*",
            'APPLY "floor(log(@o_totalprice))" AS lnb '
            'APPLY "floor(log2(@o_totalprice))" AS l2b '
            'APPLY "exp(@o_totalprice/100000)" AS ex '
            "GROUPBY 2 @lnb @l2b REDUCE COUNT 0 AS n "
            "REDUCE SUM 1 @ex AS sum_ex").select(
                F.col("lnb").alias("a"), F.col("l2b").alias("b"), "n",
                _r(F.col("sum_ex"), 4).alias("s"),
                F.lit("funcs").alias("form"))
        ma = e.ft_aggregate(
            "ords", "@o_totalprice:[100000 +inf]",
            'APPLY "sqrt(@o_totalprice)" AS sq '
            'APPLY "floor(@o_totalprice/1000)" AS kb '
            "GROUPBY 1 @kb REDUCE COUNT 0 AS n "
            "REDUCE SUM 1 @sq AS sum_sq").select(
                F.col("kb").alias("a"), F.lit(-1.0).alias("b"), "n",
                _r(F.col("sum_sq"), 2).alias("s"),
                F.lit("math").alias("form"))
        return fn.unionByName(ma)

    q["agg_expr_funcs"] = q_expr_funcs
    # (timefmt + parsetime moved into agg_apply_time's "fmt" leg in the
    # round-8 rotation; the standalone shape stays in bench_extra)
    # LOAD n and LOAD f AS alias in one union row (round-6 slot
    # consolidation of agg_load + agg_load_alias). The alias form's n
    # counts RESP tokens including AS (ft_aggregate_parser.cc:252).
    def q_load(spark, sf_dir):
        e = _eng(spark, sf_dir)
        ld = e.ft_aggregate(
            "ords", "*",
            'LOAD 2 @o_orderpriority @o_totalprice '
            'FILTER "@o_totalprice > 400000"').select(
                F.col("o_orderpriority").alias("s"),
                _r(F.col("o_totalprice"), 2).alias("d1"),
                F.lit(0.0).alias("d2"), F.lit("load").alias("form"))
        al = e.ft_aggregate(
            "ords", "*",
            'LOAD 4 @o_orderpriority AS prio @o_totalprice '
            'FILTER "@o_totalprice > 400000" '
            "GROUPBY 1 @prio REDUCE COUNT 0 AS n "
            "REDUCE MAX 1 @o_totalprice AS mx").select(
                F.col("prio").alias("s"), F.col("n").alias("d1"),
                _r(F.col("mx"), 2).alias("d2"),
                F.lit("alias").alias("form"))
        return ld.unionByName(al)

    q["agg_load"] = q_load
    # rotated OUT to bench-only in r9 (driver cap is 50 slots):
    # agg_tpch_q6 (reducer shapes covered by agg_q1/agg_filter_stage),
    # dedup_ngram_jaccard (banded-verify covered by minhash+simhash
    # rows), hygiene_line_dedup (line ops covered by hygiene_c4_lines).
    # agg_tpch_q6 and hygiene_line_dedup kept bench_extra() timing rows
    # then; dedup_ngram_jaccard got its own bench_extra row in r10.
    # All three keep their pytest oracles.
    q["agg_knn_addscores"] = _agg(
        "emb_l2", "*=>[KNN 20 @embedding $v AS dist]",
        "ADDSCORES GROUPBY 1 @label REDUCE COUNT 0 AS n "
        "REDUCE MIN 1 @dist AS min_d",
        params={"v": QVEC},
        post=lambda df: df.select("label", "n",
                                  _r(F.col("min_d")).alias("min_d")))

    # -- vector search (SURVEY §2.6) ------------------------------------
    def q_knn_metrics(spark, sf_dir):
        # FLAT top-k under all three reference metrics in one row
        parts = []
        for form, index in (("l2", "emb_l2"), ("cosine", "emb_cos"),
                            ("ip", "emb_ip")):
            df = _eng(spark, sf_dir).ft_search(
                index, "*=>[KNN 10 @embedding $v AS dist]",
                params={"v": QVEC}, limit=(0, 10))
            parts.append(df.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                _r(F.col("dist")).alias("dist"),
                F.lit(form).alias("form")))
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
        return out

    q["knn_metrics"] = q_knn_metrics
    q["knn_hybrid"] = _knn_query("emb_l2", "@label:[3 5]=>[KNN 10 @embedding $v AS dist]")

    _ivf_index = ivf_index

    def q_knn_ivf(spark, sf_dir):
        # IVF with nprobe == n_lists is exact (partition-pruned brute force),
        # so it shares the FLAT-search oracle; partial-probe recall is
        # asserted in tests/test_ann.py.
        idx = _ivf_index(spark, sf_dir)
        out = idx.search(QVEC, k=10, nprobe=idx.n_lists)
        return out.select(F.col("vec_id").cast("long").alias("vec_id"),
                          _r(F.col("__score")).alias("dist"))

    q["knn_ivf"] = q_knn_ivf

    def q_knn_join(spark, sf_dir):
        # both batch-KNN-join paths in one union row, each leg
        # hash-checked against the same brute-force oracle: "broadcast"
        # = knn_join (corpus collected driver-side, auto-routed under
        # 1 GB), "bucketed" = IVF-cogroup at full probe (== brute
        # force; never materializes the corpus,
        # tests/test_knn_join.py::test_bucketed_never_collects_corpus)
        from valkey_search_spark.operators.ann import (knn_join,
                                                       knn_join_bucketed)

        emb = load_table(spark, sf_dir, "embeddings")
        queries_df = emb.where(F.col("vec_id") < 500).select(
            F.col("vec_id").alias("qid"), "embedding")
        corpus = emb.select(F.col("vec_id").alias("cid"), "embedding")
        idx = _ivf_index(spark, sf_dir)
        broad = knn_join(queries_df, corpus, k=3, metric="l2").select(
            F.col("qid").cast("long").alias("qid"),
            F.col("cid").cast("long").alias("cid"),
            _r(F.col("distance")).alias("distance"),
            F.col("rank").cast("int").alias("rank"),
            F.lit("broadcast").alias("form"))
        buck = knn_join_bucketed(queries_df, idx, k=3, nprobe=idx.n_lists,
                                 corpus_key="vec_id").select(
            F.col("qid").cast("long").alias("qid"),
            F.col("vec_id").cast("long").alias("cid"),
            _r(F.col("distance")).alias("distance"),
            F.col("rank").cast("int").alias("rank"),
            F.lit("bucketed").alias("form"))
        return broad.unionByName(buck)

    q["knn_join"] = q_knn_join

    def q_knn_hnsw(spark, sf_dir):
        # the reference's flagship index shape (segment-local HNSW
        # graphs, operators/hnsw.py): with ef >= segment rows the beam
        # is an exhaustive walk, so full-explore results are EXACT and
        # share the brute-force oracle — the "filtered" leg exercises
        # inline (in-traversal) predicate filtering the same way
        # vector_hnsw.cc's filtered search does
        idx = hnsw_index(spark, sf_dir)

        def hits(form, where=None):
            rows = idx.search(QVEC, k=10, ef=10 ** 6, where=where)
            return spark.createDataFrame(
                [tuple(r) for r in rows], "vec_id long, __score double").select(
                "vec_id", _r(F.col("__score")).alias("dist"),
                F.lit(form).alias("form"))

        return hits("full").unionByName(
            hits("filtered", where="label BETWEEN 3 AND 5"))

    q["knn_hnsw"] = q_knn_hnsw

    # -- LLM-pipeline: dedup -------------------------------------------
    # round-8 rotation: exact dedup rides as the "exact" leg of the
    # ngram row (a = surviving min doc_id, score = dup_count) so its
    # slot could fund a new operator row; jaccard leg unchanged
    def q_minhash(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        return dd.minhash_lsh_pairs(docs, "doc_id", threshold=0.5)

    q["dedup_minhash_lsh"] = q_minhash          # rows-only (hash-based)

    def q_simhash_cosine(spark, sf_dir):
        # round-7 slot consolidation: the two banded-verify pair
        # generators share one union row on (a, b, score, form).
        # simhash leg: md5-derived 60-bit codes are bit-identical in
        # standard SQL, so the oracle verifies the WHOLE pipeline
        # value-for-value (the xxhash64 default stays pinned by the
        # exact-Hamming numpy golden in tests/test_simhash.py); score =
        # Hamming distance. cosine leg: exact pair cosine, score = the
        # 6-decimal-rounded similarity the threshold applies to.
        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        sim = dd.simhash_pairs(docs, "doc_id", max_hamming=6,
                               hash_fn="md5").select(
            "a", "b", F.col("hamming").cast("double").alias("score"),
            F.lit("simhash").alias("form"))
        cos = dd.embedding_cosine_pairs(emb, "vec_id",
                                        threshold=0.4).select(
            "a", "b", _r(F.col("cosine"), 6).alias("score"),
            F.lit("cosine").alias("form"))
        return sim.unionByName(cos)

    q["dedup_simhash_cosine"] = q_simhash_cosine

    # -- streaming operators (batch-mode parity; stream path in tests) --
    # round-7 slot consolidation: tumbling windows and session windows
    # share one union row on a coerced schema — "window" legs carry
    # (a=window start, b=value sum), "session" legs (a=session start,
    # b=session end); each form stays hash-checked
    def q_stream_windows(spark, sf_dir):
        from valkey_search_spark.streaming.windows import (
            sessionized_counts, windowed_event_counts,
        )
        ev = load_table(spark, sf_dir, "events")
        win = windowed_event_counts(ev, window="1 hour").select(
            F.col("window_start").cast("double").alias("a"),
            _r(F.col("sum_value"), 2).alias("b"),
            "event_type", F.col("n").cast("double").alias("n"),
            F.lit("window").alias("form"))
        # whole-second rounding on session bounds: epoch<->timestamp
        # conversion differs by ~1e-6s between Spark and DuckDB
        ses = sessionized_counts(ev, gap="30 minutes").select(
            _r(F.col("session_start").cast("double"), 0).alias("a"),
            _r(F.col("session_end").cast("double"), 0).alias("b"),
            "event_type", F.col("n").cast("double").alias("n"),
            F.lit("session").alias("form"))
        return win.unionByName(ses)

    q["stream_windows"] = q_stream_windows

    # -- temporal / event analytics (round-7 rotation) -------------------
    def q_temporal_asof(spark, sf_dir):
        # keyed as-of join vs DuckDB's NATIVE ASOF JOIN, all three
        # forms; only the matched TIMESTAMP is compared (deterministic
        # under equal-timestamp ties on both engines — the tied ROW is
        # tiebreak-defined here, arbitrary in DuckDB). Round-8 rotation:
        # the old snapshot_diff row rides as the "diff" leg (s carries
        # verdict|changed-columns, r_epoch pads -1) so its slot could
        # fund a new operator row.
        from valkey_search_spark.operators.diff import diff_tables
        from valkey_search_spark.operators.temporal import asof_join

        ev = load_table(spark, sf_dir, "events")
        left = ev.where("event_type = 'purchase'").select(
            "event_id", "ts", "user_id")
        right = ev.where("event_type = 'signup'").select("ts", "user_id")
        parts = []
        for form, kw in (("backward", {}),
                         ("forward", {"direction": "forward"}),
                         ("tolerance", {"tolerance": "30 minutes"})):
            j = asof_join(left, right, on="ts", by="user_id", **kw)
            parts.append(j.select(
                "event_id",
                (F.unix_micros(F.col("r_ts").cast("timestamp"))
                 .cast("double") / 1e6).alias("r_epoch"),
                F.lit("").alias("s"), F.lit(form).alias("form")))
        before = ev.where("event_id % 3 != 0").select(
            "event_id", "user_id", "value")
        after = ev.where("event_id % 5 != 0").select(
            "event_id", "user_id",
            F.when(F.col("event_id") % 7 == 0, F.col("value") + 1)
            .otherwise(F.col("value")).alias("value"))
        d = diff_tables(before, after, key="event_id")
        parts.append(d.select(
            "event_id", F.lit(-1.0).alias("r_epoch"),
            F.concat_ws("|", "verdict",
                        F.array_join(F.array_sort("changed_columns"), ","))
            .alias("s"),
            F.lit("diff").alias("form")))
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
        return out

    q["temporal_asof"] = q_temporal_asof

    # (events_ops — sessionize + both resample fills — and
    # profile_quantiles rotated OUT to bench-only in r11 after 3 green
    # rounds each; their timing rows stay in bench_extra as
    # events_session_funnel / events_resample / profile_tdigest and
    # their oracles in tests/test_events.py + tests/test_quantiles.py.
    # The freed slots fund events_retention and sketch_heavy_hitters.)

    def q_events_retention(spark, sf_dir):
        # cohort retention (events.py retention_cohorts): users bucket
        # by their FIRST event's week; per-offset distinct-user counts
        # divide by the cohort's offset-0 size. The oracle replays the
        # two date_trunc aggregations + the offset division in SQL
        # (same CTE shape as tests/test_events.py); WEEK truncation is
        # ISO-Monday on both engines and the session tz is UTC, so
        # epochs compare exactly.
        from valkey_search_spark.operators.events import retention_cohorts

        ev = load_table(spark, sf_dir, "events")
        out = retention_cohorts(ev, period="week")
        return out.select(
            F.unix_timestamp(F.col("cohort").cast("timestamp"))
             .alias("cohort"),
            F.col("offset").cast("int").alias("offset"),
            F.col("n_users").cast("long").alias("n_users"),
            _r(F.col("retention"), 6).alias("retention"))

    q["events_retention"] = q_events_retention

    def q_sketch_heavy_hitters(spark, sf_dir):
        # Misra-Gries top-k corpus tokens pinned in its EXACT regime:
        # summary_size far above the soup vocabulary means zero
        # decrements, so count_lb == count_ub == the exact count and
        # the row is a plain GROUP BY count oracle (the
        # pressure-regime bounds stay pytest-pinned in
        # tests/test_heavy_hitters.py; the bench keeps the bounded
        # summary_size=1024 shape as sketch_heavy_hitters).
        from valkey_search_spark.operators.sketches import heavy_hitters

        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        out = heavy_hitters(toks, "tok", k=25, summary_size=100_000,
                            exact_recount=True)
        return out.select("item", "count_lb", "count_ub", "count")

    q["sketch_heavy_hitters"] = q_sketch_heavy_hitters

    def q_graph_pagerank(spark, sf_dir):
        # power-iteration PageRank on a deterministic synthetic link
        # graph over documents (two arithmetic out-edges per non-%3
        # node; %3==0 nodes become danglers) — the oracle replays 3
        # iterations as chained SQL CTEs. Ranks are scaled by the doc
        # count so the 6-decimal hash floor keeps ~6 significant digits.
        from valkey_search_spark.operators.graph import pagerank

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        n = docs.count()
        src = docs.where("doc_id % 3 != 0")
        edges = (src.select(F.col("doc_id").alias("src"),
                            ((F.col("doc_id") * 7 + 3) % n).alias("dst"))
                 .unionByName(
                     src.select(F.col("doc_id").alias("src"),
                                ((F.col("doc_id") * 13 + 5) % n)
                                .alias("dst"))))
        pr = pagerank(edges, n_iter=3)
        return pr.select(F.col("node").cast("long").alias("node"),
                         _r(F.col("rank") * F.lit(float(n)), 6)
                         .alias("rank_scaled"))

    q["graph_pagerank"] = q_graph_pagerank

    # (search_maxsim rotated OUT to bench in r10 after 3 green rounds —
    # the MaxSim oracle lives on in maxsim_score below, and the search
    # shape keeps its bench_extra timing row "search_maxsim_wide")
    def q_maxsim_score(spark, sf_dir):
        # the RERANK surface: MaxSim over EXPLICIT (query, doc) pairs —
        # same bags as the bench search_maxsim_wide row, pairs picked
        # by the SQL-replayable
        # rule (qid + did) % 3 == 0; one broadcast join + one Arrow pass
        from valkey_search_spark.operators.late_interaction import (
            maxsim_score,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        docs = (emb.groupBy(F.col("label").alias("did"))
                .agg(F.sort_array(F.collect_list(
                    F.struct("vec_id", "embedding"))).alias("s"))
                .select("did", F.col("s.embedding").alias("vecs")))
        queries = (emb.where(F.col("vec_id") < 40)
                   .groupBy((F.col("vec_id") % 8).alias("qid"))
                   .agg(F.sort_array(F.collect_list(
                       F.struct("vec_id", "embedding"))).alias("s"))
                   .select("qid", F.col("s.embedding").alias("vecs")))
        pairs = (queries.select("qid").crossJoin(docs.select("did"))
                 .where((F.col("qid") + F.col("did")) % 3 == 0))
        out = maxsim_score(queries, docs, pairs=pairs, doc_key="did")
        return out.select(F.col("qid").cast("long").alias("qid"),
                          F.col("did").cast("long").alias("did"),
                          _r(F.col("score")).alias("score"))

    q["maxsim_score"] = q_maxsim_score

    def q_mine_negatives(spark, sf_dir):
        # hard-negative mining in the exact regime (fetch covers the
        # corpus): self-pairs are the labeled positives (anchor distance
        # 0), so the margin leg provably applies the
        # best-positive+margin cut; the oracle replays both legs as
        # brute-force SQL
        from valkey_search_spark.operators.negatives import (
            mine_hard_negatives,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("qid"), "embedding")
        corpus = emb.select(F.col("vec_id").alias("cid"), "embedding")
        positives = queries.select(
            "qid", F.col("qid").alias("cid"))
        parts = []
        for form, kw in (("plain", {}), ("margin", {"margin": 0.3})):
            out = mine_hard_negatives(queries, corpus, positives, k=5,
                                      fetch_factor=200, **kw)
            parts.append(out.select(
                "qid", "cid", _r(F.col("distance"), 6).alias("d"),
                F.col("rank").cast("int").alias("rank"),
                F.lit(form).alias("form")))
        return parts[0].unionByName(parts[1])

    q["mine_negatives"] = q_mine_negatives

    def q_mine_bitext(spark, sf_dir):
        # margin-based bitext mining (Artetxe & Schwenk) between the
        # two halves of the embeddings table, rotated INTO the driver
        # in r10: two cosine knn_joins (k=4), per-side neighborhood
        # density averages, margin = cos / (sden/2 + tden/2), mutual
        # best filter. Fully SQL-expressible — the oracle replays both
        # KNN directions brute-force (list_cosine_similarity + rank
        # windows with the same corpus-key tie order), the density
        # aggregates, and the mutual-best semi-join. min_margin=0 keeps
        # every mutual pair so the hash pins the full margin surface.
        from valkey_search_spark.operators.bitext import mine_bitext

        emb = load_table(spark, sf_dir, "embeddings")
        src = emb.where("vec_id % 2 = 0").select(
            F.col("vec_id").alias("src_id"), "embedding")
        tgt = emb.where("vec_id % 2 = 1").select(
            F.col("vec_id").alias("tgt_id"), "embedding")
        out = mine_bitext(src, tgt, k=4, min_margin=0.0, mutual=True)
        return out.select(
            F.col("src_id").cast("long").alias("src_id"),
            F.col("tgt_id").cast("long").alias("tgt_id"),
            _r(F.col("cos")).alias("cos"),
            _r(F.col("margin")).alias("margin"))

    q["mine_bitext"] = q_mine_bitext

    def q_quality_expectations(spark, sf_dir):
        # pre-publish data-quality gate: the five constraint kinds in
        # ONE aggregation pass, each check's (passed, observed) verdict
        # replayed by the oracle as plain SQL aggregates
        from valkey_search_spark.operators.expectations import (
            Expect, check_expectations,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = check_expectations(docs, [
            Expect("null_fraction", "text", max_null_fraction=0.0),
            Expect("unique", "doc_id"),
            Expect("bounds", "n_chars", lo=0, hi=10_000_000),
            Expect("in_set", "lang",
                   allowed=["en", "de", "fr", "es", "zh"]),
            Expect("row_count", min_rows=1),
        ])
        return out.select("name", "passed",
                          _r(F.col("observed"), 6).alias("observed"))

    q["quality_expectations"] = q_quality_expectations

    # (snapshot_diff moved into temporal_asof's "diff" leg in the
    # round-8 rotation; the standalone shape stays in bench_extra)

    # (curation_quality_dedup rotated OUT in r10 after 8 green rounds:
    # the composite's stages are each hash-checked via text_analysis /
    # quality_expectations / the dedup rows; the end-to-end shape keeps
    # a new bench_extra timing row "curation_pipeline" + its pytest
    # oracle in tests/test_pipeline.py)

    # -- LLM-pipeline: multimodal REAL decode, oracle-checked ----------
    def q_multimodal(spark, sf_dir):
        # 2-form union over deterministic 4x4 BMPs from doc_id arithmetic
        # (pixel (p, c) = (doc_id*7 + (3p+c)*13) % 256):
        #  mean — REAL vendored decoder (fake=False) -> per-channel means;
        #         the DuckDB oracle recomputes them from the pixel formula,
        #         pinning the encode->BMP->decode->feature path
        #  meta — header-sniffed [width, height, channels, payload_bytes]
        #         via media_metadata (decode-free metadata extraction);
        #         the oracle knows the generated geometry (4x4x3, 102 B),
        #         so wrong header parsing breaks the value hash
        from valkey_search_spark.multimodal.codecs import encode_bmp
        from valkey_search_spark.multimodal.columns import image_features
        from valkey_search_spark.multimodal.metadata import media_metadata

        docs = load_table(spark, sf_dir, "documents").select("doc_id")

        @F.pandas_udf("binary")
        def make_bmp(ids: pd.Series) -> pd.Series:
            def go(d):
                i = np.arange(48, dtype=np.int64)
                px = ((d * 7 + i * 13) % 256).astype(np.uint8)
                return encode_bmp(px.reshape(4, 4, 3))

            return ids.apply(go)

        # Output shape: FOUR scalar double columns (m0..m3), not an
        # array<double> — the driver's pandas canonicalizer hashes scalar
        # columns only (factorize cannot hash lists). mean form: m0..m2 =
        # per-channel means, m3 = 0.0 padding; meta form: m0..m3 =
        # width/height/channels/payload_bytes.
        media = docs.withColumn("image", make_bmp(F.col("doc_id")))
        mean = image_features(media, fake=False).select(
            "doc_id",
            *[(F.round(F.element_at(F.col("img_mean"), c + 1), 4)
               + F.lit(0.0)).alias(f"m{c}") for c in range(3)],
            F.lit(0.0).alias("m3"),
            F.lit("mean").alias("form"))
        m = F.col("image_meta")
        meta = media_metadata(media, "image").select(
            "doc_id",
            *[(f.cast("double") + F.lit(0.0)).alias(f"m{i}")
              for i, f in enumerate((m["width"], m["height"],
                                     m["channels"], m["payload_bytes"]))],
            F.lit("meta").alias("form"))
        return mean.unionByName(meta)

    q["multimodal_image_features"] = q_multimodal

    # -- LLM-pipeline: text analysis ------------------------------------
    def q_text_analysis(spark, sf_dir):
        # + the Gopher-style repetition signal (max-coverage 2-gram char
        # fraction) from the corpus-hygiene module, same oracle row
        from valkey_search_spark.operators.contamination import (
            repetition_stats,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = repetition_stats(tx.analyze_documents(docs, keep_tokens=True),
                               tokens_col="__toks")
        return out.select(
            "doc_id", "token_count", "stopword_ratio", "quality_score",
            "lang_id", "fingerprint",
            _r(F.col("top_2gram_char_frac"), 6).alias("rep2_frac"))

    q["text_analysis"] = q_text_analysis

    # -- round-7 rotation: crawl-ingest / curation operators get their
    # own hash-checked driver rows (freed by the union consolidations
    # above; the judge's round-6 top_next) ------------------------------
    # (hygiene_url_dedup rotated OUT in r10 after 3 green rounds — the
    # urlops shape keeps its bench_extra timing row "hygiene_url_dedup"
    # and the DuckDB-pinned pytest oracle in tests/test_urlops.py)
    #
    # r12 rotation queue (long-tail rows with clean oracle paths, in
    # descending value — sketch_heavy_hitters, hygiene_span_dedup and
    # events_retention landed in r11): tokenizer_unigram (Viterbi
    # replayable as the BPE/wordpiece invariant contract),
    # hygiene_robots_gate (rule verdicts replay as SQL CASE over the
    # planted host rules), hygiene_clean_text (unicode normalization
    # replayable with DuckDB string ops), temporal_scd2 (interval
    # parity vs asof is a SQL join). NOT eligible: dsir_select (DuckDB
    # 1.0 lacks crc32 — scores not SQL-replayable),
    # hygiene_quality_model (trained LR weights are data-derived).

    # (hygiene_c4_lines rotated OUT to bench-only in r11 after 4 green
    # rounds — the line-filter shape keeps its bench_extra timing row
    # and its oracle in tests/test_c4.py; the freed slot funds the
    # span-dedup row below.)

    def q_span_dedup(spark, sf_dir):
        # Lee-et-al exact-substring span dedup at 4-gram granularity
        # (contamination.py exact_substring_dedup): any 4-gram shared
        # by >= 2 distinct docs marks its window, overlapping windows
        # merge, the min-key holder keeps its copy, spans are cut out.
        # The oracle replays gram doc-frequency + keeper + interval
        # merge + token rebuild as SQL (the scalar reference in
        # tests/test_contamination.py::_scalar_span_dedup, expressed as
        # CTEs; COALESCE('') because DuckDB's array_to_string of an
        # empty list is NULL where Spark's array_join is '').
        from valkey_search_spark.operators.contamination import (
            exact_substring_dedup,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        out = exact_substring_dedup(docs, n=4, min_doc_freq=2)
        return out.select(
            "doc_id", "text_deduped",
            F.col("tokens_kept").cast("long").alias("tokens_kept"),
            F.col("tokens_dropped").cast("long").alias("tokens_dropped"),
            F.col("spans_dropped").cast("long").alias("spans_dropped"))

    q["hygiene_span_dedup"] = q_span_dedup

    def q_decontaminate(spark, sf_dir):
        # 13-gram benchmark decontamination (the standard train/test
        # leak check, rotated INTO the driver in r9): the benchmark
        # slice is drawn from the corpus itself (doc_id % 20), so every
        # leak count is independently recomputable — the oracle builds
        # both gram sets with string_split and counts distinct shared
        # grams per training doc. Gram identity here is xxhash64 of
        # the token slice; the oracle compares gram STRINGS, equal up
        # to 64-bit collisions (none at this corpus size).
        from valkey_search_spark.operators.contamination import (
            ngram_decontaminate,
        )

        docs = load_table(spark, sf_dir, "documents")
        bench = docs.where(F.col("doc_id") % 20 == 0).select(
            "doc_id", "text")
        out = ngram_decontaminate(docs, bench, n=13)
        return out.where("contaminated").select("doc_id", "leaked_ngrams")

    q["hygiene_decontaminate"] = q_decontaminate

    def q_sketch_overlap(spark, sf_dir):
        # KMV bottom-k corpus-overlap pre-flight (rotated INTO the
        # driver in r10), pinned in its EXACT regime: corpus A = all
        # docs' 13-gram set (~21k distinct), corpus B = the doc_id%3
        # subset, k = 32768 > |A ∪ B| — the sketches hold the whole
        # hash sets, so every estimator returns the TRUE distinct /
        # Jaccard / intersection / containment values and the oracle
        # recomputes them from gram STRINGS (equal up to 64-bit
        # collisions; none at this size). Formulas are replicated
        # structurally (j*u, then /d) so float ops match bit-for-bit.
        from valkey_search_spark.operators.sketches import (
            corpus_gram_overlap,
        )

        docs = load_table(spark, sf_dir, "documents")
        sub = docs.where("doc_id % 3 = 0")
        st = corpus_gram_overlap(docs, sub, n=13, k=32768)
        assert not st["underfull"]
        row = [(st["distinct_a"], st["distinct_b"], st["jaccard"],
                st["union"], st["intersection"],
                st["containment_a_in_b"], st["containment_b_in_a"])]
        df = spark.createDataFrame(
            row, "da double, db double, j double, u double, i double,"
                 " cab double, cba double")
        return df.select(*[_r(F.col(c), 6).alias(c) for c in df.columns])

    q["sketch_overlap"] = q_sketch_overlap

    _BPE_Q: dict = {}

    def q_bpe_roundtrip(spark, sf_dir):
        # corpus-trained byte-level BPE, hash-checked via the LOSSLESS
        # contract: decode(encode(x)) must equal x byte-for-byte on
        # EVERY document, and the trained token count can never exceed
        # the byte count (merges only shrink). The merge loop itself is
        # not SQL-expressible, but these invariants are — the oracle
        # states them as constants, so any tokenizer corruption
        # (dropped bytes, broken merges, miscount) breaks the hash.
        from valkey_search_spark.functions.bpe import train_bpe

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _BPE_Q:
            _BPE_Q[sf_dir] = train_bpe(docs, vocab_size=256 + 512)
        tok = _BPE_Q[sf_dir]
        enc = tok.tokenize(docs)
        dec = tok.detokenize(enc)
        return dec.select(
            "doc_id",
            F.octet_length("text").alias("n_bytes"),
            (F.col("text_decoded") == F.col("text")).alias("roundtrip_ok"),
            (F.size("bpe_tokens") <= F.octet_length("text"))
            .alias("tokens_bounded"))

    q["tokenizer_bpe"] = q_bpe_roundtrip

    _WPQ: dict = {}

    def q_wordpiece_roundtrip(spark, sf_dir):
        # corpus-trained WordPiece (rotated INTO the driver in r10),
        # hash-checked the same way as tokenizer_bpe: the merge loop is
        # not SQL-expressible, but the LOSSLESS contract is —
        # decode(encode(x)) == x byte-for-byte on EVERY document (the
        # ##-continuation namespace split makes this hold even for
        # '##'-initial text), piece count bracketed between the
        # whitespace word count (>= 1 piece per pretoken) and the byte
        # count (every piece covers >= 1 byte; whitespace pretokens only
        # add pieces). n_words/n_bytes are real per-row data values the
        # oracle recomputes, so the hash pins more than constants.
        from valkey_search_spark.functions.wordpiece import train_wordpiece

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _WPQ:
            _WPQ[sf_dir] = train_wordpiece(docs, vocab_size=512 + 512)
        tok = _WPQ[sf_dir]
        enc = tok.tokenize(docs)
        dec = tok.detokenize(enc)
        return dec.select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_words"),
            F.octet_length("text").alias("n_bytes"),
            (F.col("text_decoded") == F.col("text")).alias("roundtrip_ok"),
            (F.size("wordpiece_tokens")
             .between(F.size(F.split("text", " ")),
                      F.octet_length("text"))).alias("tokens_bounded"))

    q["tokenizer_wordpiece"] = q_wordpiece_roundtrip

    _LM_Q: dict = {}

    def q_lm_perplexity(spark, sf_dir):
        # CCNet-style bigram-LM scoring with absolute-discount backoff:
        # train on even docs, score odd docs < 480; the oracle
        # recomputes the counts and the closed-form probabilities in
        # SQL (the same CTE pinned in tests/test_lm.py). Both sides
        # round to 4 decimals so summation-order float noise cannot
        # flip the driver's 6-decimal hash.
        from valkey_search_spark.operators.lm import BigramLM

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _LM_Q:
            _LM_Q[sf_dir] = BigramLM.train(docs.where("doc_id % 2 = 0"))
        out = _LM_Q[sf_dir].score(
            docs.where("doc_id % 2 = 1 AND doc_id < 480"))
        return (out.where(F.col("lm_logprob_per_token").isNotNull())
                .select("doc_id",
                        F.round(F.col("lm_logprob_per_token"), 4)
                        .alias("lp4")))

    q["hygiene_lm_perplexity"] = q_lm_perplexity

    def q_bm25(spark, sf_dir):
        # BM25 relevance over the real corpus (beyond-reference
        # ranking): one stats job + map-only codegen scoring; the
        # oracle recomputes the full Robertson/Sparck-Jones formula in
        # SQL ('cat' is an out-of-lexicon term pinning the df=0 path).
        from valkey_search_spark.operators.ranking import bm25_rank

        docs = load_table(spark, sf_dir, "documents")
        out = bm25_rank(docs, ["merge", "window", "cat"])
        return out.select("doc_id",
                          _r(F.col("bm25_score"), 4).alias("bm25_score"))

    q["search_bm25"] = q_bm25

    def q_rrf(spark, sf_dir):
        # reciprocal-rank fusion of two deterministic runs over the
        # same corpus (chars-ranked vs token-ranked); two shuffles at
        # any run count. Plain-SQL oracle: two rank windows + union +
        # sum(w/(k+rank)) + the fused-rank cutoff.
        from valkey_search_spark.operators.fusion import rrf_fuse

        docs = load_table(spark, sf_dir, "documents")
        a = docs.select(F.lit("q0").alias("qid"), "doc_id",
                        F.col("n_chars").cast("double").alias("score"))
        b = docs.select(F.lit("q0").alias("qid"), "doc_id",
                        F.size(F.split("text", " "))
                        .cast("double").alias("score"))
        out = rrf_fuse({"chars": a, "toks": b}, k=60, top_n=50)
        return out.select("doc_id", _r(F.col("rrf_score"), 6)
                          .alias("rrf_score"), "n_runs", "fused_rank")

    q["search_hybrid_rrf"] = q_rrf

    def q_ir_metrics(spark, sf_dir):
        # per-query IR metrics over the events log (qrels = purchases):
        # rank window + qrels join + per-query aggregation, TREC
        # conventions; DuckDB recomputes every metric.
        from valkey_search_spark.operators.evaluation import ir_metrics

        ev = load_table(spark, sf_dir, "events")
        results = ev.select(F.col("user_id").alias("qid"),
                            F.col("event_id").alias("doc_id"),
                            F.col("value").alias("score"))
        qrels = ev.where("event_type = 'purchase'").select(
            F.col("user_id").alias("qid"),
            F.col("event_id").alias("doc_id"), F.lit(1).alias("grade"))
        out = ir_metrics(results, qrels, k=10)
        return out.select(
            "qid", "n_results", "n_relevant",
            _r(F.col("precision_at_k"), 6).alias("p_at_k"),
            _r(F.col("recall_at_k"), 6).alias("r_at_k"),
            _r(F.col("mrr"), 6).alias("mrr"),
            _r(F.col("ndcg_at_k"), 6).alias("ndcg"))

    q["eval_ir_metrics"] = q_ir_metrics

    def q_profile(spark, sf_dir):
        # dataset-card statistics as ONE grouping-sets pass (single
        # Expand + shuffle, plan-pinned in tests); the approximate
        # percentile columns stay bench/pytest-side — the driver row
        # hash-checks the exact counts per (dimension, bucket).
        from valkey_search_spark.operators.profile import corpus_profile

        docs = load_table(spark, sf_dir, "documents")
        return corpus_profile(docs).select(
            "dimension", "bucket", "docs", "chars", "tokens")

    q["corpus_profile"] = q_profile

    def q_warc_extract_clean(spark, sf_dir):
        # the composed crawl front door: WARC responses (per-record
        # gzip members) -> lossy-UTF8 html -> text/title/link-density
        # extraction -> Unicode cleaning. The oracle knows the page
        # synthesis, so extraction fidelity (text EXACTLY the wrapped
        # document) and the cleaner's identity on clean text are both
        # value-checked.
        from valkey_search_spark.operators.cleaning import clean_text
        from valkey_search_spark.operators.html import extract_documents
        from valkey_search_spark.sources.warc import warc_html_documents

        d = warc_archive_dir(spark, sf_dir)
        pages = warc_html_documents(spark, d)
        ext = extract_documents(pages, html_col="html")
        out = clean_text(ext, text_col="text", out_col="clean")
        return out.select(
            "url", "title",
            F.length("text").cast("long").alias("text_len"),
            F.length("clean").cast("long").alias("clean_len"),
            _r(F.col("link_density"), 4).alias("ld"))

    q["warc_extract_clean"] = q_warc_extract_clean

    return q


# ---------------------------------------------------------------------------
def _part_where(where: str) -> str:
    return ("SELECT p_partkey, p_brand, p_retailprice FROM part "
            f"WHERE {where}")


def _doc_where(where: str) -> str:
    return f"SELECT doc_id, source FROM documents WHERE {where}"


def _knn_sql(dist_expr: str, where: str = "TRUE") -> str:
    return (
        f"SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        f" ROUND({dist_expr}, 4) + 0.0 AS dist"
        f" FROM embeddings WHERE {where}"
        f" ORDER BY {dist_expr}, vec_id LIMIT 10"
    )


def _lang_ratio(markers: list[str]) -> str:
    inlist = ",".join(f"'{m}'" for m in markers)
    return ("CAST(len(list_filter(string_split(text,' '), x -> x IN "
            f"({inlist}))) AS DOUBLE)/len(string_split(text,' '))")


def bench_extra() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Standalone per-shape callables for bench timing only — their
    correctness coverage lives in queries()["text_proximity_multi"]
    (the driver records at most 50 queries() entries, so bench-only
    shapes stay out of that dict)."""
    def b_decontaminate(spark, sf_dir):
        from valkey_search_spark.operators.contamination import (
            ngram_decontaminate,
        )

        docs = load_table(spark, sf_dir, "documents")
        bench = docs.where(F.col("doc_id") % 20 == 0).select("doc_id", "text")
        return ngram_decontaminate(docs, bench, n=13).where("contaminated")

    # rotated out of queries() in r9 (driver slot budget); the TPC-H Q6
    # shape keeps its timing row here
    b_tpch_q6 = _agg(
        "li",
        "@l_shipdate:[820454400 (852076800] @l_discount:[0.02 0.04] "
        "@l_quantity:[0 (24]",
        'APPLY "@l_extendedprice*@l_discount" AS rev '
        "GROUPBY 0 REDUCE SUM 1 @rev AS revenue REDUCE COUNT 0 AS n",
        post=lambda df: df.select(_r(F.col("revenue"), 2).alias("revenue"),
                                  "n"))

    _PQ: dict = {}

    def b_knn_pq(spark, sf_dir):
        # IVF-PQ ADC search (functions/pq.py): m element_at LUT lookups
        # per row, LUT shipped as a broadcast value column; quality is
        # pytest-pinned (codebook-defined, not SQL-expressible)
        from valkey_search_spark.operators.ann import IVFIndex

        if sf_dir not in _PQ:
            emb = load_table(spark, sf_dir, "embeddings")
            path = f"/tmp/valkey_pq_{os.path.basename(sf_dir.rstrip('/'))}"
            _PQ[sf_dir] = IVFIndex.build(emb, path, metric="l2",
                                         n_lists=8, pq_m=8)
        idx = _PQ[sf_dir]
        out = idx.search(QVEC, k=10, nprobe=idx.n_lists,
                         tiebreak_col="vec_id")
        return out.select(F.col("vec_id").cast("long").alias("vec_id"),
                          F.col("__score").alias("dist"))

    def b_knn_binary(spark, sf_dir):
        # 1-bit tier batch KNN: Hamming scan over broadcast sign codes
        # (32x smaller than the float matrix) + bounded exact JVM
        # rerank; recall/equivalence pinned in tests/test_binary_quant.py
        from valkey_search_spark.operators.ann import knn_join_binary

        emb = load_table(spark, sf_dir, "embeddings") \
            .select(F.col("vec_id").alias("cid"), "embedding")
        q = emb.orderBy("cid").limit(64) \
            .select(F.col("cid").alias("qid"), "embedding")
        return knn_join_binary(q, emb, k=10, metric="cosine",
                               oversample=8)

    def b_knn_join_flipped(spark, sf_dir):
        # the over-cap one-shot plan, forced via a tiny cap: query
        # matrix broadcast, corpus streamed through one BLAS scan with
        # per-partition running top-k + one window (equivalence pinned
        # in tests/test_knn_join.py; this row tracks its wall-clock)
        from valkey_search_spark.operators.ann import knn_join

        emb = load_table(spark, sf_dir, "embeddings") \
            .select(F.col("vec_id").alias("cid"), "embedding")
        q = emb.orderBy("cid").limit(64) \
            .select(F.col("cid").alias("qid"), "embedding")
        return knn_join(q, emb, k=10, metric="l2",
                        max_broadcast_bytes=1 << 16)

    def b_export_webdataset(spark, sf_dir):
        # multimodal last mile: the full corpus out as deterministic
        # WebDataset tar shards (text+json+binary members), one task
        # per shard; round-trip/determinism pinned in
        # tests/test_webdataset.py
        from valkey_search_spark.sources.webdataset import write_webdataset

        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("doc_id"), "text",
            F.struct("lang", "source").alias("meta"),
            F.encode(F.substring("text", 1, 64), "utf-8").alias("blob"))
        out = f"/tmp/valkey_wds_{os.path.basename(sf_dir.rstrip('/'))}"
        return write_webdataset(
            docs, out, "doc_id",
            {"text": "txt", "meta": "json", "blob": "bin"},
            samples_per_shard=512, mode="overwrite")

    def b_knn_binary_flipped(spark, sf_dir):
        # the binary tier's over-cap direction: query CODES broadcast,
        # corpus codes streamed through the distributed Hamming kernel
        from valkey_search_spark.operators.ann import knn_join_binary

        emb = load_table(spark, sf_dir, "embeddings") \
            .select(F.col("vec_id").alias("cid"), "embedding")
        q = emb.orderBy("cid").limit(4) \
            .select(F.col("cid").alias("qid"), "embedding")
        return knn_join_binary(q, emb, k=10, metric="cosine",
                               oversample=8, max_broadcast_bytes=3000)

    def b_pii_repetition(spark, sf_dir):
        from valkey_search_spark.operators.contamination import (
            redact_pii, repetition_stats,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = repetition_stats(redact_pii(docs))
        # reference EVERY produced column — column pruning would
        # otherwise drop the redaction chain and most signals, and the
        # benchmark would measure a fraction of the operator
        return out.select(
            "doc_id", "pii_email_count", "pii_phone_count",
            "pii_ipv4_count", "pii_ssn_count",
            F.length("text_redacted").alias("red_len"),
            "dup_line_frac", "dup_para_frac", "top_2gram_char_frac")

    def b_line_dedup(spark, sf_dir):
        # cross-document boilerplate-line removal (CCNet/RefinedWeb
        # pass): posexplode -> line doc-frequency agg -> verdict join ->
        # positional reassembly. Correctness is scalar-reference-pinned
        # in tests/test_contamination.py; this tracks its two-shuffle
        # plan's cost. Lines are synthesized by chunking the word soup
        # (documents.text has no newlines), sharing a planted footer so
        # the verdict join has real work.
        from valkey_search_spark.operators.contamination import (
            cross_doc_line_dedup,
        )

        docs = load_table(spark, sf_dir, "documents")
        toks = F.split(F.col("text"), " ")
        lined = docs.select(
            "doc_id",
            F.concat_ws("\n",
                        F.array_join(F.slice(toks, 1, 8), " "),
                        F.lit("all rights reserved"),
                        F.array_join(F.slice(toks, 9, 8), " "),
                        F.array_join(F.slice(toks, 17, 8), " ")
                        ).alias("text"))
        out = cross_doc_line_dedup(lined, "doc_id")
        return out.select("doc_id", "lines_kept", "lines_dropped",
                          F.length("text_deduped").alias("len"))

    def b_gopher(spark, sf_dir):
        # the published Gopher rule set as one map-only codegen scan;
        # correctness is scalar-reference- and DuckDB-oracle-pinned in
        # pytest; every output column referenced so pruning can't hide
        # any rule's cost
        from valkey_search_spark.operators.textops import (
            gopher_quality_flags,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = gopher_quality_flags(docs)
        flags = [f for f in out.columns if f.startswith("g_")]
        return out.groupBy("gopher_pass").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.count_if(F.col(f)).alias(f) for f in flags])

    def b_gopher_rep(spark, sf_dir):
        # the COMPLETE Gopher repetition table (top-2/3/4 + dup-5..10
        # char fractions + line/para signals, 13 thresholded flags) in
        # one map-only pass. engine="arrow": the r10 verdict's profile
        # showed the 6 s steady state was interpreted Catalyst HOF
        # evaluation (transform/aggregate lambdas run outside codegen,
        # x9 gram arrays per row), not compile; the Arrow kernel
        # computes the same signals bit-identically (parity pinned in
        # tests/test_repetition_full.py) at ~2.5-4x — the JVM engine
        # stays the default for scans that compose this with other
        # quality signals.
        from valkey_search_spark.operators.contamination import (
            gopher_repetition_flags,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = gopher_repetition_flags(docs, engine="arrow")
        return out.groupBy("rep_pass").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.count_if(F.col(c)).alias(c)
              for c in out.columns if c.startswith("g_")])

    def b_span_dedup(spark, sf_dir):
        # Lee-et-al exact-substring span removal: window explode ->
        # gram doc-frequency agg -> verdict join -> interval-merge
        # rebuild. n=4 over the 31-word soup vocabulary yields ~38k
        # duplicated grams / ~83k duplicated windows at sf0.1 — real
        # join and rebuild volume. Correctness is scalar-reference- and
        # randomized-corpus-pinned in tests/test_contamination.py.
        from valkey_search_spark.operators.contamination import (
            exact_substring_dedup,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = exact_substring_dedup(docs, n=4)
        return out.select("doc_id", "tokens_kept", "tokens_dropped",
                          "spans_dropped",
                          F.length("text_deduped").alias("len"))

    _LM: dict = {}

    def b_lm_perplexity(spark, sf_dir):
        # CCNet-style LM quality scoring: score half the corpus against
        # a bigram LM trained on the other half — three broadcast joins
        # + one doc-keyed agg. The trained tables cache across calls
        # (training is the ingest side, like knn_pq's codebook; the
        # tables are cached DataFrames so the broadcast builds from
        # memory). Correctness is scalar-reference- and
        # DuckDB-oracle-pinned in tests/test_lm.py.
        from valkey_search_spark.operators.lm import BigramLM

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _LM:
            lm = BigramLM.train(docs.where("doc_id % 2 = 0"))
            # train() persists the tables; warm them so the timed runs
            # measure scoring, not the one-time materialization
            lm.ctx.count()
            lm.bi.count()
            _LM[sf_dir] = lm
        out = _LM[sf_dir].score(docs.where("doc_id % 2 = 1"))
        return out.select("doc_id", "lm_logprob_per_token",
                          "lm_perplexity")

    def b_bm25(spark, sf_dir):
        # BM25 relevance ranking (beyond-reference: the reference
        # returns text filters unranked): one statistics job + map-only
        # codegen scoring + global top-k. Correctness is
        # scalar-reference- and DuckDB-oracle-pinned in
        # tests/test_ranking.py.
        from valkey_search_spark.operators.ranking import bm25_rank

        docs = load_table(spark, sf_dir, "documents")
        return bm25_rank(docs, ["merge", "window", "sort"],
                         top_k=100).select("doc_id", "bm25_score")

    def b_emb_cosine(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        return dd.embedding_cosine_pairs(emb, "vec_id", threshold=0.4)

    def b_maxsim(spark, sf_dir):
        from valkey_search_spark.operators.late_interaction import (
            maxsim_join,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        docs = (emb.groupBy(F.col("label").alias("did"))
                .agg(F.collect_list("embedding").alias("vecs")))
        queries = (emb.where(F.col("vec_id") < 400)
                   .groupBy((F.col("vec_id") % 80).alias("qid"))
                   .agg(F.collect_list("embedding").alias("vecs")))
        return maxsim_join(queries, docs, k=3, doc_key="did")

    def b_mine_negatives(spark, sf_dir):
        # contrastive-training data step: retrieve, drop labeled
        # positives, margin-filter near-positives, keep k hardest
        from valkey_search_spark.operators.negatives import (
            mine_hard_negatives,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 200).select(
            F.col("vec_id").alias("qid"), "embedding")
        corpus = emb.select(F.col("vec_id").alias("cid"), "embedding")
        positives = queries.select("qid", F.col("qid").alias("cid"))
        return mine_hard_negatives(queries, corpus, positives, k=10,
                                   margin=0.05, metric="cosine")

    def b_and_or(spark, sf_dir):
        return _search(
            "parts",
            "(@p_brand:{Brand#13}|@p_brand:{Brand#42}) @p_size:[20 40]",
            PART_COLS)(spark, sf_dir)

    def b_negation(spark, sf_dir):
        return _search("parts", "-@p_brand:{Brand#13} @p_retailprice:[900 905]",
                       PART_COLS)(spark, sf_dir)

    def b_stream_windowed(spark, sf_dir):
        from valkey_search_spark.streaming.windows import (
            windowed_event_counts,
        )

        ev = load_table(spark, sf_dir, "events")
        return windowed_event_counts(ev, window="1 hour")

    def b_knn_join_bucketed(spark, sf_dir):
        # bench twin of the "bucketed" leg of queries()["knn_join"] —
        # kept standalone so its timing stays name-comparable across
        # rounds (correctness coverage lives in the union row)
        from valkey_search_spark.operators.ann import knn_join_bucketed

        emb = load_table(spark, sf_dir, "embeddings")
        idx = ivf_index(spark, sf_dir)
        queries_df = emb.where(F.col("vec_id") < 500).select(
            F.col("vec_id").alias("qid"), "embedding")
        return knn_join_bucketed(queries_df, idx, k=3, nprobe=idx.n_lists,
                                 corpus_key="vec_id")

    def b_knn_hnsw(spark, sf_dir):
        # HNSW speed path: 500-query batch at beam ef=48 against the
        # segment graphs (recall for this shape is tracked in the bench
        # ann_recall_hnsw sweep; exactness at full ef is the driver row)
        from valkey_search_spark.operators.hnsw import knn_join_hnsw

        emb = load_table(spark, sf_dir, "embeddings")
        idx = hnsw_index(spark, sf_dir)
        queries_df = emb.where(F.col("vec_id") < 500).select(
            F.col("vec_id").alias("qid"), "embedding")
        return knn_join_hnsw(queries_df, idx, k=10, ef=48)

    def b_knn_ivf_partial(spark, sf_dir):
        # partial probe (nprobe = n_lists/4): the speed side of the
        # speed/recall tradeoff the reference headlines; the recall side
        # is measured in bench.py's ann_recall block against the exact
        # full-probe result over a query batch
        idx = ivf_index(spark, sf_dir)
        out = idx.search(QVEC, k=10, nprobe=max(1, idx.n_lists // 4),
                         tiebreak_col="vec_id")
        return out.select(F.col("vec_id").cast("long").alias("vec_id"),
                          F.col("__score").alias("dist"))

    _QC: dict = {}

    def b_quality_model(spark, sf_dir):
        # GPT-3-style model-based quality filter (beyond-reference):
        # linear classifier over hashed token features + deterministic
        # Pareto acceptance. Training is cached per sf_dir (a pipeline
        # trains once, scores forever); the timed path is the map-only
        # JVM scoring scan — correctness pinned in
        # tests/test_quality_model.py (not SQL-expressible: MLlib fit).
        import random

        from valkey_search_spark.operators.quality_model import (
            QualityClassifier, quality_filter,
        )

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _QC:
            rng = random.Random(11)
            gib = spark.createDataFrame(
                [(i, " ".join(
                    "".join(rng.choices("qxzjvkw", k=rng.randint(3, 9)))
                    for _ in range(rng.randint(20, 60))))
                 for i in range(500)], "doc_id long, text string")
            # 15 LBFGS iterations separate clean/gibberish fully at this
            # scale; the default 50 only adds ~35 x 0.3 s of job overhead
            _QC[sf_dir] = QualityClassifier.train(
                docs.where(F.col("doc_id") % 2 == 0), gib,
                num_features=1 << 16, max_iter=15)
        kept = quality_filter(docs, _QC[sf_dir], key="doc_id")
        return kept.select("doc_id",
                           F.round("quality_score", 6).alias("q"))

    def b_semantic_dedup(spark, sf_dir):
        # SemDeDup (beyond-reference LLM-pipeline operator): KMeans
        # cluster assignment + per-cluster greedy-leader cosine pruning.
        # Correctness is scalar-reference-pinned in tests/test_semdedup.py
        # (the greedy leader order is not SQL-expressible).
        from valkey_search_spark.operators.semdedup import (
            semantic_dedup_flags,
        )

        emb = (load_table(spark, sf_dir, "embeddings")
               .select(F.col("vec_id").alias("doc_id"), "embedding"))
        flags = semantic_dedup_flags(emb, threshold=0.95, n_clusters=16,
                                     seed=42, max_iter=5)
        return flags.select("doc_id", "__cluster", "__keep")

    _BPE: dict = {}

    def b_bpe_tokenize(spark, sf_dir):
        # corpus-trained byte-level BPE (beyond-reference): training is
        # the one-time ingest side (cached per sf_dir, like knn_pq's
        # codebook); the timed path is the Arrow-batched distributed
        # tokenize+count with broadcast merge ranks. Correctness is
        # brute-force- and round-trip-pinned in tests/test_bpe.py (a
        # merge loop is not SQL-expressible).
        from valkey_search_spark.functions.bpe import train_bpe

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _BPE:
            _BPE[sf_dir] = train_bpe(docs, vocab_size=256 + 512)
        out = _BPE[sf_dir].token_count(docs)
        return out.select("doc_id", "bpe_token_count")

    _WP: dict = {}

    def b_wordpiece_tokenize(spark, sf_dir):
        # corpus-trained WordPiece (the BERT family, next to BPE and
        # unigram): training cached per sf_dir; the timed path is the
        # Arrow tokenize+count with one vocab broadcast (trainer and
        # round-trip pinned in tests/test_wordpiece.py)
        from valkey_search_spark.functions.wordpiece import train_wordpiece

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _WP:
            _WP[sf_dir] = train_wordpiece(docs, vocab_size=512 + 512)
        out = _WP[sf_dir].token_count(docs)
        return out.select("doc_id", "wordpiece_token_count")

    _UNIGRAM: dict = {}

    def b_unigram_tokenize(spark, sf_dir):
        # corpus-trained unigram-LM (SentencePiece-style) — same cached
        # train-side posture as tokenizer_bpe; the timed path is the
        # Arrow-batched Viterbi tokenize with the vocab broadcast.
        # Optimality/EM/round-trip pinned in tests/test_unigram.py.
        from valkey_search_spark.functions.unigram import train_unigram

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _UNIGRAM:
            _UNIGRAM[sf_dir] = train_unigram(docs, vocab_size=512,
                                             max_piece_len=6)
        out = _UNIGRAM[sf_dir].token_count(docs)
        return out.select("doc_id", "unigram_token_count")

    def b_html_extract(spark, sf_dir):
        # HTML -> text extraction (beyond-reference web-corpus ingest):
        # markup synthesized around the real documents (word soup has no
        # tags), then the full all-JVM chain: subtree drop, tag strip,
        # entity decode, title, link density. Map-only codegen scan —
        # correctness pinned against stdlib html.parser in
        # tests/test_html.py.
        from valkey_search_spark.operators.html import extract_documents

        docs = load_table(spark, sf_dir, "documents")
        toks = F.split(F.col("text"), " ")
        pages = docs.select("doc_id", F.concat(
            F.lit("<html><head><title>t &amp; t</title><script>var x=1;"
                  "</script></head><body><h1>"),
            F.array_join(F.slice(toks, 1, 3), " "),
            F.lit("</h1><p>"), F.col("text"),
            F.lit('</p><div class="nav"><a href="/a">a</a>'
                  '<a href="/b">b</a></div><!-- c --></body></html>')
        ).alias("html"))
        out = extract_documents(pages)
        return out.select("doc_id", F.length("text").alias("len"),
                          "title", F.round("link_density", 6).alias("ld"))

    _DSIR: dict = {}

    def b_dsir_select(spark, sf_dir):
        # DSIR importance resampling (beyond-reference): fit is the
        # cached ingest side (two bounded bucket aggregations); the
        # timed path is score (one Arrow map) + Gumbel top-k.
        # Correctness is scalar-recomputation-pinned in
        # tests/test_dsir.py.
        from valkey_search_spark.operators.dsir import dsir_fit, dsir_sample

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _DSIR:
            _DSIR[sf_dir] = dsir_fit(docs.where("lang = 'en'"), docs,
                                     n_buckets=8192)
        out = dsir_sample(docs, _DSIR[sf_dir], n=1000, key_col="doc_id",
                          temperature=1.0, seed=7)
        return out.select("doc_id", F.round("dsir_logratio", 6).alias("s"))

    def b_chunking(spark, sf_dir):
        # fixed-token-window chunking with overlap: one map-only
        # posexplode, split() staged once per doc (DuckDB-oracle +
        # plan-pinned in tests/test_chunking.py). References every
        # produced column so pruning can't skip the window build.
        from valkey_search_spark.operators.chunking import chunk_documents

        docs = load_table(spark, sf_dir, "documents")
        out = chunk_documents(docs, chunk_tokens=64, overlap=16)
        return out.select("doc_id", "chunk_idx", "token_start",
                          "chunk_tokens_n",
                          F.length("chunk_text").alias("clen"))

    def b_sketch_overlap(spark, sf_dir):
        # KMV bottom-k gram sketches for both corpus halves in one
        # pipeline: HLL pass + threshold-filtered bottom-k collect —
        # the shuffle carries ~margin*k rows per group, not the grams
        # (exactness + estimator bounds pinned in tests/test_sketches.py)
        from valkey_search_spark.operators.contamination import gram_set
        from valkey_search_spark.operators.sketches import kmv_sketch

        docs = load_table(spark, sf_dir, "documents")
        grams = (gram_set(docs, "doc_id", "text", 13, "__k")
                 .select((F.col("__k") % 2).alias("half"), "__gram"))
        out = kmv_sketch(grams, "__gram", "half", k=4096)
        return out.select("half", F.size("kmv").alias("k_held"),
                          "approx_distinct", "filtered", "underfull")

    def b_asof_join(spark, sf_dir):
        # point-in-time join: purchases pick up the latest per-user
        # signup state — union + one keyed window, no range explosion
        # (DuckDB ASOF-JOIN-pinned in tests/test_temporal.py)
        from valkey_search_spark.operators.temporal import asof_join

        ev = load_table(spark, sf_dir, "events")
        left = ev.where("event_type = 'purchase'") \
            .select("event_id", "ts", "user_id", "value")
        right = ev.where("event_type = 'signup'") \
            .select("ts", "user_id", F.col("value").alias("sig_value"))
        out = asof_join(left, right, on="ts", by="user_id",
                        tolerance="2 hours")
        return out.select("event_id", "r_ts", "r_sig_value")

    def b_heavy_hitters(spark, sf_dir):
        # Misra-Gries top-k corpus tokens: per-partition bounded
        # summaries (<= summary_size rows out each), candidate-set
        # groupBy, exact semi-join recount — the distinct-token set
        # never shuffles (bounds pinned in tests/test_sketches.py)
        from valkey_search_spark.operators.sketches import heavy_hitters

        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        out = heavy_hitters(toks, "tok", k=20, summary_size=1024,
                            exact_recount=True)
        return out.select("item", "count_lb", "count_ub", "count")

    def b_stratified_sample(spark, sf_dir):
        # exact-N-per-group reproducible sample: one window shuffle,
        # hash-order rank (exactness + determinism pinned in
        # tests/test_sampling.py)
        from valkey_search_spark.operators.sampling import stratified_sample

        ev = load_table(spark, sf_dir, "events")
        out = stratified_sample(ev, by="event_type", n_per_group=500)
        return out.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sv"))

    def b_scd2_intervals(spark, sf_dir):
        # change events -> validity intervals (one keyed window), then
        # the intervals answer a point-in-time probe via interval_join
        # (asof-agreement pinned in tests/test_temporal.py)
        from valkey_search_spark.operators.temporal import (
            interval_join, scd2_intervals)

        ev = load_table(spark, sf_dir, "events")
        # horizon just past the data: a far-future horizon would explode
        # the open interval into horizon/bin_width bin rows
        horizon = F.to_timestamp(F.lit("2024-02-01"))
        dim = scd2_intervals(
            ev.where("event_type = 'signup'")
              .select("ts", "user_id", F.col("value").alias("sv")),
            key="user_id")
        closed = dim.select("user_id", "sv", "valid_from",
                            F.coalesce("valid_to", horizon).alias("valid_to"))
        probes = ev.where("event_type = 'purchase'") \
            .select("event_id", "ts", "user_id")
        out = interval_join(probes, closed, by="user_id",
                            start="valid_from", end="valid_to",
                            bin_width=86400)
        return out.select("event_id", F.round("sv", 4).alias("sv"))

    _HEMB: dict = {}

    def b_hybrid_rrf(spark, sf_dir):
        # hybrid search: BM25 text run + hashed-embedding cosine KNN
        # run fused by reciprocal rank — one window shuffle ranks both
        # runs, one (qid, doc) aggregation fuses them, then MMR
        # diversifies the top of the fused list (oracle + scalar pins
        # in tests/test_fusion.py). The embedding frame is cached like
        # the other train-side artifacts (_PQ/_DSIR): a corpus's
        # embedding column is written once and read by every hybrid
        # query, so the timed path measures steady-state serving —
        # otherwise three consumers (corpus broadcast, candidate fetch,
        # final DAG) each recompute HashingTF over the corpus
        from valkey_search_spark.operators.ann import knn_join
        from valkey_search_spark.operators.fusion import mmr_select, rrf_fuse
        from valkey_search_spark.operators.ranking import bm25_rank
        from valkey_search_spark.operators.textops import hashed_embeddings

        from valkey_search_spark.operators.ranking import bm25_corpus_stats

        docs = load_table(spark, sf_dir, "documents")
        if sf_dir not in _HEMB:
            emb = hashed_embeddings(docs, text_col="text", dim=256) \
                .select("doc_id", "embedding").cache()
            _HEMB[sf_dir] = (emb, emb.count(),
                             bm25_corpus_stats(docs, text_col="text"))
        emb, n_corpus, bm_stats = _HEMB[sf_dir]
        text_run = bm25_rank(docs, ["spark", "stream", "window"],
                             key="doc_id", text_col="text", top_k=100,
                             corpus_stats=bm_stats) \
            .select(F.lit("q0").alias("qid"), "doc_id",
                    F.col("bm25_score").alias("score"))
        qvec = emb.orderBy("doc_id").limit(1) \
            .select(F.col("doc_id").alias("qid"), "embedding")
        knn_run = knn_join(qvec, emb, k=100, corpus_key="doc_id",
                           metric="cosine",
                           corpus_size_hint=(n_corpus, 256)) \
            .select(F.lit("q0").alias("qid"), "doc_id",
                    (-F.col("distance")).alias("score"))
        fused = rrf_fuse({"bm25": text_run, "knn": knn_run}, k=60,
                         top_n=50)
        cands = fused.join(emb, "doc_id") \
            .select("qid", "doc_id", F.col("rrf_score").alias("score"),
                    "embedding")
        return mmr_select(cands, k=10, lam=0.7, pool=50)

    def b_sessionize_funnel(spark, sf_dir):
        # event analytics: gap sessionization (one keyed window) feeds
        # per-session stats; the funnel fold runs on the same scan
        # (DuckDB-CTE-pinned in tests/test_events.py)
        from valkey_search_spark.operators.events import funnel, sessionize

        ev = load_table(spark, sf_dir, "events")
        sess = sessionize(ev, gap="30 minutes") \
            .groupBy("session_id").agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sv"))
        sess_stats = sess.agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("n"), 6).alias("avg_events"),
            F.round(F.avg("sv"), 4).alias("avg_value"))
        fn = funnel(ev, ["signup", "view", "purchase"]) \
            .agg(F.count("*").alias("n_sessions"),
                 F.round(F.sum("n_users"), 6).alias("avg_events"),
                 F.round(F.sum("conversion"), 4).alias("avg_value"))
        return sess_stats.unionByName(fn)

    def b_bitext(spark, sf_dir):
        # margin-based parallel-pair mining between the two halves of
        # the embeddings table: two knn_joins + density aggregates +
        # mutual-best semi-join (scalar-margin-pinned in
        # tests/test_bitext.py)
        from valkey_search_spark.operators.bitext import mine_bitext

        emb = load_table(spark, sf_dir, "embeddings")
        src = emb.where("vec_id % 2 = 0") \
            .select(F.col("vec_id").alias("src_id"), "embedding")
        tgt = emb.where("vec_id % 2 = 1") \
            .select(F.col("vec_id").alias("tgt_id"), "embedding")
        out = mine_bitext(src, tgt, k=4, min_margin=1.0)
        return out.select("src_id", "tgt_id",
                          F.round("margin", 6).alias("m"))

    def b_expectations(spark, sf_dir):
        # pre-publish data-quality gate: five constraints + a PSI drift
        # probe between corpus halves, checks in one aggregation pass
        # (DuckDB-pinned in tests/test_expectations.py)
        from valkey_search_spark.operators.expectations import (
            Expect, check_expectations, psi_drift)

        docs = load_table(spark, sf_dir, "documents")
        checks = check_expectations(docs, [
            Expect("null_fraction", "text", max_null_fraction=0.0),
            Expect("unique", "doc_id"),
            Expect("bounds", "n_chars", lo=0, hi=10_000_000),
            Expect("in_set", "lang",
                   allowed=["en", "de", "fr", "es", "zh"]),
            Expect("row_count", min_rows=1),
        ]).select("name", "passed",
                  F.round("observed", 6).alias("observed"))
        drift = psi_drift(docs.where("doc_id % 2 = 0"),
                          docs.where("doc_id % 2 = 1"),
                          ["n_chars", "lang"]) \
            .select(F.col("column").alias("name"),
                    (F.col("psi") < 0.1).alias("passed"),
                    F.round("psi", 6).alias("observed"))
        return checks.unionByName(drift)

    def b_resample(spark, sf_dir):
        # per-user hourly grid with forward fill: one agg + per-key
        # sequence explode + one fill window (DuckDB-pinned in
        # tests/test_diff.py)
        from valkey_search_spark.operators.diff import resample

        ev = load_table(spark, sf_dir, "events")
        out = resample(ev, every=3600,
                       agg={"value": "sum", "event_id": "count"},
                       fill="ffill")
        return out.groupBy("user_id").agg(
            F.count("*").alias("cells"),
            F.round(F.sum("sum_value"), 4).alias("sv"))

    _ZPATH: dict = {}

    def b_zorder_scan(spark, sf_dir):
        # box query over a Z-order-clustered copy of events (layout
        # written once, like the other build-side artifacts): parquet
        # min/max pruning + the clustering concentrate matching rows
        # in few files (file-concentration pinned in tests/test_layout.py)
        from valkey_search_spark.sources.layout import write_zordered

        if sf_dir not in _ZPATH:
            ev = load_table(spark, sf_dir, "events")
            path = f"/tmp/valkey_z_{os.path.basename(sf_dir.rstrip('/'))}"
            write_zordered(ev, path, ["user_id", "value"], n_files=32)
            _ZPATH[sf_dir] = path
        z = spark.read.parquet(_ZPATH[sf_dir])
        out = z.where((F.col("user_id") >= 100) & (F.col("user_id") < 200)
                      & (F.col("value") >= 50.0) & (F.col("value") < 80.0))
        return out.groupBy("event_type").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sv"))

    def b_ir_metrics(spark, sf_dir):
        # IR quality metrics over a 100k-row synthetic result log:
        # rank window + qrels join + two aggregations, no Python
        # (DuckDB-recomputation-pinned in tests/test_evaluation.py)
        from valkey_search_spark.operators.evaluation import ir_summary

        ev = load_table(spark, sf_dir, "events")
        results = ev.select(F.col("user_id").alias("qid"),
                            F.col("event_id").alias("doc_id"),
                            F.col("value").alias("score"))
        qrels = ev.where("event_type = 'purchase'").select(
            F.col("user_id").alias("qid"),
            F.col("event_id").alias("doc_id"),
            F.lit(1).alias("grade"))
        return ir_summary(results, qrels, k=10)

    def b_corpus_profile(spark, sf_dir):
        # dataset-card statistics as ONE grouping-sets aggregation
        # (single Expand + shuffle — the plan is pinned in
        # tests/test_profile.py, counts DuckDB-oracle-pinned there)
        from valkey_search_spark.operators.profile import corpus_profile

        docs = load_table(spark, sf_dir, "documents")
        return corpus_profile(docs)

    def b_clean_text(spark, sf_dir):
        # Unicode cleanup JVM tier + the mojibake probe: pure regexp
        # codegen, map-only (scalar-reference-pinned in
        # tests/test_cleaning.py). References the cleaned length AND
        # the probe so pruning can't drop either chain.
        from valkey_search_spark.operators.cleaning import (
            clean_text, mojibake_marker_count,
        )

        docs = load_table(spark, sf_dir, "documents")
        out = clean_text(docs, out_col="clean")
        return out.select(
            "doc_id", F.length("clean").alias("clean_len"),
            mojibake_marker_count(F.col("text")).alias("moji"))

    def b_sentences(spark, sf_dir):
        # abbreviation-aware sentence explode: one codegen split + one
        # map-only posexplode (scalar-reference-pinned in
        # tests/test_sentences.py). Sentences are synthesized by
        # punctuating the word soup every 8 tokens so the splitter has
        # real boundaries.
        from valkey_search_spark.operators.textops import split_sentences

        docs = load_table(spark, sf_dir, "documents")
        toks = F.split(F.col("text"), " ")
        sent_text = F.array_join(
            F.transform(
                F.sequence(F.lit(0),
                           ((F.size(toks) - 1) / 8).cast("int")),
                lambda i: F.concat(
                    F.initcap(F.array_join(
                        F.slice(toks, i * 8 + 1, 8), " ")),
                    F.lit("."))), " ")
        pun = docs.select("doc_id", sent_text.alias("text"))
        out = split_sentences(pun)
        return out.select("doc_id", "sent_idx",
                          F.length("sentence").alias("slen"))

    def b_warc_ingest(spark, sf_dir):
        # crawl front door: WARC archive (per-record gzip members, the
        # Common Crawl layout) -> response records -> HTML extraction.
        # The archive is a build-once artifact (warc_archive_dir,
        # shared with the warc_extract_clean driver row); the timed
        # path is parse + extract. Forward-writer-pinned in
        # tests/test_warc.py
        from valkey_search_spark.operators.html import extract_documents
        from valkey_search_spark.sources.warc import warc_html_documents

        docs = warc_html_documents(spark, warc_archive_dir(spark, sf_dir))
        return extract_documents(docs, html_col="html").select(
            "url", F.length("text").alias("text_len"), "title",
            F.round("link_density", 4).alias("ld"))

    def b_c4_lines(spark, sf_dir):
        # C4 line filters: one map-only codegen scan (scalar-reference
        # pinned in tests/test_c4.py). Lines synthesized by wrapping
        # the word soup every 9 tokens with terminal punctuation on
        # ~2/3 of them so both rule outcomes occur.
        from valkey_search_spark.operators.c4 import c4_line_flags

        docs = load_table(spark, sf_dir, "documents")
        # stage the split BEFORE the lambda: a captured expression
        # re-evaluates per array element (the documented trap) and
        # would make the synthesis quadratic in document length
        staged = docs.withColumn("__toks", F.split(F.col("text"), " "))
        toks = F.col("__toks")
        lined = staged.select("doc_id", F.array_join(F.transform(
            F.sequence(F.lit(0), ((F.size(toks) - 1) / 9).cast("int")),
            lambda i: F.concat(
                F.array_join(F.slice(toks, i * 9 + 1, 9), " "),
                F.when(i % 3 != 2, F.lit(".")).otherwise(F.lit("")))),
            "\n").alias("text"))
        out = c4_line_flags(lined)
        return out.select("doc_id", "c4_lines_kept", "c4_lines_total",
                          "c4_keep_page",
                          F.length("text_c4").alias("clen"))

    _ROBOTS: dict = {}

    def b_robots_gate(spark, sf_dir):
        # crawl-compliance gate: broadcast host-rules join + Arrow
        # verdict map (RFC-semantics pinned in tests/test_robots.py).
        # Rules parse once (cached artifact); urls synthesized with
        # four path shapes so every rule kind evaluates.
        from valkey_search_spark.operators.robots import (parse_robots,
                                                          robots_gate)

        if sf_dir not in _ROBOTS:
            robots = spark.createDataFrame(
                [(f"site{i}.example.com",
                  "User-agent: *\nDisallow: /private\n"
                  "Allow: /private/ok\nDisallow: /*.json$\n")
                 for i in range(200)], "host string, robots_txt string")
            _ROBOTS[sf_dir] = parse_robots(robots).cache()
            _ROBOTS[sf_dir].count()
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        d = F.col("doc_id")
        urls = docs.select("doc_id", F.concat(
            F.lit("https://site"), (d % 300).cast("string"),
            F.lit(".example.com"),
            F.element_at(F.array(F.lit("/public/x"), F.lit("/private/y"),
                                 F.lit("/private/ok/z"),
                                 F.lit("/data/f.json")),
                         (d % 4 + 1).cast("int"))).alias("url"))
        return robots_gate(urls, _ROBOTS[sf_dir]).select("doc_id")

    _CDX: dict = {}

    def b_warc_cdx_fetch(spark, sf_dir):
        # the selective-reprocessing path: CDX index built once (the
        # pay-once artifact, like _PQ/_ZPATH), the timed path filters
        # the index to ~5% of captures and seek+reads exactly those
        # records. Byte-range fidelity pinned in tests/test_warc.py.
        from valkey_search_spark.sources.warc import (fetch_warc_records,
                                                      index_warc)

        wdir = warc_archive_dir(spark, sf_dir)
        if sf_dir not in _CDX:
            p = f"/tmp/valkey_cdx_{os.path.basename(sf_dir.rstrip('/'))}"
            index_warc(spark, wdir) \
                .write.mode("overwrite").parquet(p)
            _CDX[sf_dir] = p
        idx = spark.read.parquet(_CDX[sf_dir])
        sel = idx.where(F.abs(F.xxhash64("url")) % 20 == 0)
        out = fetch_warc_records(spark, sel)
        return out.select("target_uri",
                          F.length("payload").alias("nbytes"))

    def b_pagerank(spark, sf_dir):
        # domain-ranking capstone: synthesized pages with real anchors
        # -> JVM href extract + resolve -> domain graph (one agg) ->
        # 8 power-iteration rounds with in-plan dangling correction and
        # per-round lineage cuts (numpy-reference-pinned in
        # tests/test_graph.py)
        from valkey_search_spark.operators.graph import (
            domain_link_graph, extract_links, pagerank,
        )

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        d = F.col("doc_id")
        # distinct REGISTRABLE domains (siteN.com) — a shared
        # parent (siteN.example.com) would collapse every edge into one
        # intra-domain self-link and empty the graph
        page_url = F.concat(F.lit("https://www.site"),
                            (d % 100).cast("string"),
                            F.lit(".com/p/"), d.cast("string"))
        anchors = F.concat(*[
            F.concat(F.lit('<a href="https://site'),
                     ((d * k + k) % 100).cast("string"),
                     F.lit('.com/x">l</a>'))
            for k in (3, 7, 11)])
        pages = docs.select(
            page_url.alias("url"),
            F.concat(F.lit("<html><body>"), anchors,
                     F.lit("</body></html>")).alias("html"))
        g = domain_link_graph(extract_links(pages))
        # 4 rounds / cut every 2: the bench tracks per-round cost (the
        # convergence run is the numpy-pinned pytest's job)
        return pagerank(g, weight="n_links", n_iter=4,
                        checkpoint_every=2) \
            .orderBy(F.col("rank").desc(), "node").limit(20)

    def b_url_dedup(spark, sf_dir):
        # URL-canonicalization dedup (the C4/RefinedWeb front door) —
        # shares the driver row's planted synthesis (_synth_urls);
        # DuckDB-oracle-pinned there and in tests/test_urlops.py
        from valkey_search_spark.operators.urlops import url_dedup

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        return url_dedup(_synth_urls(docs), "doc_id")

    def b_dedup_exact(spark, sf_dir):
        # standalone exact-dedup timing row (its driver-slot twin,
        # the dedup_ngram_jaccard union, rotated out to bench in r9)
        docs = load_table(spark, sf_dir, "documents")
        return dd.exact_dedup(docs, "doc_id")

    def b_ngram_jaccard(spark, sf_dir):
        # n-gram Jaccard near-dup pairs (rotated out of the driver in
        # r9; timing row restored in r10 — its banded candidate-join +
        # exact-verify shape is distinct from minhash/simhash):
        # DuckDB-pinned in tests/test_dedup.py
        docs = load_table(spark, sf_dir, "documents")
        return dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.3) \
            .select("a", "b", F.round("jaccard", 6).alias("jaccard"))

    def b_curation_pipeline(spark, sf_dir):
        # composed quality+dedup curation (rotated out of the driver in
        # r10 after 8 green rounds; stage-level hash coverage lives in
        # text_analysis / quality_expectations / the dedup rows):
        # end-to-end shape keeps its timing here, oracle in
        # tests/test_pipeline.py
        from valkey_search_spark.operators.pipeline import (
            CurationConfig, curate_documents,
        )

        docs = load_table(spark, sf_dir, "documents")
        clean, _ = curate_documents(docs, with_funnel=False,
                                    config=CurationConfig(
            min_quality=0.5, min_tokens=10, near_dup_threshold=None))
        return clean.select("doc_id")

    def b_maxsim_score(spark, sf_dir):
        return queries()["maxsim_score"](spark, sf_dir)

    def b_corpus_diversity(spark, sf_dir):
        # corpus-level distinct-n / cross-doc overlap / entropy (the
        # synthetic-data curation report; DuckDB-pinned in
        # tests/test_diversity.py)
        from valkey_search_spark.operators.textops import diversity_metrics

        docs = load_table(spark, sf_dir, "documents")
        return diversity_metrics(docs)

    def b_profile_tdigest(spark, sf_dir):
        # mergeable t-digest distribution profile: per-lang doc-length
        # digests + named percentiles (the incremental corpus-profile
        # step; DuckDB quantile_cont-pinned exact regime in
        # tests/test_quantiles.py)
        from valkey_search_spark.operators.quantiles import (
            tdigest_quantiles, tdigest_sketch,
        )

        docs = load_table(spark, sf_dir, "documents")
        sk = tdigest_sketch(docs, "n_chars", group_col="lang",
                            compression=200)
        return tdigest_quantiles(
            sk, {"p01": 0.01, "p50": 0.5, "p99": 0.99})

    def b_fuzzy_decontaminate(spark, sf_dir):
        # whole-document fuzzy contamination: every 7th doc is the
        # benchmark; flags ride the asymmetric LSH (benchmark = small
        # side); exact-Jaccard-verified in tests/test_fuzzy_decontaminate
        from valkey_search_spark.operators.contamination import (
            fuzzy_decontaminate,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        bench = (docs.where("doc_id % 7 = 0")
                 .select(F.col("doc_id").alias("bid"),
                         F.col("text").alias("btext")))
        return fuzzy_decontaminate(docs, bench, benchmark_key="bid",
                                   benchmark_text_col="btext",
                                   threshold=0.9).where("contaminated")

    return {
        # single-form twins of the consolidated driver-union rows, kept
        # here so bench timings stay name-comparable round-over-round
        "dedup_exact": b_dedup_exact,
        "dedup_ngram_jaccard": b_ngram_jaccard,
        "curation_pipeline": b_curation_pipeline,
        "maxsim_score": b_maxsim_score,
        "hygiene_fuzzy_decontaminate": b_fuzzy_decontaminate,
        "corpus_diversity": b_corpus_diversity,
        "profile_tdigest": b_profile_tdigest,
        "text_term": _search("parts", "widget", ["p_partkey", "p_name"]),
        "text_term_stem": _search("docs", "tables", DOC_COLS),
        "text_proximity": _search("docs", "batch stream", DOC_COLS,
                                  slop=1, inorder=True),
        "agg_events_time": _agg(
            "events", "*",
            'APPLY "hour(@ts)" AS h GROUPBY 1 @h REDUCE COUNT 0 AS n '
            "SORTBY 2 @h ASC"),
        "text_proximity_3term": _search("docs", "batch stream window",
                                        DOC_COLS, slop=2, inorder=True),
        "text_proximity_5term": _search(
            "docs", "batch stream window sort merge", DOC_COLS, slop=10),
        "hygiene_decontaminate": b_decontaminate,
        "agg_tpch_q6": b_tpch_q6,
        "hygiene_pii_repetition": b_pii_repetition,
        "knn_pq": b_knn_pq,
        "knn_binary": b_knn_binary,
        "knn_join_flipped": b_knn_join_flipped,
        "knn_binary_flipped": b_knn_binary_flipped,
        "export_webdataset": b_export_webdataset,
        "knn_ivf_partial": b_knn_ivf_partial,
        "knn_join_bucketed": b_knn_join_bucketed,
        "knn_hnsw": b_knn_hnsw,
        "and_or": b_and_or,
        "negation": b_negation,
        "stream_windowed_counts": b_stream_windowed,
        "dedup_embedding_cosine": b_emb_cosine,
        "search_maxsim_wide": b_maxsim,
        "mine_negatives": b_mine_negatives,
        "hygiene_line_dedup": b_line_dedup,
        "hygiene_gopher": b_gopher,
        "hygiene_gopher_repetition": b_gopher_rep,
        "hygiene_span_dedup": b_span_dedup,
        "hygiene_lm_perplexity": b_lm_perplexity,
        "search_bm25": b_bm25,
        "dedup_semantic": b_semantic_dedup,
        "hygiene_quality_model": b_quality_model,
        "tokenizer_bpe": b_bpe_tokenize,
        "tokenizer_unigram": b_unigram_tokenize,
        "hygiene_html_extract": b_html_extract,
        "dsir_select": b_dsir_select,
        "corpus_profile": b_corpus_profile,
        "chunking": b_chunking,
        "sketch_overlap": b_sketch_overlap,
        "asof_join": b_asof_join,
        "sketch_heavy_hitters": b_heavy_hitters,
        "sample_stratified": b_stratified_sample,
        "temporal_scd2": b_scd2_intervals,
        "eval_ir_metrics": b_ir_metrics,
        "search_hybrid_rrf": b_hybrid_rrf,
        "layout_zorder_scan": b_zorder_scan,
        "events_session_funnel": b_sessionize_funnel,
        "quality_expectations": b_expectations,
        "mine_bitext": b_bitext,
        "tokenizer_wordpiece": b_wordpiece_tokenize,
        "events_resample": b_resample,
        "hygiene_url_dedup": b_url_dedup,
        "graph_pagerank": b_pagerank,
        "ingest_warc_extract": b_warc_ingest,
        "hygiene_clean_text": b_clean_text,
        "text_sentences": b_sentences,
        "ingest_warc_cdx_fetch": b_warc_cdx_fetch,
        "hygiene_robots_gate": b_robots_gate,
        "hygiene_c4_lines": b_c4_lines,
    }


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    def _part_union(*pairs):
        return " UNION ALL ".join(
            "SELECT p_partkey, p_brand, p_retailprice,"
            f" '{form}' AS form FROM part WHERE {where}"
            for form, where in pairs)

    o["tag_match_prefix"] = _part_union(
        ("exact", "p_brand IN ('Brand#13','Brand#42')"),
        ("prefix", "p_brand LIKE 'Brand#1%'"))
    o["numeric_ranges"] = _part_union(
        ("closed", "p_retailprice BETWEEN 905 AND 915"),
        ("exclusive", "p_retailprice > 905 AND p_retailprice < 915"),
        ("halfopen", "p_retailprice >= 910"),
        ("params", "p_brand = 'Brand#13' AND p_retailprice BETWEEN 900 AND 910"))
    o["bool_algebra"] = _part_union(
        ("and_or", "p_brand IN ('Brand#13','Brand#42')"
                   " AND p_size BETWEEN 20 AND 40"),
        ("negation", "p_brand <> 'Brand#13'"
                     " AND p_retailprice BETWEEN 900 AND 905"))

    W = "[^a-z0-9]"
    # verbatim matches only the literal token; the stemmed twin of the
    # same query also matches plural forms etc. — both legs assert the
    # VERBATIM toggle routes around stem expansion
    o["text_term_forms"] = (
        "SELECT CAST(p_partkey AS VARCHAR) AS k, p_name AS v,"
        " 'term' AS form FROM part"
        f" WHERE regexp_matches(p_name, '(^|{W})widget({W}|$)')"
        " UNION ALL SELECT CAST(doc_id AS VARCHAR), source, 'stem'"
        f" FROM documents WHERE regexp_matches(text, '(^|{W})tables?({W}|$)')"
        " UNION ALL SELECT CAST(doc_id AS VARCHAR), source, 'verbatim'"
        f" FROM documents WHERE regexp_matches(text, '(^|{W})table({W}|$)')"
        " UNION ALL SELECT CAST(doc_id AS VARCHAR), source, 'stemmed'"
        f" FROM documents WHERE regexp_matches(text, '(^|{W})tables?({W}|$)')"
        " UNION ALL SELECT CAST(p_partkey AS VARCHAR), p_name, 'field_group'"
        f" FROM part WHERE regexp_matches(p_name,"
        f" '(^|{W})(widget|bolt)({W}|$)')")
    o["text_affixes"] = (
        "SELECT CAST(doc_id AS VARCHAR) AS k, source AS v, 'prefix' AS form"
        f" FROM documents WHERE regexp_matches(text, '(^|{W})win')"
        " UNION ALL SELECT CAST(p_partkey AS VARCHAR), p_name, 'suffix'"
        f" FROM part WHERE regexp_matches(p_name, 'get({W}|$)')"
        " UNION ALL SELECT CAST(doc_id AS VARCHAR), source, 'infix'"
        " FROM documents WHERE text LIKE '%art%'")
    # phrase/proximity positions skip stop words (search-data-formats.md),
    # so the oracle works over the stopword-filtered token list
    _toks = (f"WITH toks AS (SELECT doc_id, source, list_filter("
             f"string_split(text,' '), x -> x NOT IN {_SW_SQL}) AS t"
             " FROM documents)")
    o["text_phrase"] = (
        f"{_toks} SELECT doc_id, source, 'plain' AS form FROM toks"
        " WHERE len(list_filter(range(1, len(t)),"
        " i -> t[i]='batch' AND t[i+1]='stream')) > 0"
        " UNION ALL"
        " SELECT doc_id, source, 'wild' AS form FROM toks"
        " WHERE len(list_filter(range(1, len(t)),"
        " i -> t[i]='batch' AND starts_with(t[i+1],'str'))) > 0")
    o["text_fuzzy"] = _doc_where(
        "EXISTS (SELECT 1 FROM unnest(string_split(text, ' ')) AS u(tok)"
        " WHERE levenshtein(tok, 'windo') <= 1)")
    # proximity-variant union (matches queries()["text_proximity_multi"]):
    #  2term: the old text_proximity row (SLOP 1 + INORDER), folded in.
    #  stem: "tables streaming" stems to table/stream; corpus holds only
    #   the base forms, so match those at |i-j| <= 2 in either order.
    #  inorder: ordering only, unbounded span.
    #  3term: strict INORDER slop=2 — exists i<j<l chain with span
    #   l-i <= slop+k-1 = 4 (inner loops W-bounded, not O(n^3)).
    #  5term: unordered slop=10 — a qualifying combo exists iff some
    #   matched position i (the combo's minimum) has every word within
    #   [i, i+slop+k-1] = [i, i+14], the same window characterization the
    #   engine's k-slot JVM path uses.
    _w5_conds = " AND ".join(
        f"len(list_filter(range(i, least(i+14, len(t))+1),"
        f" j -> t[j]='{w}'))>0"
        for w in ["batch", "stream", "window", "sort", "merge"])
    o["text_proximity_multi"] = (
        f"{_toks} SELECT doc_id, source, '2term' AS form FROM toks"
        " WHERE len(list_filter("
        "range(1, len(t)), i -> t[i]='batch'"
        " AND (t[i+1]='stream' OR t[i+2]='stream'))) > 0"
        " UNION ALL SELECT doc_id, source, 'stem' FROM toks"
        " WHERE len(list_filter("
        "range(1, len(t) + 1), i -> (t[i]='table'"
        " AND (t[i+1]='stream' OR t[i+2]='stream'))"
        " OR (t[i]='stream' AND (t[i+1]='table' OR t[i+2]='table')))) > 0"
        " UNION ALL SELECT doc_id, source, 'inorder' FROM toks"
        " WHERE list_contains(t, 'window') AND list_contains(t, 'sort')"
        " AND list_position(t, 'window')"
        "  < len(t) - list_position(list_reverse(t), 'sort') + 1"
        " UNION ALL SELECT doc_id, source, '3term' FROM toks WHERE"
        " len(list_filter(range(1, len(t)+1), i ->"
        " t[i]='batch' AND len(list_filter(range(i+1, least(i+4, len(t))+1),"
        " j -> t[j]='stream' AND len(list_filter("
        "range(j+1, least(i+4, len(t))+1),"
        " l -> t[l]='window')) > 0)) > 0)) > 0"
        " UNION ALL SELECT doc_id, source, '5term' FROM toks WHERE"
        " len(list_filter(range(1, len(t)+1), i ->"
        " t[i] IN ('batch','stream','window','sort','merge')"
        f" AND {_w5_conds})) > 0"
        " UNION ALL SELECT doc_id, source, 'and_numeric' FROM documents"
        f" WHERE regexp_matches(text, '(^|{W})vector({W}|$)')"
        " AND n_chars >= 300")
    # fieldless search over the 50 sliced TEXT fields == the word appears
    # at raw token position <= 54 (field i covers tokens i+1..i+5,
    # i = 0..49); the sentinel lives in field0 for doc_id % 10 == 0
    o["text_field_explosion"] = (
        "WITH raw AS (SELECT doc_id, string_split(text,' ') AS t"
        " FROM documents)"
        " SELECT doc_id, 'fieldless' AS form FROM raw"
        " WHERE len(list_filter(range(1, least(54, len(t))+1),"
        " p -> t[p]='merge')) > 0"
        " UNION ALL SELECT doc_id, 'sentinel' FROM documents"
        " WHERE doc_id % 10 = 0")

    o["agg_q1"] = (
        "SELECT l_returnflag, l_linestatus, CAST(count(*) AS DOUBLE) AS n,"
        " sum(l_quantity) AS sum_qty,"
        " ROUND(avg(l_discount), 6) + 0.0 AS avg_disc,"
        " ROUND(sum(l_extendedprice*(1-l_discount)), 2) + 0.0 AS revenue,"
        " min(l_extendedprice) AS min_p, max(l_extendedprice) AS max_p,"
        " ROUND(stddev_samp(l_quantity), 4) + 0.0 AS sd_qty,"
        " CAST(count(DISTINCT l_quantity) AS DOUBLE) AS nq"
        " FROM lineitem GROUP BY l_returnflag, l_linestatus")
    o["agg_filter_stage"] = (
        "SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS n,"
        " ROUND(avg(o_totalprice), 2) + 0.0 AS avg_p"
        " FROM orders WHERE o_totalprice > 200000 GROUP BY o_orderpriority")
    o["agg_topk_paging"] = (
        "SELECT *, 'sortby_max' AS form FROM ("
        " SELECT l_quantity, CAST(count(*) AS DOUBLE) AS n FROM lineitem"
        " GROUP BY l_quantity ORDER BY n DESC, l_quantity ASC LIMIT 5)"
        " UNION ALL SELECT *, 'limit_offset' FROM ("
        " SELECT l_quantity, CAST(count(*) AS DOUBLE) AS n FROM lineitem"
        " GROUP BY l_quantity ORDER BY l_quantity ASC LIMIT 7 OFFSET 3)")
    o["agg_apply_time"] = (
        "SELECT CAST(CAST(year(o_orderdate) AS BIGINT) AS VARCHAR) AS a,"
        " CAST(month(o_orderdate)-1 AS DOUBLE) AS b,"
        " CAST(dayofweek(o_orderdate) AS DOUBLE) AS c,"
        " CAST(count(*) AS DOUBLE) AS n, 'ymd' AS form"
        " FROM orders GROUP BY 1, 2, 3"
        " UNION ALL SELECT CAST(CAST(hour(ts) AS BIGINT) AS VARCHAR),"
        " -1.0, -1.0,"
        " CAST(count(*) AS DOUBLE), 'hour' FROM events GROUP BY 1"
        " UNION ALL SELECT strftime(ts, '%Y-%m-%d'),"
        " CAST(epoch(date_trunc('day', ts)) AS DOUBLE), -1.0,"
        " CAST(count(*) AS DOUBLE), 'fmt' FROM events GROUP BY 1, 2")
    o["agg_apply_strings"] = (
        "SELECT upper(o_orderpriority) AS up,"
        " CAST(strlen(o_orderpriority) AS DOUBLE) AS sl,"
        " substr(o_orderpriority, 1, 3) AS s3,"
        " CAST(strlen(o_orderpriority)"
        "  - strlen(replace(o_orderpriority,'e','')) AS DOUBLE) AS ce,"
        " o_orderstatus || '-' || o_orderpriority AS cc,"
        " CAST(count(*) AS DOUBLE) AS n"
        " FROM orders GROUP BY 1, 2, 3, 4, 5")
    o["agg_tag_filter_search_phase"] = (
        "SELECT l_linestatus, CAST(count(*) AS DOUBLE) AS n,"
        " ROUND(sum(l_extendedprice), 2) + 0.0 AS s"
        " FROM lineitem WHERE l_returnflag = 'A' AND l_quantity >= 10"
        " GROUP BY l_linestatus")
    # ek derived FROM DATA (not constant-folded) so dataset drift — e.g.
    # events missing $.k — breaks the row; $.m is the always-missing path
    o["agg_events_json"] = (
        "SELECT event_type AS k, CAST(count(*) AS DOUBLE) AS n,"
        " ROUND(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4)"
        "  + 0.0 AS d1,"
        " ROUND(sum(value), 2) + 0.0 AS d2, 'json' AS form"
        " FROM events WHERE event_type IN ('click','purchase')"
        " GROUP BY event_type"
        " UNION ALL SELECT CAST(ek AS VARCHAR), CAST(count(*) AS DOUBLE),"
        " 0.0, 0.0, 'exists' FROM (SELECT"
        " (CASE WHEN json_extract_string(props,'$.k') IS NOT NULL"
        " THEN 1.0 ELSE 0.0 END"
        " + CASE WHEN json_extract_string(props,'$.m') IS NOT NULL"
        " THEN 1.0 ELSE 0.0 END) AS ek FROM events) GROUP BY 1")

    o["search_sortby_limit"] = (
        "SELECT o_orderkey, o_totalprice FROM orders"
        " ORDER BY o_totalprice DESC LIMIT 15")
    o["search_return_alias"] = (
        "SELECT CAST(p_partkey AS VARCHAR) AS __key, p_brand AS brand,"
        " p_retailprice FROM part WHERE p_size BETWEEN 1 AND 5")

    o["agg_expr_funcs"] = (
        "SELECT floor(ln(o_totalprice)) AS a,"
        " floor(log2(o_totalprice)) AS b,"
        " CAST(count(*) AS DOUBLE) AS n,"
        " ROUND(sum(exp(o_totalprice/100000)), 4) + 0.0 AS s,"
        " 'funcs' AS form FROM orders GROUP BY 1, 2"
        " UNION ALL SELECT floor(o_totalprice/1000), -1.0,"
        " CAST(count(*) AS DOUBLE),"
        " ROUND(sum(sqrt(o_totalprice)), 2) + 0.0, 'math'"
        " FROM orders WHERE o_totalprice >= 100000 GROUP BY 1")
    o["agg_load"] = (
        "SELECT o_orderpriority AS s, ROUND(o_totalprice, 2) + 0.0 AS d1,"
        " 0.0 AS d2, 'load' AS form"
        " FROM orders WHERE o_totalprice > 400000"
        " UNION ALL SELECT o_orderpriority, CAST(count(*) AS DOUBLE),"
        " ROUND(max(o_totalprice), 2) + 0.0, 'alias'"
        " FROM orders WHERE o_totalprice > 400000 GROUP BY 1")
    o["agg_knn_addscores"] = (
        "WITH top AS (SELECT CAST(label AS DOUBLE) AS label,"
        f" list_distance({_EMB_D}, {_QVEC_SQL}) AS dist"
        " FROM embeddings ORDER BY dist, vec_id LIMIT 20)"
        " SELECT label, CAST(count(*) AS DOUBLE) AS n,"
        " ROUND(min(dist), 4) + 0.0 AS min_d FROM top GROUP BY label")

    o["stream_windows"] = (
        "WITH lagd AS (SELECT event_type, ts,"
        "  CASE WHEN lag(ts) OVER w IS NULL"
        "   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk"
        "  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),"
        " sess AS (SELECT event_type, ts,"
        "  sum(brk) OVER (PARTITION BY event_type ORDER BY ts"
        "   ROWS UNBOUNDED PRECEDING) AS sid FROM lagd)"
        " SELECT CAST(epoch(date_trunc('hour', ts)) AS DOUBLE) AS a,"
        " ROUND(sum(value), 2) + 0.0 AS b,"
        " event_type, CAST(count(*) AS DOUBLE) AS n, 'window' AS form"
        " FROM events GROUP BY 1, 3"
        " UNION ALL"
        " SELECT ROUND(CAST(epoch(min(ts)) AS DOUBLE), 0) + 0.0 AS a,"
        " ROUND(CAST(epoch(max(ts)) + 1800 AS DOUBLE), 0) + 0.0 AS b,"
        " event_type, CAST(count(*) AS DOUBLE) AS n, 'session' AS form"
        " FROM sess GROUP BY event_type, sid")

    # DuckDB's NATIVE ASOF JOIN (only the matched timestamp is compared
    # — deterministic under right-side ties in both engines)
    _asof_leg = (
        " SELECT l.event_id, {expr} AS r_epoch, '' AS s,"
        " '{form}' AS form"
        " FROM l ASOF LEFT JOIN r"
        "   ON l.user_id = r.user_id AND l.ts {op} r.ts")
    _diff_leg = (
        " SELECT COALESCE(b.event_id, a.event_id), -1.0,"
        "  (CASE WHEN b.event_id IS NULL THEN 'added'"
        "       WHEN a.event_id IS NULL THEN 'removed'"
        "       WHEN a.value IS DISTINCT FROM b.value"
        "            OR a.user_id IS DISTINCT FROM b.user_id"
        "       THEN 'changed' ELSE 'unchanged' END)"
        "  || '|' || CASE WHEN b.event_id IS NULL OR a.event_id IS NULL"
        "       THEN ''"
        "       ELSE concat_ws(',',"
        "        CASE WHEN a.user_id IS DISTINCT FROM b.user_id"
        "             THEN 'user_id' END,"
        "        CASE WHEN a.value IS DISTINCT FROM b.value"
        "             THEN 'value' END) END, 'diff'"
        " FROM b FULL OUTER JOIN a ON b.event_id = a.event_id")
    o["temporal_asof"] = (
        "WITH l AS (SELECT event_id, ts, user_id FROM events"
        "           WHERE event_type = 'purchase'),"
        "     r AS (SELECT ts, user_id FROM events"
        "           WHERE event_type = 'signup'),"
        "     b AS (SELECT event_id, user_id, value FROM events"
        "           WHERE event_id % 3 != 0),"
        "     a AS (SELECT event_id, user_id,"
        "        CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END"
        "        AS value FROM events WHERE event_id % 5 != 0)"
        + " UNION ALL ".join((
            _asof_leg.format(form="backward", op=">=",
                             expr="CAST(epoch(r.ts) AS DOUBLE)"),
            _asof_leg.format(form="forward", op="<=",
                             expr="CAST(epoch(r.ts) AS DOUBLE)"),
            _asof_leg.format(
                form="tolerance", op=">=",
                expr="CASE WHEN r.ts >= l.ts - INTERVAL 30 MINUTE"
                     " THEN CAST(epoch(r.ts) AS DOUBLE) END"),
            _diff_leg)))
    # cohort retention: two date_trunc aggregations + per-cohort
    # offset-0 division (tests/test_events.py CTE shape); '/' in DuckDB
    # is float division like Spark's
    o["events_retention"] = (
        "WITH first AS (SELECT user_id, date_trunc('week', min(ts)) c"
        "   FROM events GROUP BY user_id),"
        " act AS (SELECT DISTINCT user_id, date_trunc('week', ts) p"
        "   FROM events),"
        " grid AS (SELECT c,"
        "   CAST(round((epoch(p) - epoch(c)) / (86400 * 7.0)) AS INT) o,"
        "   count(DISTINCT user_id) n FROM act JOIN first USING (user_id)"
        "   WHERE p >= c GROUP BY 1, 2)"
        " SELECT CAST(epoch(c) AS BIGINT) AS cohort, o AS offset,"
        "  n AS n_users,"
        "  ROUND(n / (max(CASE WHEN o = 0 THEN n END)"
        "   OVER (PARTITION BY c)), 6) + 0.0 AS retention FROM grid")
    # exact-regime Misra-Gries == plain GROUP BY count; the (count
    # DESC, item ASC) tiebreak makes the top-25 cut deterministic on
    # both engines
    o["sketch_heavy_hitters"] = (
        "SELECT w AS item, count(*) AS count_lb, count(*) AS count_ub,"
        " count(*) AS count FROM (SELECT unnest(string_split("
        "  lower(text), ' ')) w FROM documents)"
        " GROUP BY w ORDER BY count DESC, w ASC LIMIT 25")
    # 3 power iterations replayed as chained CTEs; same recurrence as
    # operators/graph.pagerank: r' = (1-d)/M + d*(in-contrib + dangling/M)
    _pr_iter = (
        " r{i} AS (SELECT n.node,"
        "   0.15/(SELECT c FROM m) + 0.85*(COALESCE(c.contrib, 0)"
        "   + (SELECT COALESCE(sum(p.rank), 0) FROM r{p} p"
        "      ANTI JOIN outw o ON p.node = o.src)/(SELECT c FROM m))"
        "   AS rank"
        "  FROM nodes n LEFT JOIN"
        "   (SELECT e.dst AS node, sum(p.rank / o.w) AS contrib"
        "    FROM edges e JOIN r{p} p ON p.node = e.src"
        "    JOIN outw o ON o.src = e.src GROUP BY e.dst) c USING (node))")
    o["graph_pagerank"] = (
        "WITH nn AS (SELECT count(*) AS c FROM documents),"
        " edges AS ("
        "  SELECT doc_id AS src, (doc_id*7+3) % (SELECT c FROM nn) AS dst"
        "  FROM documents WHERE doc_id % 3 <> 0"
        "  UNION ALL"
        "  SELECT doc_id, (doc_id*13+5) % (SELECT c FROM nn)"
        "  FROM documents WHERE doc_id % 3 <> 0),"
        " nodes AS (SELECT DISTINCT node FROM"
        "  (SELECT src AS node FROM edges"
        "   UNION ALL SELECT dst FROM edges)),"
        " m AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes),"
        " outw AS (SELECT src, CAST(count(*) AS DOUBLE) AS w"
        "  FROM edges GROUP BY src),"
        " r0 AS (SELECT node, 1.0/(SELECT c FROM m) AS rank FROM nodes),"
        + _pr_iter.format(i=1, p=0) + ","
        + _pr_iter.format(i=2, p=1) + ","
        + _pr_iter.format(i=3, p=2) +
        " SELECT CAST(node AS BIGINT) AS node,"
        "  ROUND(rank * (SELECT c FROM nn), 6) + 0.0 AS rank_scaled"
        " FROM r3")

    o["knn_metrics"] = " UNION ALL ".join(
        f"SELECT * FROM (SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        f" ROUND({d}, 4) + 0.0 AS dist, '{form}' AS form FROM embeddings"
        f" ORDER BY {d}, vec_id LIMIT 10)"
        for form, d in (
            ("l2", f"list_distance({_EMB_D}, {_QVEC_SQL})"),
            ("cosine", f"1 - list_cosine_similarity({_EMB_D}, {_QVEC_SQL})"),
            ("ip", f"1 - list_inner_product({_EMB_D}, {_QVEC_SQL})")))
    o["knn_hybrid"] = _knn_sql(f"list_distance({_EMB_D}, {_QVEC_SQL})",
                               "label BETWEEN 3 AND 5")
    o["knn_ivf"] = _knn_sql(f"list_distance({_EMB_D}, {_QVEC_SQL})")
    _knn_join_brute = (
        "SELECT qid, cid, ROUND(d, 4) + 0.0 AS distance, rank,"
        " '{form}' AS form FROM ("
        " SELECT CAST(q.vec_id AS BIGINT) AS qid,"
        "  CAST(c.vec_id AS BIGINT) AS cid,"
        "  list_distance(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS d,"
        "  CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id"
        "   ORDER BY list_distance(q.embedding::DOUBLE[], c.embedding::DOUBLE[]),"
        "   c.vec_id) AS INT) AS rank"
        " FROM embeddings q CROSS JOIN embeddings c WHERE q.vec_id < 500)"
        " WHERE rank <= 3")
    # both join paths against the same brute force (bucketed at full
    # probe == brute force), each leg keeping its own hash-checked form
    o["knn_join"] = " UNION ALL ".join(
        _knn_join_brute.format(form=f) for f in ("broadcast", "bucketed"))
    o["knn_hnsw"] = " UNION ALL ".join(
        f"SELECT * FROM (SELECT CAST(vec_id AS BIGINT) AS vec_id,"
        f" ROUND(list_distance({_EMB_D}, {_QVEC_SQL}), 4) + 0.0 AS dist,"
        f" '{form}' AS form FROM embeddings WHERE {w}"
        f" ORDER BY list_distance({_EMB_D}, {_QVEC_SQL}), vec_id LIMIT 10)"
        for form, w in (("full", "TRUE"),
                        ("filtered", "label BETWEEN 3 AND 5")))


    # dedup_minhash_lsh's VERIFY step computes exact Jaccard over hashed
    # shingle sets (== string-shingle Jaccard up to 64-bit collisions), so
    # the exact-Jaccard SQL is a valid oracle whenever banding recall is
    # total — true for this corpus's planted dups (J ~0.8-1.0, s-curve
    # recall >0.98/pair, verified equal at sf0.001 AND sf0.01 with the
    # fixed hash seeds). dedup_simhash's driver entry uses the md5-based
    # 60-bit hash variant, so the FULL simhash pipeline (per-token hash
    # -> per-bit majority vote -> banded candidates -> exact Hamming) is
    # replicated below in standard SQL.
    # simhash over md5-60 codes: token hash = first 15 md5 hex chars as
    # a 60-bit int; code bit b set iff strictly more than half the token
    # hashes have bit b; pairs at Hamming <= 6 (banding is recall-total
    # by the pigeonhole guarantee, so candidates == all-pairs here)
    o["dedup_simhash_cosine"] = (
        "WITH hs AS (SELECT doc_id, list_transform(string_split(text,' '),"
        " s -> CAST(('0x' || left(md5(s),15)) AS BIGINT)) AS h"
        " FROM documents),"
        " codes AS (SELECT doc_id, CAST(list_sum(list_transform("
        "range(0,60), b -> CASE WHEN 2*len(list_filter(h,"
        " x -> (x >> b) & 1 = 1)) > len(h)"
        " THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS code"
        " FROM hs WHERE len(h) > 0)"
        " SELECT l.doc_id AS a, r.doc_id AS b,"
        " CAST(bit_count(xor(l.code, r.code)) AS DOUBLE) AS score,"
        " 'simhash' AS form"
        " FROM codes l JOIN codes r ON l.doc_id < r.doc_id"
        " WHERE bit_count(xor(l.code, r.code)) <= 6"
        " UNION ALL"
        " SELECT a.vec_id AS a, b.vec_id AS b,"
        f" ROUND(list_cosine_similarity(a.{_EMB_D}, b.{_EMB_D}), 6) + 0.0"
        " AS score, 'cosine' AS form"
        " FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"
        f" WHERE ROUND(list_cosine_similarity(a.{_EMB_D}, b.{_EMB_D}), 6)"
        " >= 0.4")
    o["quality_expectations"] = (
        "WITH s AS (SELECT"
        "  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE)"
        "    / count(*) AS nullfrac,"
        "  CAST(count(doc_id) - count(DISTINCT doc_id) AS DOUBLE) AS dups,"
        "  CAST(sum(CASE WHEN n_chars < 0 OR n_chars > 10000000"
        "      THEN 1 ELSE 0 END) AS DOUBLE) AS oob,"
        "  CAST(sum(CASE WHEN lang IS NOT NULL AND lang NOT IN"
        "      ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS DOUBLE)"
        "    AS outset,"
        "  CAST(count(*) AS DOUBLE) AS n FROM documents)"
        " SELECT 'null_fraction(text)' AS name, nullfrac <= 0.0 AS passed,"
        "  ROUND(nullfrac, 6) + 0.0 AS observed FROM s"
        " UNION ALL SELECT 'unique(doc_id)', dups = 0,"
        "  ROUND(dups, 6) + 0.0 FROM s"
        " UNION ALL SELECT 'bounds(n_chars)', oob = 0,"
        "  ROUND(oob, 6) + 0.0 FROM s"
        " UNION ALL SELECT 'in_set(lang)', outset = 0,"
        "  ROUND(outset, 6) + 0.0 FROM s"
        " UNION ALL SELECT 'row_count(*)', n >= 1, ROUND(n, 6) + 0.0"
        " FROM s")
    # explicit-pairs rerank: unnest + cross-join dots CTE, restricted
    # to the deterministic (qid + did) % 3 = 0 pair rule
    o["maxsim_score"] = (
        "WITH qt AS (SELECT vec_id % 8 AS qid, vec_id AS qtok, embedding"
        "            FROM embeddings WHERE vec_id < 40),"
        " dt AS (SELECT label AS did, embedding FROM embeddings),"
        " dots AS (SELECT qid, qtok, did,"
        f"           max(list_inner_product(qt.{_EMB_D}, dt.{_EMB_D})) AS m"
        "          FROM qt CROSS JOIN dt"
        "          WHERE (qid + did) % 3 = 0 GROUP BY qid, qtok, did)"
        " SELECT CAST(qid AS BIGINT) AS qid, CAST(did AS BIGINT) AS did,"
        "  ROUND(sum(m), 4) + 0.0 AS score"
        " FROM dots GROUP BY qid, did")
    # hard-negative mining replay: brute-force cosine distances, self
    # pair excluded always; margin leg additionally drops candidates
    # closer than best-positive (= 0, self) + 0.3
    _neg_leg = (
        " SELECT qid, cid, ROUND(d, 6) AS d, CAST(rnk AS INT) AS rank,"
        " '{form}' AS form FROM ("
        "  SELECT qid, cid, d,"
        "   row_number() OVER (PARTITION BY qid ORDER BY d, cid) rnk"
        "  FROM scored WHERE cid != qid{extra}) WHERE rnk <= 5")
    o["mine_negatives"] = (
        "WITH scored AS ("
        f" SELECT q.vec_id AS qid, c.vec_id AS cid,"
        f" 1 - list_cosine_similarity(q.{_EMB_D}, c.{_EMB_D}) AS d"
        " FROM embeddings q CROSS JOIN embeddings c WHERE q.vec_id < 30)"
        + _neg_leg.format(form="plain", extra="")
        + " UNION ALL"
        + _neg_leg.format(form="margin", extra=" AND d >= 0.3"))
    # per-user hourly resample: grid = range() unnest per user span,
    # zero leg coalesces gaps, ffill leg propagates the previous
    # non-null bucket value
    # bitext margins replayed brute-force: both KNN directions as rank
    # windows (cosine desc == distance asc, corpus-key tie), densities
    # as avg over the k=4 candidates, margin formula, mutual-best
    # semi-join — structurally the same float ops as the engine
    o["mine_bitext"] = (
        "WITH s AS (SELECT vec_id id, embedding::DOUBLE[] v"
        "           FROM embeddings WHERE vec_id % 2 = 0),"
        " t AS (SELECT vec_id id, embedding::DOUBLE[] v"
        "       FROM embeddings WHERE vec_id % 2 = 1),"
        " fa AS (SELECT s.id sid, t.id tid,"
        "         list_cosine_similarity(s.v, t.v) c,"
        "         row_number() OVER (PARTITION BY s.id"
        "          ORDER BY list_cosine_similarity(s.v, t.v) DESC, t.id)"
        "          rk FROM s CROSS JOIN t),"
        " fwd AS (SELECT * FROM fa WHERE rk <= 4),"
        " ba AS (SELECT t.id tid, s.id sid,"
        "         list_cosine_similarity(s.v, t.v) c,"
        "         row_number() OVER (PARTITION BY t.id"
        "          ORDER BY list_cosine_similarity(s.v, t.v) DESC, s.id)"
        "          rk FROM t CROSS JOIN s),"
        " bwd AS (SELECT * FROM ba WHERE rk <= 4),"
        " sden AS (SELECT sid, avg(c) d FROM fwd GROUP BY sid),"
        " tden AS (SELECT tid, avg(c) d FROM bwd GROUP BY tid),"
        " pairs AS (SELECT f.sid, f.tid, f.c,"
        "            f.c / (sd.d/2 + td.d/2) margin FROM fwd f"
        "           JOIN sden sd USING (sid) JOIN tden td USING (tid)),"
        " bestf AS (SELECT * FROM (SELECT *, row_number() OVER"
        "            (PARTITION BY sid ORDER BY margin DESC, tid) r"
        "            FROM pairs) WHERE r = 1),"
        " bpairs AS (SELECT b.sid, b.tid, b.c,"
        "             b.c / (sd.d/2 + td.d/2) margin FROM bwd b"
        "            JOIN sden sd USING (sid) JOIN tden td USING (tid)),"
        " bestb AS (SELECT sid, tid FROM (SELECT *, row_number() OVER"
        "            (PARTITION BY tid ORDER BY margin DESC, sid) r"
        "            FROM bpairs) WHERE r = 1)"
        " SELECT CAST(f.sid AS BIGINT) AS src_id,"
        "  CAST(f.tid AS BIGINT) AS tgt_id, ROUND(f.c, 4) + 0.0 AS cos,"
        "  ROUND(f.margin, 4) + 0.0 AS margin"
        " FROM bestf f JOIN bestb USING (sid, tid)")
    # real-decode multimodal row: means recomputed from the pixel
    # formula (see q_multimodal) — no decoding needed SQL-side; the meta
    # form pins the sniffed header geometry of the generated 4x4 BMPs
    # (54-byte header + 4 rows x 12-byte stride = 102 bytes)
    # scalar m0..m3 columns (no arrays — the driver canonicalizer hashes
    # scalars only): mean form = per-channel means + 0.0 pad, meta form =
    # width/height/channels/payload_bytes of the generated 4x4 BMPs
    _chan_mean = (
        "round(list_sum(list_transform(range(0,16),"
        " p -> CAST((doc_id*7 + (3*p+{c})*13) % 256 AS DOUBLE)))/16, 4)"
        " + 0.0")
    o["multimodal_image_features"] = (
        "SELECT doc_id, "
        + ", ".join(_chan_mean.format(c=c) + f" AS m{c}" for c in range(3))
        + ", 0.0 AS m3, 'mean' AS form FROM documents"
        " UNION ALL SELECT doc_id,"
        " 4.0 AS m0, 4.0 AS m1, 3.0 AS m2, 102.0 AS m3, 'meta' AS form"
        " FROM documents")
    o["dedup_minhash_lsh"] = (
        "WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),"
        " grams AS (SELECT DISTINCT doc_id,"
        "   unnest(list_transform(range(1, len(t)-1),"
        "     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g"
        "   FROM toks WHERE len(t) >= 3),"
        " sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),"
        " shared AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter"
        "   FROM grams l JOIN grams r ON l.g = r.g AND l.doc_id < r.doc_id"
        "   GROUP BY 1, 2)"
        " SELECT a, b,"
        "  ROUND(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter), 6) AS jaccard"
        " FROM shared JOIN sizes sa ON sa.doc_id = a"
        " JOIN sizes sb ON sb.doc_id = b"
        " WHERE ROUND(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter), 6) >= 0.5")

    n_sql = "len(string_split(text,' '))"
    sw_sql = (f"CAST(len(list_filter(string_split(text,' '), x -> x IN {_SW_SQL}))"
              f" AS DOUBLE)/{n_sql}")
    alen_sql = (f"CAST(list_sum(list_transform(string_split(text,' '),"
                f" x -> length(x))) AS DOUBLE)/{n_sql}")
    ratios = {k: _lang_ratio(v) for k, v in _LANG_SQL_MARKERS.items()}
    lang_case = (
        "CASE"
        f" WHEN {ratios['es']} > GREATEST(0.02, {ratios['en']}, {ratios['de']},"
        f" {ratios['fr']}) THEN 'es'"
        f" WHEN {ratios['fr']} > GREATEST(0.02, {ratios['en']}, {ratios['de']})"
        " THEN 'fr'"
        f" WHEN {ratios['de']} > GREATEST(0.02, {ratios['en']}) THEN 'de'"
        f" WHEN {ratios['en']} > 0.02 THEN 'en'"
        " ELSE 'und' END")
    # max-coverage 2-gram char fraction (deterministic Gopher-style
    # repetition signal — see contamination.repetition_stats)
    rep2_sql = (
        "ROUND(CASE WHEN len(string_split(text,' ')) >= 2 AND length(text) > 0"
        " THEN CAST(list_max(list_transform(list_distinct("
        "   list_transform(range(1, len(string_split(text,' '))),"
        "     i -> string_split(text,' ')[i] || ' ' ||"
        "          string_split(text,' ')[i+1])),"
        "  g -> len(list_filter("
        "   list_transform(range(1, len(string_split(text,' '))),"
        "     i -> string_split(text,' ')[i] || ' ' ||"
        "          string_split(text,' ')[i+1]), x -> x = g)) * length(g)))"
        " AS DOUBLE) / length(text) ELSE 0.0 END, 6) + 0.0")
    o["text_analysis"] = (
        f"SELECT doc_id, CAST({n_sql} AS BIGINT) AS token_count,"
        f" ROUND({sw_sql}, 6) AS stopword_ratio,"
        f" ROUND((LEAST({n_sql}/100.0, 1.0) + LEAST({sw_sql}*4, 1.0) +"
        f"  CASE WHEN {alen_sql} BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)/3,"
        " 6) AS quality_score,"
        f" {lang_case} AS lang_id,"
        " md5(text) AS fingerprint,"
        f" {rep2_sql} AS rep2_frac"
        " FROM documents")
    # KMV overlap in the exact regime: both gram sets from string_split
    # (single-space word soup => split == tokenizer), estimators equal
    # the true set statistics; formulas replicated structurally so the
    # float ops ((i/u)*u, then /d) match the driver's bit-for-bit
    o["sketch_overlap"] = (
        "WITH doc AS (SELECT doc_id, string_split(text,' ') ts"
        "             FROM documents),"
        " ga AS (SELECT DISTINCT array_to_string(ts[i:i+12],' ') g"
        "        FROM doc, LATERAL unnest(range(1, len(ts)-11)) u(i)),"
        " gb AS (SELECT DISTINCT array_to_string(ts[i:i+12],' ') g"
        "        FROM doc, LATERAL unnest(range(1, len(ts)-11)) u(i)"
        "        WHERE doc_id % 3 = 0),"
        " st AS (SELECT (SELECT count(*) FROM ga) da,"
        "               (SELECT count(*) FROM gb) db,"
        "               (SELECT count(*) FROM ga JOIN gb USING (g)) i,"
        "               (SELECT count(*) FROM"
        "                (SELECT g FROM ga UNION SELECT g FROM gb)) u),"
        " f AS (SELECT CAST(da AS DOUBLE) da, CAST(db AS DOUBLE) db,"
        "        CAST(i AS DOUBLE) / u j, CAST(u AS DOUBLE) u FROM st)"
        " SELECT ROUND(da, 6) + 0.0 AS da, ROUND(db, 6) + 0.0 AS db,"
        "  ROUND(j, 6) + 0.0 AS j, ROUND(u, 6) + 0.0 AS u,"
        "  ROUND(j * u, 6) + 0.0 AS i,"
        "  ROUND(CASE WHEN da > 0 THEN (j * u) / da ELSE 0 END, 6)"
        "   + 0.0 AS cab,"
        "  ROUND(CASE WHEN db > 0 THEN (j * u) / db ELSE 0 END, 6)"
        "   + 0.0 AS cba FROM f")
    # span dedup: gram doc-frequency + min-key keeper + same-length
    # interval merge (all windows are n=4 tokens, so after sorting the
    # running end is always prev_start + 4 and a new span opens iff
    # i - lag(i) > 4) + positional token rebuild. COALESCE('') because
    # DuckDB's array_to_string of an empty list is NULL.
    o["hygiene_span_dedup"] = (
        "WITH doc AS (SELECT doc_id, string_split(text, ' ') ts"
        "   FROM documents),"
        " w AS (SELECT doc_id, CAST(i AS INT) i,"
        "   array_to_string(ts[i+1:i+4], ' ') g"
        "   FROM doc, LATERAL unnest(range(0, len(ts) - 3)) u(i)),"
        " dup AS (SELECT g, min(doc_id) keeper FROM w GROUP BY g"
        "   HAVING count(DISTINCT doc_id) >= 2),"
        " m2 AS (SELECT DISTINCT w.doc_id, w.i FROM w JOIN dup USING (g)"
        "   WHERE w.doc_id <> dup.keeper),"
        " sp AS (SELECT doc_id, i,"
        "   lag(i) OVER (PARTITION BY doc_id ORDER BY i) pi FROM m2),"
        " spans AS (SELECT doc_id, CAST(sum(CASE WHEN pi IS NULL"
        "   OR i - pi > 4 THEN 1 ELSE 0 END) AS BIGINT) s"
        "   FROM sp GROUP BY doc_id),"
        " cov AS (SELECT DISTINCT doc_id, i + d AS p FROM m2,"
        "   LATERAL unnest(range(0, 4)) v(d)),"
        " covl AS (SELECT doc_id, list(p) ps FROM cov GROUP BY doc_id),"
        " reb AS (SELECT d.doc_id, d.ts, c.ps FROM doc d"
        "   LEFT JOIN covl c USING (doc_id)),"
        " fin AS (SELECT doc_id, len(ts) nt, CASE WHEN ps IS NULL"
        "   THEN ts ELSE list_transform(list_filter(range(0, len(ts)),"
        "     i -> NOT list_contains(ps, i)), i -> ts[i+1]) END kt"
        "   FROM reb)"
        " SELECT f.doc_id,"
        "  COALESCE(array_to_string(kt, ' '), '') AS text_deduped,"
        "  CAST(len(kt) AS BIGINT) AS tokens_kept,"
        "  CAST(nt - len(kt) AS BIGINT) AS tokens_dropped,"
        "  COALESCE(s.s, 0) AS spans_dropped"
        " FROM fin f LEFT JOIN spans s USING (doc_id)")
    # 4 planted lines per doc (8-token slices + shared footer); a line
    # in >= 2 distinct docs is boilerplate, blank lines never count
    # 13-gram decontamination: both gram sets from string_split (the
    # corpus is single-space word soup, so split == the tokenizer),
    # distinct shared grams per training doc; only contaminated rows
    o["hygiene_decontaminate"] = (
        "WITH doc AS (SELECT doc_id, string_split(text,' ') ts"
        "   FROM documents),"
        " tg AS (SELECT doc_id, array_to_string(ts[i:i+12],' ') g"
        "   FROM doc, LATERAL unnest(range(1, len(ts)-11)) u(i)),"
        " bg AS (SELECT DISTINCT array_to_string(ts[i:i+12],' ') g"
        "   FROM doc, LATERAL unnest(range(1, len(ts)-11)) u(i)"
        "   WHERE doc_id % 20 = 0)"
        " SELECT tg.doc_id, count(DISTINCT tg.g) AS leaked_ngrams"
        " FROM tg JOIN bg USING (g) GROUP BY tg.doc_id")
    # BPE invariants (the merge loop is not SQL-expressible; the
    # lossless byte-level contract is): decode(encode(x)) == x and
    # token count <= byte count must hold for EVERY document
    o["tokenizer_bpe"] = (
        "SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes,"
        " true AS roundtrip_ok, true AS tokens_bounded FROM documents")
    # WordPiece invariants (same contract family as tokenizer_bpe):
    # lossless decode(encode(x)) == x and word-count <= pieces <=
    # byte-count must hold for EVERY document; n_words/n_bytes are
    # real per-row values
    o["tokenizer_wordpiece"] = (
        "SELECT doc_id,"
        " CAST(len(string_split(text, ' ')) AS INT) AS n_words,"
        " CAST(strlen(text) AS INT) AS n_bytes,"
        " true AS roundtrip_ok, true AS tokens_bounded FROM documents")
    # bigram LM with 0.75 absolute discount + unigram backoff — the
    # exact closed form from tests/test_lm.py, rounded to 4 decimals
    # on both sides
    o["hygiene_lm_perplexity"] = (
        "WITH tok AS ("
        "  SELECT doc_id, unnest(string_split(text, ' ')) w,"
        "         generate_subscripts(string_split(text, ' '), 1) i"
        "  FROM documents WHERE doc_id % 2 = 0),"
        " uni AS (SELECT w, count(*) c_w FROM tok GROUP BY w),"
        " pair AS ("
        "  SELECT a.w v, b.w w FROM tok a JOIN tok b"
        "    ON a.doc_id = b.doc_id AND b.i = a.i + 1),"
        " bi AS (SELECT v, w, count(*) c_vw FROM pair GROUP BY v, w),"
        " ctx AS (SELECT v, sum(c_vw) c_v, count(*) t_v FROM bi GROUP BY v),"
        " consts AS (SELECT sum(c_w) n, count(*) t FROM uni),"
        " ttok AS ("
        "  SELECT doc_id, string_split(text, ' ') ts"
        "  FROM documents WHERE doc_id % 2 = 1 AND doc_id < 480),"
        " tpair AS ("
        "  SELECT doc_id, ts[i] v, ts[i+1] w"
        "  FROM ttok, lateral unnest(range(1, len(ts))) u(i)),"
        " scored AS ("
        "  SELECT doc_id,"
        "    log2(CASE WHEN c.c_v IS NOT NULL THEN"
        "      (greatest(coalesce(b.c_vw, 0) - 0.75, 0)"
        "       + 0.75 * c.t_v * (greatest(coalesce(u.c_w,0)-0.75,0)/k.n"
        "                         + (0.75*k.t/k.n)/(k.t+1))) / c.c_v"
        "    ELSE greatest(coalesce(u.c_w,0)-0.75,0)/k.n"
        "         + (0.75*k.t/k.n)/(k.t+1) END) lp"
        "  FROM tpair p"
        "  LEFT JOIN bi b ON b.v = p.v AND b.w = p.w"
        "  LEFT JOIN ctx c ON c.v = p.v"
        "  LEFT JOIN uni u ON u.w = p.w"
        "  CROSS JOIN consts k)"
        " SELECT doc_id, ROUND(avg(lp), 4) + 0.0 AS lp4"
        " FROM scored GROUP BY doc_id")
    # full Robertson/Sparck-Jones BM25 (k1=1.2, b=0.75) with match_only
    # semantics; 'cat' is out-of-lexicon (df=0 -> max idf, tf=0)
    o["search_bm25"] = (
        "WITH t AS (SELECT doc_id, string_split(text,' ') ts FROM documents),"
        " c AS (SELECT count(*) n, avg(len(ts)) avgdl FROM t),"
        " d AS (SELECT q.term, (SELECT count(*) FROM t"
        "   WHERE list_contains(ts, q.term)) dft"
        "   FROM (SELECT unnest(['merge','window','cat']) term) q)"
        " SELECT doc_id, ROUND((SELECT sum("
        "   ln((c.n - d.dft + 0.5)/(d.dft + 0.5) + 1)"
        "   * len(list_filter(ts, x -> x = d.term)) * (1.2 + 1)"
        "   / (len(list_filter(ts, x -> x = d.term))"
        "      + 1.2 * (1 - 0.75 + 0.75 * len(ts)/c.avgdl)))"
        "   FROM d, c), 4) + 0.0 AS bm25_score"
        " FROM t WHERE list_contains(ts, 'merge')"
        " OR list_contains(ts, 'window') OR list_contains(ts, 'cat')")
    # two rank windows + union + sum(w/(k+rank)) + fused-rank cutoff,
    # ties broken by doc id everywhere (the rrf_fuse contract)
    o["search_hybrid_rrf"] = (
        "WITH a AS (SELECT doc_id, CAST(n_chars AS DOUBLE) score"
        "   FROM documents),"
        " b AS (SELECT doc_id,"
        "   CAST(len(string_split(text,' ')) AS DOUBLE) score"
        "   FROM documents),"
        " u AS ("
        "  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)"
        "   rnk FROM a"
        "  UNION ALL"
        "  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)"
        "   rnk FROM b),"
        " f AS (SELECT doc_id, sum(1.0/(60 + rnk)) s, count(*) n_runs"
        "   FROM u GROUP BY doc_id),"
        " r AS (SELECT doc_id, s, n_runs,"
        "   CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT)"
        "   fused_rank FROM f)"
        " SELECT doc_id, ROUND(s, 6) + 0.0 AS rrf_score, n_runs,"
        " fused_rank FROM r WHERE fused_rank <= 50")
    # per-query TREC metrics; qrels = purchase events at grade 1,
    # ranking ties broken by doc id on both sides
    o["eval_ir_metrics"] = (
        "WITH res AS (SELECT user_id qid, event_id doc_id, value score"
        "   FROM events),"
        " rel AS (SELECT user_id qid, event_id doc_id, 1 grade"
        "   FROM events WHERE event_type = 'purchase'),"
        " ranked AS (SELECT qid, doc_id, row_number() OVER ("
        "   PARTITION BY qid ORDER BY score DESC, doc_id) rnk FROM res),"
        " hits AS (SELECT r.qid, r.rnk, l.grade FROM ranked r"
        "   JOIN rel l USING (qid, doc_id)),"
        " perq AS (SELECT qid,"
        "   sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) relk,"
        "   min(rnk) frst,"
        "   sum(CASE WHEN rnk <= 10 THEN (pow(2, grade) - 1)"
        "     / log2(rnk + 1) ELSE 0 END) dcg FROM hits GROUP BY qid),"
        " ideal AS (SELECT qid, sum((pow(2, grade) - 1) / log2(irank + 1))"
        "   idcg FROM (SELECT qid, grade, row_number() OVER ("
        "     PARTITION BY qid ORDER BY grade DESC, doc_id) irank FROM rel)"
        "   WHERE irank <= 10 GROUP BY qid),"
        " nrel AS (SELECT qid, count(*) nr FROM rel GROUP BY qid),"
        " nres AS (SELECT qid, count(*) ns FROM res GROUP BY qid)"
        " SELECT n.qid, coalesce(s.ns, 0) AS n_results,"
        " n.nr AS n_relevant,"
        " ROUND(coalesce(p.relk, 0) / 10.0, 6) + 0.0 AS p_at_k,"
        " ROUND(coalesce(p.relk, 0) / CAST(n.nr AS DOUBLE), 6) + 0.0"
        "  AS r_at_k,"
        " ROUND(coalesce(1.0 / p.frst, 0.0), 6) + 0.0 AS mrr,"
        " ROUND(coalesce(p.dcg / i.idcg, 0.0), 6) + 0.0 AS ndcg"
        " FROM nrel n JOIN ideal i USING (qid)"
        " LEFT JOIN nres s USING (qid) LEFT JOIN perq p USING (qid)")
    # exact counts per (dimension, bucket): total / source / lang /
    # floor(log2(chars)) histogram, tokens = non-empty whitespace runs
    _prof_tok = ("CASE WHEN text IS NOT NULL AND length(text) > 0"
                 " THEN len(list_filter(regexp_split_to_array(text,"
                 " '\\s+'), x -> x <> '')) ELSE 0 END")
    o["corpus_profile"] = (
        f"WITH t AS (SELECT source, lang, length(text) ch, {_prof_tok} tk,"
        " CASE WHEN length(text) > 0 THEN CAST(floor(log2(length(text)))"
        " AS INT) ELSE 0 END lb FROM documents)"
        # CAST the sums: DuckDB sum(BIGINT) yields HUGEINT which
        # surfaces as decimal128 through Arrow while Spark emits int64
        # — identical values, divergent type-sensitive hash.
        " SELECT 'total' AS dimension, 'all' AS bucket, count(*) AS docs,"
        " CAST(sum(ch) AS BIGINT) AS chars, CAST(sum(tk) AS BIGINT)"
        " AS tokens FROM t"
        " UNION ALL SELECT 'source', source, count(*),"
        " CAST(sum(ch) AS BIGINT), CAST(sum(tk) AS BIGINT)"
        " FROM t GROUP BY source"
        " UNION ALL SELECT 'lang', lang, count(*),"
        " CAST(sum(ch) AS BIGINT), CAST(sum(tk) AS BIGINT)"
        " FROM t GROUP BY lang"
        " UNION ALL SELECT 'len_log2', CAST(lb AS VARCHAR), count(*),"
        " CAST(sum(ch) AS BIGINT), CAST(sum(tk) AS BIGINT)"
        " FROM t GROUP BY lb")
    # page synthesis is known (title 'doc <id>', body = the document
    # text, no links), so extraction fidelity and the cleaner's
    # identity on already-clean text are both value-checked
    o["warc_extract_clean"] = (
        "SELECT 'https://ex.com/' || CAST(doc_id AS VARCHAR) AS url,"
        " 'doc ' || CAST(doc_id AS VARCHAR) AS title,"
        " length(text) AS text_len, length(text) AS clean_len,"
        " 0.0 AS ld FROM documents")
    return o

"""Index catalog: FT.CREATE equivalent for document DataFrames.

The reference declares an index over a schemaless keyspace
(/root/reference/src/commands/ft_create_parser.cc, src/index_schema.h:86);
here an ``IndexSchema`` is declared over a document DataFrame (one row per
document key). Each attribute produces *derived columns* on the frame —
the Spark-native replacement for the reference's in-memory inverted
structures (SURVEY.md §1.6):

- TAG    f -> ``_t_f``  array<string>   (split/trim/dedupe/casefold;
             /root/reference/src/indexes/tag.cc:149-177)
- NUMERIC f -> ``_n_f`` double          (lenient parse; invalid values
             become NULL == "untracked", docs/topics/search-data-formats.md:70-100)
- TEXT   f -> ``_x_f``  array<struct<t,p>> lexed non-stop tokens with word
             positions, ``_s_f`` array<string> distinct stems, and
             ``_sp_f`` array<string> position-aligned stems
             (4-stage pipeline, docs/topics/search-data-formats.md:152-249)
- VECTOR f -> ``_v_f``  array<float>, L2-normalized when metric=cosine
             (/root/reference/src/indexes/vector_base.h:46)

Derived columns are *lazy*: Catalyst prunes any the query doesn't touch,
so at 100 TB a tag-only query never pays for text tokenization. For hot
indexes, ``materialize()`` persists the derived table as Parquet so the
scan serves tokenized/normalized columns directly with pushdown.
"""

from __future__ import annotations

import itertools
import re
import threading
from dataclasses import dataclass, field as dc_field

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .errors import UnknownFieldError
from .functions.analysis import (
    DEFAULT_PUNCTUATION,
    DEFAULT_STOPWORDS,
    stem_positions_nested_udf,
    stem_positions_udf,
    text_tokens_column,
)
from .functions.distance import unit_vector_expr
from .functions.sqltext import double_literal, sql_ident, sql_str
from .plans.planner import IndexStats, NumericStats, TagStats


def tag_col(f: str) -> str:
    return f"_t_{f}"


def num_col(f: str) -> str:
    return f"_n_{f}"


def text_col(f: str) -> str:
    return f"_x_{f}"


def stem_col(f: str) -> str:
    return f"_s_{f}"


def stem_pos_col(f: str) -> str:
    return f"_sp_{f}"


def vec_col(f: str) -> str:
    return f"_v_{f}"


# generated names of the session temp views over index frames
_view_ids = itertools.count()

# index-level union ("field-mask") columns for wide uniform text schemas
MASK_TOK_COL = "__fm_tok"
MASK_STEM_COL = "__fm_stem"

# planner statistics (IndexSchema.stats): equi-depth buckets per NUMERIC
# field, most frequent tags kept per TAG field
STATS_BUCKETS = 64
STATS_TOP_TAGS = 64


@dataclass
class FieldDef:
    """One SCHEMA attribute: ``identifier [AS alias] TYPE opts``
    (/root/reference/docs/commands/ft.create.md:12-33)."""

    name: str                    # source column, or a JSONPath when ON JSON
    alias: str | None = None     # query-visible name (defaults to name)
    # ON-JSON document model (/root/reference/src/attribute_data_type.h:114-139):
    # when set, ``name`` is a JSONPath identifier evaluated against this
    # JSON-text document column; the reference requires AS for JSONPaths
    json_source: str | None = None

    @property
    def attr(self) -> str:
        return self.alias or self.name

    def source(self, df: DataFrame | None = None) -> Column:
        """The field's raw value column. JSONPath identifiers extract
        JVM-side via get_json_object — stays in whole-stage codegen, no
        Python, and Catalyst collapses repeated extraction of the same
        path into one JsonTuple/GetJsonObject per scan."""
        if self.json_source:
            return F.get_json_object(
                F.col(self.json_source).cast("string"), self.name)
        return F.col(self.name)

    def source_sql(self) -> str:
        """``source`` as SQL text."""
        if self.json_source:
            return (f"get_json_object(CAST({sql_ident(self.json_source)} "
                    f"AS STRING), {sql_str(self.name)})")
        return sql_ident(self.name)

    def derived(self, df: DataFrame) -> dict[str, Column]:
        raise NotImplementedError


@dataclass
class TagField(FieldDef):
    """TAG: separator-split, trimmed, deduped, casefolded set of tags
    (/root/reference/src/indexes/tag.cc:149-177;
    docs/topics/search-data-formats.md:10-46)."""

    separator: str = ","
    casesensitive: bool = False

    def derived(self, df: DataFrame) -> dict[str, Column]:
        src = self.source(df).cast("string")
        parts = F.split(src, re.escape(self.separator))
        trimmed = F.transform(parts, lambda x: F.trim(x))
        if not self.casesensitive:
            trimmed = F.transform(trimmed, lambda x: F.lower(x))
        tags = F.array_distinct(F.filter(trimmed, lambda x: x != F.lit("")))
        # empty tag set == untracked for this field (tag.cc:166-170)
        tags = F.when(F.size(tags) > 0, tags)
        return {tag_col(self.attr): tags}

    def fold_query_tag(self, t: str) -> str:
        return t if self.casesensitive else t.lower()


@dataclass
class NumericField(FieldDef):
    """NUMERIC: lenient float64 parse; int/float/scientific/±inf accepted,
    anything else -> NULL (untracked), never an error
    (docs/topics/search-data-formats.md:70-100)."""

    def derived(self, df: DataFrame) -> dict[str, Column]:
        dtype = None if self.json_source else dict(df.dtypes).get(self.name)
        src = self.source(df)
        if dtype in ("timestamp", "timestamp_ntz", "date"):
            # timestamps enter the numeric domain as unix seconds (FIXTURES.md
            # F5); NTZ values are UTC by session pin, via TIMESTAMP cast
            out = src.cast("timestamp").cast("double")
        elif dtype in ("double", "float", "bigint", "int", "smallint", "tinyint", "decimal"):
            out = src.cast("double")
        else:
            s = F.trim(src.cast("string"))
            out = (
                F.when(F.lower(s).isin("inf", "+inf", "infinity", "+infinity"), F.lit(float("inf")))
                .when(F.lower(s).isin("-inf", "-infinity"), F.lit(float("-inf")))
                .when(F.lower(s) == "nan", F.lit(None).cast("double"))  # NaN rejected -> untracked
                .otherwise(s.try_cast("double"))
            )
        return {num_col(self.attr): out}


@dataclass
class TextField(FieldDef):
    """TEXT: lexer -> casefold -> stopword removal -> stemming
    (docs/topics/search-data-formats.md:152-249;
    /root/reference/src/indexes/text/lexer.cc)."""

    nostem: bool = False
    min_stem_size: int = 4        # MINSTEMSIZE default (search-data-formats.md:232)
    stopwords: frozenset[str] = dc_field(default_factory=lambda: DEFAULT_STOPWORDS)
    punctuation: str = DEFAULT_PUNCTUATION   # PUNCTUATION option (per-byte set)
    # WITHOFFSETS/NOOFFSETS (ft_create_parser.cc:471-475): without offsets
    # the index stores no word positions, so phrase/proximity queries are
    # rejected (filter_parser.cc:876 "Index does not support offsets")
    with_offsets: bool = True
    # WITHSUFFIXTRIE (default on): suffix/infix queries error when disabled
    # (SURVEY.md §2.2 "Text suffix"; the trie itself is physical — here the
    # flag only gates the query form)
    with_suffixtrie: bool = True
    # WEIGHT: RediSearch-compat knob the reference accepts but pins to 1.0
    # (ft_create_parser.cc:528-531 rejects any other value; ft.create.md:68)
    weight: float = 1.0

    def derived(self, df: DataFrame) -> dict[str, Column]:
        toks = text_tokens_column(self.source(df).cast("string"),
                                  self.stopwords, self.punctuation)
        out = {text_col(self.attr): toks}
        if not self.nostem:
            words = F.transform(toks, lambda s: s["t"])
            sp = stem_positions_udf(self.min_stem_size)(words)
            out[stem_pos_col(self.attr)] = sp
            # distinct stems derive JVM-side from the aligned stems — one
            # Python stemming pass feeds both columns (array_distinct keeps
            # first-occurrence order, same as the old dedicated UDF)
            out[stem_col(self.attr)] = F.array_distinct(sp)
        return out


@dataclass
class VectorField(FieldDef):
    """VECTOR: fixed-DIM FLOAT32, metric L2 / IP / COSINE; cosine vectors are
    L2-normalized at ingest (/root/reference/src/indexes/vector_base.h:46,106-110).
    ``algo`` is advisory: FLAT -> always exact scan; HNSW -> eligible for the
    ANN path when an index artifact is built (SURVEY.md §2.6) — IVF or
    segment-graph HNSW (operators/hnsw.py), chosen at ft_build_ann.
    ``m`` / ``ef_construction`` are the reference's HNSW build params
    (ft.create.md M / EF_CONSTRUCTION), consumed when the artifact is
    built with algorithm="hnsw"; EF_RUNTIME is a query-time dial."""

    dim: int = 0
    metric: str = "l2"           # l2 | ip | cosine
    algo: str = "flat"           # flat | hnsw
    m: int = 16                  # HNSW max links/node (ft.create.md M)
    ef_construction: int = 100   # HNSW build beam (EF_CONSTRUCTION)

    def derived(self, df: DataFrame) -> dict[str, Column]:
        if self.json_source:
            # JSON vectors arrive as array TEXT '[1.0, 0.0]' and use the
            # reference's lenient decode
            # (docs/topics/search-data-formats.md:104-150)
            from .sources.tables import json_vector_expr

            v = json_vector_expr(self.source(df))
        else:
            v = F.col(self.name).cast(T.ArrayType(T.FloatType()))
        # wrong-length vectors, and vectors with a null element, are
        # rejected -> untracked (search-data-formats.md:131-150)
        v = F.when(F.size(F.array_compact(v)) == self.dim, v)
        if self.metric == "cosine":
            v = unit_vector_expr(v)
        return {vec_col(self.attr): v}


@dataclass
class IndexSchema:
    """One FT.CREATE declaration bound to a document DataFrame."""

    name: str
    doc_df: DataFrame
    fields: list[FieldDef]
    key_column: str | None = None   # document key; synthesized if absent
    cache: bool = False             # persist derived columns (ingest-time indexing)
    prederived: bool = False        # doc_df already carries the derived columns
    # FT.CREATE key `PREFIX n p1 ... pn` filters: only documents whose key
    # starts with one of the prefixes belong to the index
    # (docs/commands/ft.create.md:12-33; src/index_schema.h:86). Compiles
    # to a pushed-down StartsWith scan filter — Catalyst's analogue of the
    # reference's keyspace subscription filter.
    prefixes: tuple[str, ...] | None = None

    def __post_init__(self) -> None:
        self._by_attr: dict[str, FieldDef] = {}
        self._cached: DataFrame | None = None
        self.ingest_store = None        # live-ingest link (attach_store)
        self._ann: dict = {}            # attr -> ANN artifact (ft_build_ann)
        self._view: tuple[str, list[str], list[str]] | None = None
        self._view_lock = threading.Lock()
        # the planner's row count and statistics, collected on demand
        self._stats_lock = threading.Lock()
        self._rows: int | None = None
        self._stats: IndexStats | None = None
        for f in self.fields:
            self._by_attr[f.attr] = f

    def attach_store(self, store) -> None:
        """Link the DocumentStore feeding this index so FT.INFO reports
        LIVE mutation-queue/backfill state (the reference reports these
        from the background indexer, src/index_schema.h:215,462; a
        detached batch index keeps the static ready/0 block)."""
        self.ingest_store = store

    def field(self, attr: str) -> FieldDef:
        try:
            return self._by_attr[attr]
        except KeyError:
            raise UnknownFieldError(f"Unknown field `{attr}` in index `{self.name}`") from None

    # minimum TEXT fields before the union "field-mask" columns pay for
    # their storage (the reference's field_explosion workload has 50)
    FIELDMASK_MIN_TEXT_FIELDS = 8

    def fieldmask_fields(self) -> list["TextField"] | None:
        """Text fields covered by the union token/stem columns — the
        Spark-native analogue of the reference's all-fields mask
        (index_schema GetAllTextFieldMask): a fieldless single-token
        predicate over F fields scans ONE array column instead of F.
        Only built for wide schemas with UNIFORM analysis config (so the
        union is semantics-preserving), and only when the serving frame
        actually carries the columns (a prederived table materialized
        before this feature keeps the per-field plan)."""
        tfs = self.text_fields
        if len(tfs) < self.FIELDMASK_MIN_TEXT_FIELDS:
            return None
        sig = {(f.stopwords, f.punctuation, f.min_stem_size, f.nostem,
                f.with_suffixtrie) for f in tfs}
        if len(sig) != 1:
            return None
        if self.prederived and MASK_TOK_COL not in self.doc_df.columns:
            return None
        return tfs

    def _registered(self) -> tuple[str, list[str], list[str]]:
        """(view name, its columns, the document frame's columns). The
        index frame is registered as a session temp view under a generated
        name (index names may hold any text) on its first statement, so
        each FT.SEARCH op is one statement over the view and an uncached
        index builds its derived columns once, not per op; FT.CREATE stays
        lazy. ``Catalog`` drops the view with the index."""
        with self._view_lock:
            if self._view is None:
                try:
                    df = self.indexed_df()
                except AnalysisException as e:
                    raise UnknownFieldError(
                        f"index `{self.name}`: a field does not fit the "
                        f"source frame: {str(e).splitlines()[0]}") from None
                name = f"vss_index_{next(_view_ids)}"
                df.createOrReplaceTempView(name)
                self._view = (name, df.columns, self.doc_df.columns)
            return self._view

    @property
    def view(self) -> str:
        """The session temp view FT.SEARCH / FT.AGGREGATE statements
        read."""
        return self._registered()[0]

    @property
    def columns(self) -> list[str]:
        return self._registered()[1]

    @property
    def doc_columns(self) -> list[str]:
        return self._registered()[2]

    def sql(self, statement: str) -> DataFrame:
        """Run one statement in the session that holds ``self.view``."""
        return self.doc_df.sparkSession.sql(statement)

    def row_count(self) -> int:
        """The rows of this index version, for the hybrid-KNN planner's
        cost bound (``plans/planner.py``): one count over the view the
        first time a planner needs it, then kept, so it goes with the
        schema (a re-created index counts again); FT.CREATE stays lazy."""
        view = self.view
        with self._stats_lock:
            if self._rows is None:
                self._rows = self.sql(
                    f"SELECT count(*) FROM {sql_ident(view)}").collect()[0][0]
            return self._rows

    def stats(self) -> IndexStats:
        """The hybrid-KNN planner's statistics of this index version: the
        row count; per NUMERIC field its non-null count and equi-depth
        quantiles; per TAG field its most frequent tags with counts, its
        (row, tag) pairs and its distinct tags. Collected by one statement
        over the view the first time the planner needs an estimate (only
        on an index large enough that the ANN path may be cheaper), then
        kept like ``row_count``. Their own lock, not the view's: a
        collection does not hold up the index's other ops."""
        view = self.view
        with self._stats_lock:
            if self._stats is None:
                self._stats = self._collect_stats(view)
            return self._stats

    def _collect_stats(self, view: str) -> IndexStats:
        """``stats`` in one scan: each row explodes into a row marker
        (``f`` 0) plus one element per tag of each TAG field (``f`` i), so
        the row-level aggregates read the markers and each tag field its
        own elements."""
        nums = [f for f in self.fields if isinstance(f, NumericField)]
        tags = [f for f in self.fields if isinstance(f, TagField)]
        probs = "array(" + ", ".join(double_literal(i / STATS_BUCKETS)
                                     for i in range(STATS_BUCKETS + 1)) + ")"
        cols = [sql_ident(num_col(f.attr)) for f in nums]
        elems = ["array(named_struct('f', 0, 't', CAST(NULL AS STRING)))"]
        aggs = ["count(*) FILTER (WHERE `f` = 0)"]
        for v in cols:
            aggs += [f"count({v}) FILTER (WHERE `f` = 0)",
                     f"percentile_approx({v}, {probs}) FILTER (WHERE `f` = 0)"]
        for i, f in enumerate(tags, 1):
            elems.append(f"transform(coalesce({sql_ident(tag_col(f.attr))}, "
                         f"array()), x -> named_struct('f', {i}, 't', x))")
            aggs += [f"{a} FILTER (WHERE `f` = {i})" for a in (
                "count(*)", f"approx_top_k(`t`, {STATS_TOP_TAGS})",
                "approx_count_distinct(`t`)")]
        row = self.sql(
            f"SELECT {', '.join(aggs)} FROM (SELECT "
            + "".join(c + ", " for c in cols)
            + f"inline(concat({', '.join(elems)})) FROM {sql_ident(view)})"
        ).collect()[0]
        it = iter(row)
        n = next(it)
        numeric = {f.attr: NumericStats(next(it), next(it) or [])
                   for f in nums}
        tag = {f.attr: TagStats(pairs=next(it),
                                top={r["item"]: r["count"]
                                     for r in next(it) or []},
                                distinct=next(it), fold=not f.casesensitive)
               for f in tags}
        return IndexStats(n, numeric, tag)

    @property
    def text_fields(self) -> list[TextField]:
        return [f for f in self.fields if isinstance(f, TextField)]

    def indexed_df(self) -> DataFrame:
        """Document frame + all derived index columns.

        Default: lazy — Catalyst prunes unused derived columns, so a
        tag-only query never pays text tokenization. With ``cache=True``
        the derived table is computed once and persisted (memory/disk) —
        the reference's model, where FT.CREATE pays the indexing cost and
        queries read the built index (src/index_schema.cc:1044 backfill).
        At 100 TB the same role is played by ``materialize()`` to Parquet.
        """
        if self.cache:
            if self._cached is None:
                # spread the tokenize/stem build across all cores: a
                # single small input otherwise materializes as ONE task.
                # The exchange must sit BELOW the derivation projection —
                # repartitioning the BUILT frame puts the shuffle above
                # it, and every tokenize/stem expression then evaluates
                # serially in the upstream partition (measured 7x on the
                # 50-field ingest shape)
                df = self._build_indexed(spread=True)
                self._cached = df.persist()
            return self._cached
        return self._build_indexed()

    def _build_indexed(self, spread: bool = False) -> DataFrame:
        if self.prederived:
            # serving from a materialize()d table: derived columns are real
            # parquet columns, so numeric/tag predicates push down to the
            # scan — the 100 TB hot path
            return self.doc_df
        df = self.doc_df
        if self.key_column is None:
            df = df.withColumn("__key", F.monotonically_increasing_id().cast("string"))
        else:
            df = df.withColumn("__key", F.col(self.key_column).cast("string"))
        if self.prefixes:
            cond = F.col("__key").startswith(self.prefixes[0])
            for pre in self.prefixes[1:]:
                cond = cond | F.col("__key").startswith(pre)
            df = df.where(cond)
        if spread:
            target = df.sparkSession.sparkContext.defaultParallelism
            try:
                n = df.rdd.getNumPartitions()
            except Exception:
                n = target
            if n < target:
                df = df.repartition(target)
        derived: dict[str, Column] = {}
        stem_batch = [f for f in self.fields
                      if isinstance(f, TextField) and not f.nostem]
        if len(stem_batch) >= 2:
            # batch every stemmed field through ONE Arrow pass: per-field
            # stem UDFs would cost len(fields) Python evaluations per row
            # batch (dominates 50-field ingest). Tokens stay per-field
            # JVM expressions; the nested UDF output lands in a staging
            # column first — CollapseProject won't inline a PythonUDF
            # referenced more than once, so it evaluates once.
            for f in self.fields:
                if f not in stem_batch:
                    derived.update(f.derived(df))
            toks_map = {
                f.attr: text_tokens_column(f.source(df).cast("string"),
                                           f.stopwords, f.punctuation)
                for f in stem_batch}
            for f in stem_batch:
                derived[text_col(f.attr)] = toks_map[f.attr]
            df = df.withColumns(derived)
            derived = {}
            by_mss: dict[int, list[TextField]] = {}
            for f in stem_batch:
                by_mss.setdefault(f.min_stem_size, []).append(f)
            for mss, fs in by_mss.items():
                words = F.array(*[
                    F.transform(F.col(text_col(f.attr)), lambda s: s["t"])
                    for f in fs])
                stage = f"__stems_{mss}"
                df = df.withColumn(
                    stage, stem_positions_nested_udf(mss)(words))
                for i, f in enumerate(fs):
                    sp = F.col(stage)[i]
                    derived[stem_pos_col(f.attr)] = sp
                    derived[stem_col(f.attr)] = F.array_distinct(sp)
            df = df.withColumns(derived)
            df = df.drop(*[f"__stems_{mss}" for mss in by_mss])
            derived = {}
        else:
            for f in self.fields:
                derived.update(f.derived(df))
        mask = self.fieldmask_fields()
        if mask:
            # union token/stem columns: distinct words across ALL text
            # fields, so a fieldless single-token predicate scans ONE
            # array instead of len(fields). Derived by tokenizing the
            # space-joined raw fields once (uniform config makes that
            # equivalent to the per-field union for membership) rather
            # than re-referencing the per-field expressions — Catalyst
            # collapses projections, so reuse would tokenize every field
            # twice at build
            f0 = mask[0]
            joined = F.concat_ws(
                " ", *[F.coalesce(f.source(df).cast("string"), F.lit(""))
                       for f in mask])
            mtoks = text_tokens_column(joined, f0.stopwords, f0.punctuation)
            words = F.array_distinct(F.transform(mtoks, lambda s: s["t"]))
            derived[MASK_TOK_COL] = words
            if not f0.nostem:
                derived[MASK_STEM_COL] = F.array_distinct(
                    stem_positions_udf(f0.min_stem_size)(words))
        return df.withColumns(derived)

    def materialize(self, path: str, partitions: int | None = None,
                    bucket_by: str | None = None, num_buckets: int = 64) -> None:
        """Persist the derived table as Parquet — the 100 TB path: pay
        tokenization/normalization once, serve queries from a columnar scan
        with pushdown. ``bucket_by`` co-locates later joins on that key
        (replaces the reference's per-shard index partitioning, SURVEY.md §3.4)."""
        df = self.indexed_df()
        if partitions:
            df = df.repartition(partitions)
        if bucket_by:
            (df.write.mode("overwrite").format("parquet")
               .bucketBy(num_buckets, bucket_by).option("path", path)
               .saveAsTable(f"{self.name}_materialized"))
        else:
            df.write.mode("overwrite").parquet(path)


class Catalog:
    """Index registry: FT.CREATE / FT.DROPINDEX / FT._LIST / FT.INFO
    (the reference's src/schema_manager.* via SURVEY.md §3.1).
    Re-creating a name replaces the old index; dropping or replacing an
    index drops its view (``IndexSchema.view``)."""

    def __init__(self) -> None:
        self._indexes: dict[str, IndexSchema] = {}

    def create(self, schema: IndexSchema) -> IndexSchema:
        old = self._indexes.pop(schema.name, None)
        if old is not None:
            # released before the new frame is cached: indexes over the
            # same plan share one cache entry
            self._release(old)
        self._indexes[schema.name] = schema
        return schema

    def drop(self, name: str) -> None:
        s = self._indexes.pop(name, None)
        if s is not None:
            self._release(s)

    @staticmethod
    def _release(s: IndexSchema) -> None:
        """Drop the index's view and free its ingest-time cache — a
        long-lived session that creates/drops indexes must not accumulate
        views or persisted RDDs."""
        with s._view_lock:
            if s._view is not None:
                s.doc_df.sparkSession.catalog.dropTempView(s._view[0])
                s._view = None
        if s._cached is not None:
            s._cached.unpersist()
            s._cached = None

    def list(self) -> list[str]:
        return sorted(self._indexes)

    def get(self, name: str) -> IndexSchema:
        from .errors import UnknownIndexError

        try:
            return self._indexes[name]
        except KeyError:
            raise UnknownIndexError(f"no such index: {name}") from None

    def info(self, name: str, compute_stats: bool = False) -> dict:
        """FT.INFO reply matching the LOCAL response documented in
        /root/reference/docs/commands/ft.info.md (field list + the
        type-specific attribute extensions). The mutation/backfill block is
        trivially "done" for a batch engine — there is no background
        indexer, so state is always ``ready`` with an empty queue; a live
        ``materialize()`` would be the only backfill analogue and it is
        synchronous here.

        ``compute_stats`` runs the counting jobs (num_docs, per-field
        tracked/untracked, num_records, hash_indexing_failures, and the
        text-term stats); at 100 TB that is a scan, so it is opt-in rather
        than a free stat."""
        s = self.get(name)
        type_names = {"TagField": "TAG", "NumericField": "NUMERIC",
                      "TextField": "TEXT", "VectorField": "VECTOR"}
        attributes = []
        text_fields = []
        for f in s.fields:
            a = {"identifier": f.name, "attribute": f.attr,
                 "type": type_names.get(type(f).__name__, type(f).__name__)}
            if isinstance(f, TagField):
                a["SEPARATOR"] = f.separator
                a["CASESENSITIVE"] = int(f.casesensitive)
            elif isinstance(f, TextField):
                a["WITH_SUFFIX_TRIE"] = int(f.with_suffixtrie)
                a["NO_STEM"] = int(f.nostem)
                text_fields.append(f)
            elif isinstance(f, VectorField):
                algo = {"name": f.algo.upper()}
                if f.algo == "hnsw":
                    algo["m"] = f.m
                    algo["ef_construction"] = f.ef_construction
                a["index"] = {
                    "dimensions": f.dim,
                    "distance_metric": f.metric.upper(),
                    "data_type": "FLOAT32",
                    "algorithm": algo,
                }
                # live ANN artifact state (ft_build_ann): the mutation
                # generation and layout mirror the reference's per-index
                # observables (its HNSW reports node/level counts)
                ann = s._ann.get(f.attr)
                if ann is not None and hasattr(ann, "n_lists"):
                    a["index"]["ann"] = {
                        "n_lists": ann.n_lists,
                        "n_physical_lists": ann.n_physical_lists,
                        "mutation_generation": ann.gen,
                        "storage": ("pq_opq" if ann.pq is not None
                                    and ann.pq.rotation is not None
                                    else "pq" if ann.pq is not None
                                    else "int8" if ann.quantized
                                    else "float32"),
                    }
                elif ann is not None:
                    # segment-graph HNSW artifact (operators/hnsw.py)
                    a["index"]["ann"] = {
                        "segments": ann.n_segments,
                        "m": ann.m,
                        "ef_construction": ann.ef_construction,
                        "mutation_generation": ann.gen,
                        "storage": ("pq_graph" if ann.pq is not None
                                    else "int8_graph" if ann.quantized
                                    else "float32_graph"),
                        "partitioner": ann.partitioner,
                        "routable_segments":
                            len(ann.routable_segments()),
                        # driver memory held for single-query search
                        "resident_bytes": ann.resident_bytes(),
                    }
            attributes.append(a)
        first_text = text_fields[0] if text_fields else None
        out = {
            "index_name": s.name,
            "index_definition": {
                "key_type": "JSON" if any(f.json_source for f in s.fields) else "HASH",
                "prefixes": list(s.prefixes) if s.prefixes else [],
                "default_score": "1.0",
            },
            # kept for callers predating the documented shape
            "on": "JSON" if any(f.json_source for f in s.fields) else "HASH",
            "prefixes": list(s.prefixes) if s.prefixes else [],
            "attributes": attributes,
            "num_docs": None,
            "num_records": None,
            "num_terms": None,
            "total_term_occurrences": None,
            "hash_indexing_failures": None,
            # batch engine: indexing is the job itself, never backgrounded;
            # a schema with an ATTACHED DocumentStore stream overlays this
            # block with live values below
            "backfill_in_progress": "0",
            "backfill_complete_percent": "1.0",
            "mutation_queue_size": "0",
            "recent_mutations_queue_delay": "0",
            "state": "ready",
            "punctuation": (first_text.punctuation if first_text
                            else DEFAULT_PUNCTUATION),
            "stopwords": sorted(first_text.stopwords if first_text
                                else DEFAULT_STOPWORDS),
            "with_offsets": ("1" if first_text is None
                             or first_text.with_offsets else "0"),
            "min_stem_size": (first_text.min_stem_size if first_text else 4),
        }
        store = getattr(s, "ingest_store", None)
        if store is not None:
            # live mutation/backfill state from the attached ingest stream
            # (reference reports these from the background indexer,
            # src/index_schema.h:215,462)
            out.update(store.ingest_info())
        if compute_stats:
            df = s.indexed_df()
            derived_first = {f.attr: next(iter(f.derived(s.doc_df)))
                             for f in s.fields}
            aggs = [F.count(F.lit(1)).alias("__n")]
            for attr, col in derived_first.items():
                aggs.append(F.count(F.col(col)).alias(attr))
            for f in s.fields:
                # user_indexed_memory: bytes of user data ingested per
                # attribute — raw source octets, or dim*4 (FLOAT32) for
                # tracked vectors, matching the reference's accounting
                if isinstance(f, VectorField):
                    mem = (F.count(F.col(next(iter(f.derived(s.doc_df)))))
                           * F.lit(f.dim * 4))
                else:
                    mem = F.sum(F.coalesce(
                        F.octet_length(f.source(s.doc_df).cast("string")),
                        F.lit(0)))
                aggs.append(mem.cast("long").alias(f"__mem_{f.attr}"))
            for f in text_fields:
                aggs.append(F.sum(F.coalesce(
                    F.size(F.col(text_col(f.attr))), F.lit(0)))
                    .alias(f"__occ_{f.attr}"))
            row = df.agg(*aggs).collect()[0]
            out["num_docs"] = row["__n"]
            for a in out["attributes"]:
                tracked = row[a["attribute"]]
                a["num_tracked"] = tracked
                a["num_untracked"] = row["__n"] - tracked
                a["user_indexed_memory"] = int(row[f"__mem_{a['attribute']}"] or 0)
                if a["type"] == "TAG":
                    a["SIZE"] = tracked
            out["num_records"] = sum(a["num_tracked"] for a in out["attributes"])
            out["hash_indexing_failures"] = sum(
                a["num_untracked"] for a in out["attributes"])
            out["total_term_occurrences"] = int(sum(
                row[f"__occ_{f.attr}"] or 0 for f in text_fields))
            if text_fields:
                # one extra job: distinct terms across all text fields
                # (approx at scale would also be fine; exact is cheap in the
                # compute_stats contract, which is already a full scan)
                terms = None
                for f in text_fields:
                    t = (df.select(F.explode_outer(
                        F.col(text_col(f.attr))).alias("tok"))
                         .select(F.col("tok.t").alias("term")).dropna())
                    terms = t if terms is None else terms.unionAll(t)
                out["num_terms"] = terms.distinct().count()
            else:
                out["num_terms"] = 0
        return out

"""FT.SEARCH execution: filter -> (KNN) -> sort -> limit -> RETURN, as
one SQL statement over the index's view.

The reference's multi-stage lifecycle (parse on main thread, predicate
-> index-fetcher planning, reader-pool execution, content resolution —
SURVEY.md §3.1) collapses here to: parse -> write one statement ->
Catalyst. The index frame is a session temp view, registered on its
first statement (``IndexSchema.view``); each op writes its filter (the
translator's SQL text), the distance, ORDER BY, OFFSET/LIMIT and the
RETURN projection into one ``spark.sql`` statement over that view, so
planning an op is a handful of py4j round-trips whatever the
predicate's size. FT.SEARCH,
FT.AGGREGATE and FT.EXPLAIN share one search phase
(``SearchEngine._prepare``, the reference's one ``SearchParameters``
record), whose result each call passes on by argument. Its planner
heuristics (min-cardinality AND child, pre-filter-vs-inline KNN,
the reference's src/query/planner.cc:21-46) are mostly Catalyst's job;
the one surviving custom decision — pre-filter exact vs inline-filtered
ANN — lives in plans/planner.py and ``_ft_search``.
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import Catalog, FieldDef, IndexSchema, NumericField, TagField, TextField, num_col, vec_col, VectorField
from ..errors import QuerySyntaxError, UnknownFieldError
from ..functions.distance import distance_sql
from ..functions.sqltext import double_literal, sql_ident, sql_str
from ..parser.ast import (
    And, MatchAll, ParsedQuery, Proximity, TextPred, TERM,
    query_operation_flags,
)
from ..parser.filter_parser import parse_query
from ..plans import planner
from ..plans.predicate_translator import (
    PredicateTranslator, QueryLimits, predicate_depth_and_count,
)

# cap applied when an explicitly-unbounded reply call (limit n = None)
# still needs a physical limit for plan-shape reasons (see _finish).
# NOT Int.MaxValue or adjacent: near the topKSortFallbackThreshold the
# planner abandons TakeOrderedAndProject for a range-partitioned Sort
# (and EliminateLimits drops Limit(Int.MaxValue) outright), re-exposing
# the sort double-execution this cap exists to prevent — verified by the
# observed-count test; 2e9 keeps the TakeOrderedAndProject shape
_OBSERVED_LIMIT_CAP = 2_000_000_000

# temp views through which a statement reads an IVF artifact's answer
_ann_view_ids = itertools.count()


def _fetch_hits(view: str, hits: list, score: str) -> str:
    """The statement selecting the indexed rows of ``hits`` (``(key,
    score)`` pairs) with the score as column ``score``: ``__key IN
    (...)`` and a literal ``map(key, score)[__key]``."""
    if not hits:
        return (f"SELECT *, CAST(NULL AS DOUBLE) AS {sql_ident(score)} "
                f"FROM {view} WHERE false")
    best: dict = {}
    for key, d in hits:                  # a key live twice keeps its best
        best.setdefault(str(key), d)
    keys = [sql_str(k) for k in best]
    pairs = ", ".join(f"{k}, {double_literal(d)}"
                      for k, d in zip(keys, best.values()))
    return (f"SELECT *, map({pairs})[`__key`] AS {sql_ident(score)} "
            f"FROM {view} WHERE `__key` IN ({', '.join(keys)})")


def _top_k(rows: str, score: str, k: int, off: int = 0,
           n: int | None = None) -> str:
    """Ranks ``off`` to ``off + n`` (to k by default) of the top k of the
    statement ``rows`` by (``score``, key).

    Catalyst compiles ORDER BY + LIMIT to TakeOrderedAndProject —
    per-partition heap + driver merge, the same shape as the reference's
    per-shard top-k fan-in (the reference's src/query/fanout.cc:69) — and
    its single output partition lets a reply's window count the hits with
    no exchange. The __key tiebreak resolves ties at the k-th distance
    deterministically (a distributed scan has no stable iteration order
    to fall back on). Untracked (null-score) rows are dropped AFTER the
    cut: a filter below the projection would evaluate the distance twice.
    Nulls sort last, so a null inside the top k means every non-null row
    is already in it."""
    take = max(0, k - off if n is None else min(n, k - off))
    s = sql_ident(score)
    return (f"SELECT * FROM ({rows} ORDER BY {s} ASC NULLS LAST, "
            f"`__key` ASC LIMIT {take} OFFSET {off}) WHERE {s} IS NOT NULL")


def _filtered(req: "SearchRequest") -> str:
    """The statement selecting the index rows the predicate keeps. A
    predicate with fuzzy/proximity kernel leaves filters in two steps,
    (JVM candidate filter) -> barrier -> (kernel filter), so the Arrow
    transfer and the Python kernels see candidates, not the corpus. The
    rand() column of the inner query is a deterministic-optimization
    barrier: Catalyst neither combines the two filters nor pushes the
    kernel filter below it."""
    view = sql_ident(req.schema.view)
    if isinstance(req.pred, MatchAll):
        return f"SELECT * FROM {view}"
    jvm, udf = req.translator.translate_staged(req.pred)
    if udf is None:
        return f"SELECT * FROM {view} WHERE {jvm}"
    inner = f"SELECT *, rand(0) AS `__barrier` FROM {view}"
    if jvm is not None:
        inner += f" WHERE {jvm}"
    return f"SELECT * EXCEPT (`__barrier`) FROM ({inner}) WHERE {udf}"


@dataclass
class ReturnField:
    """RETURN n f [AS a] (/root/reference/src/query/search.h:82-86)."""

    name: str
    alias: str | None = None


class SearchRequest(NamedTuple):
    """One request after the shared search phase (``_prepare``): the
    index, the parsed query, its final predicate (after stopwords and
    the SLOP/INORDER upgrade) and the translator that compiles it. Each
    call holds its own and passes it on by argument."""

    schema: IndexSchema
    parsed: ParsedQuery
    pred: object
    translator: PredicateTranslator


class SearchEngine:
    """The FT.* command surface over Spark DataFrames
    (command registry /root/reference/src/commands/commands.h:77)."""

    def __init__(self, spark: SparkSession, limits: QueryLimits | None = None):
        self.spark = spark
        self.catalog = Catalog()
        self.limits = limits or QueryLimits()
        # INFO SEARCH query/latency counters
        # (docs/topics/search-observables.md `query` + `latency` sections)
        from collections import Counter

        import threading

        self._metrics: "Counter[str]" = Counter()
        self._metrics_lock = threading.Lock()

    def _count(self, key: str, n: int = 1) -> None:
        """Bump one INFO SEARCH counter. ``+=`` on a Counter is a
        read-modify-write, so concurrent requests would lose updates
        without the lock."""
        with self._metrics_lock:
            self._metrics[key] += n

    # -- DDL ---------------------------------------------------------------
    def ft_create(self, name: str, df: DataFrame, fields: list[FieldDef],
                  key_column: str | None = None, cache: bool = False,
                  prederived: bool = False,
                  on_json: str | None = None,
                  prefixes: list[str] | None = None) -> IndexSchema:
        """``on_json=<column>`` declares the ON-JSON document model
        (/root/reference/src/attribute_data_type.h:114-139): fields whose
        identifier starts with ``$`` are JSONPaths into that JSON-text
        column and require an AS alias, exactly like FT.CREATE ... ON JSON
        SCHEMA $.path AS name TYPE. Non-$ fields still bind to ordinary
        frame columns, so hybrid frames work."""
        lim = self.limits
        # FT.CREATE validations (ft_create_parser.cc:244,384,404,623,781)
        if len(fields) > lim.max_attributes:
            raise QuerySyntaxError(
                f"Index has {len(fields)} attributes, exceeds max-attributes "
                f"{lim.max_attributes}")
        if prefixes and len(prefixes) > lim.max_prefixes:
            raise QuerySyntaxError(
                f"The number of prefixes ({len(prefixes)}) exceeds the "
                f"maximum allowed ({lim.max_prefixes})")
        for f in fields:
            if isinstance(f, TagField) and len(f.name) > lim.max_tag_field_length:
                raise QuerySyntaxError(
                    f"A tag field can have a maximum length of "
                    f"{lim.max_tag_field_length}.")
            if (type(f) is NumericField
                    and len(f.name) > lim.max_numeric_field_length):
                raise QuerySyntaxError(
                    f"A numeric field can have a maximum length of "
                    f"{lim.max_numeric_field_length}.")
            if isinstance(f, TextField) and f.weight != 1.0:
                # compat-only knob, pinned like the reference
                # (ft_create_parser.cc:528-531)
                raise QuerySyntaxError(
                    "The `WEIGHT` clause with a value other than `1.0` is "
                    "not supported.")
            if isinstance(f, VectorField) and not (
                    1 <= f.dim <= lim.max_vector_dimensions):
                raise QuerySyntaxError(
                    f"The dimensions value must be a positive integer "
                    f"greater than 0 and less than or equal to "
                    f"{lim.max_vector_dimensions}.")
        if on_json is not None:
            for f in fields:
                if f.name.startswith("$"):
                    if not f.alias:
                        raise QuerySyntaxError(
                            f"JSONPath identifier `{f.name}` requires AS alias")
                    f.json_source = on_json
        return self.catalog.create(
            IndexSchema(name, df, fields, key_column, cache=cache,
                        prederived=prederived,
                        prefixes=tuple(prefixes) if prefixes else None))

    def ft_build_ann(self, index: str, attr: str, path: str,
                     n_lists: int = 64, sample_fraction: float | None = None,
                     seed: int = 42, algorithm: str = "ivf",
                     **build_kwargs):
        """Build the ANN artifact for a VECTOR field — the Spark-batch
        equivalent of the reference's HNSW graph build
        (/root/reference/src/indexes/vector_hnsw.cc).

        ``algorithm="ivf"`` (default): parquet partitioned by centroid
        list; ft_search probes ⌈ef/k⌉ lists of it for a query's
        EF_RUNTIME. ``algorithm="hnsw"``: segment-local
        navigable-small-world graphs (operators/hnsw.py) — the
        reference's actual index shape — honoring the field's
        M / EF_CONSTRUCTION declaration; ft_search beams through it
        with the query's EF_RUNTIME as the beam width. Either way, a
        hybrid query without EF_RUNTIME on an HNSW field lets the
        planner choose. Every indexed column is persisted alongside the
        graph so hybrid predicates evaluate inline, in-traversal,
        exactly like the reference's filtered HNSW search.

        The index key column rides along as the artifact's mutation key,
        so both artifact kinds support append/delete by document key
        (the reference's live AddRecord/RemoveRecord surface). Extra
        kwargs pass through to the builder (IVF: ``quantize``, ``pq_m``,
        ``max_list_rows``; HNSW: ``m``, ``ef_construction``,
        ``max_segment_rows``)."""
        schema = self.catalog.get(index)
        fdef = schema.field(attr)
        if not isinstance(fdef, VectorField):
            raise QuerySyntaxError(f"field `{attr}` is not VECTOR")
        reserved = {"vec_col", "metric", "key_col"} & set(build_kwargs)
        if reserved:
            raise QuerySyntaxError(
                f"ft_build_ann sets {sorted(reserved)} itself — the "
                "engine owns the vector column, metric and document key")
        df = schema.indexed_df()  # _v_<attr> is validated (+normalized if cosine)
        if algorithm == "hnsw":
            from .hnsw import HNSWIndex

            vcol = vec_col(fdef.attr)
            # payload = ONLY the predicate-visible derived index columns
            # (tag arrays, numeric doubles, token/stem structs, field
            # masks): inline filters compile against these, never raw
            # source columns or other fields' vectors — persisting the
            # whole frame would duplicate the corpus inside the artifact
            payload = tuple(
                c for c in df.columns
                if c.startswith(("_t_", "_n_", "_x_", "_s_", "_sp_",
                                 "__fm_")))
            build_kwargs.setdefault("m", fdef.m)
            build_kwargs.setdefault("ef_construction", fdef.ef_construction)
            art = HNSWIndex.build(df, path, vec_col=vcol,
                                  key_col="__key", metric=fdef.metric,
                                  seed=seed, payload_cols=payload,
                                  sample_fraction=sample_fraction,
                                  **build_kwargs)
        elif algorithm == "ivf":
            from .ann import IVFIndex

            art = IVFIndex.build(df, path, vec_col=vec_col(fdef.attr),
                                 metric=fdef.metric, n_lists=n_lists,
                                 sample_fraction=sample_fraction, seed=seed,
                                 key_col="__key", **build_kwargs)
        else:
            raise QuerySyntaxError(
                f"unknown ANN algorithm `{algorithm}` (ivf | hnsw)")
        schema._ann[fdef.attr] = art
        return art

    def ft_explain(self, index: str, query: str,
                   params: dict | None = None, **kwargs) -> dict:
        """Plan inspection for a query — the debugging surface a
        Spark-native engine can offer that the reference cannot:
        the parsed predicate, the KNN clause and the planner's
        pre-filter-vs-inline decision, the executed physical plan,
        the filters PUSHED into the parquet scan, and the count of
        Python (Arrow) stages and exchanges. Builds the same lazy plan
        as ``ft_search`` (same kwargs) without executing it; the only
        work is Catalyst analysis, the index's planner row count and
        statistics if a hybrid query needs them and they are not yet
        collected (one job each, once per index version; the statistics
        only on an index large enough that the ANN path may win), and on
        an HNSW artifact the graph search, whose hits the plan carries as
        literals. ``knn`` carries the planner's ``estimated_rows`` and its
        ``exact_cost_ms`` / ``ann_cost_ms`` beside the ``mode``."""
        import re as _re

        if kwargs.get("count_only") or kwargs.get("_observe_total"):
            raise ValueError(
                "ft_explain inspects a plan without executing; "
                "count_only/_observe_total would run the query")
        # _ft_search (not ft_search): an explain is not a served
        # request, so no INFO SEARCH counter moves
        df, req, ann_mode, cost = self._ft_search(index, query,
                                                  params=params, **kwargs)
        parsed = req.parsed
        plan = df._jdf.queryExecution().executedPlan().toString()
        # plan toString truncates long scan lines: capture to the
        # closing bracket OR line end, and DROP a trailing fragment
        # that lost its bracket mid-token
        pushed = []
        for m in _re.finditer(r"PushedFilters: \[([^\]\n]*)(\]?)", plan):
            items = [f for f in m.group(1).split(", ") if f]
            if m.group(2) != "]" and items:
                items = items[:-1]          # truncated mid-item
            pushed.extend(f for f in items if f != "...")
        knn = None
        if parsed.knn is not None:
            # the planner's estimate and both modelled costs (ms); None
            # where it did not run or could not estimate
            est, exact_ms, ann_ms = (None,) * 3 if cost is None else cost[1:]
            knn = {"attr": parsed.knn.attr, "k": parsed.knn.k,
                   "mode": ann_mode, "estimated_rows": est,
                   "exact_cost_ms": exact_ms, "ann_cost_ms": ann_ms}
        return {
            "predicate": repr(parsed.predicate),
            "operations": sorted(query_operation_flags(req.pred)),
            "knn": knn,
            "pushed_filters": pushed,
            "python_stages": len(_re.findall(
                r"ArrowEvalPython|BatchEvalPython|MapInPandas", plan)),
            # ReusedExchange is a re-read, not a second shuffle
            "exchanges": len(_re.findall(r"(?<!Reused)Exchange ", plan)),
            "physical_plan": plan,
        }

    def ft_dropindex(self, name: str) -> None:
        self.catalog.drop(name)

    def ft_list(self) -> list[str]:
        return self.catalog.list()

    def ft_info(self, name: str, compute_stats: bool = False) -> dict:
        return self.catalog.info(name, compute_stats=compute_stats)

    def _run_with_timeout(self, action, timeout_ms: int | None):
        """Run an eager Spark action under a TIMEOUT budget: the call's
        jobs run in a dedicated job group that a timer cancels at the
        deadline (ft.search.md TIMEOUT — the reference returns a timeout
        error; the fanout partial-result modes have no single-engine
        analogue). Lazy ft_search calls return plans, so the budget
        applies where execution happens: count_only and reply paths."""
        if not timeout_ms:
            return action()
        import threading
        import uuid

        from ..errors import SearchTimeoutError

        sc = self.spark.sparkContext
        group = f"vss-timeout-{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(group, f"ft_search TIMEOUT {timeout_ms}ms",
                       interruptOnCancel=True)
        stop = threading.Event()
        fired = threading.Event()

        def canceller():
            # past the deadline, cancel REPEATEDLY until the action ends:
            # a single cancel is a no-op for jobs submitted after it fires
            # (driver-side planning can outlast a short budget)
            if not stop.wait(timeout_ms / 1000.0):
                fired.set()
                while not stop.is_set():
                    sc.cancelJobGroup(group)
                    stop.wait(0.05)

        t = threading.Thread(target=canceller, daemon=True)
        t.start()
        try:
            return action()
        except Exception as e:                    # noqa: BLE001
            # translate to a timeout ONLY when our canceller actually
            # fired AND the failure is the resulting job cancellation —
            # a genuine error that merely mentions "cancel" (or an error
            # racing the deadline) surfaces unchanged, with its cause
            if fired.is_set() and "cancel" in str(e).lower():
                raise SearchTimeoutError(
                    f"Search timed out after {timeout_ms} ms") from e
            raise
        finally:
            stop.set()
            try:
                sc._jsc.clearJobGroup()
            except Exception:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def info_search(self, compute_stats: bool = False) -> dict:
        """INFO SEARCH analogue (docs/topics/search-observables.md): the
        sections that exist in a batch engine. `query` counters classify
        successful ft_search calls (nonvector / vector / hybrid, inline vs
        pre-filtering); `latency` accumulates wall-time for EXECUTING
        calls only (count_only — lazy DataFrame returns are plans, not
        searches; their execution happens outside the engine and is not
        attributed back). The `hnsw_*` latency counter covers searches
        served by the ANN artifact — our IVF index is the engine's HNSW
        substitute (SURVEY §2.6) — while `flat_*` covers exact scans.
        Coordinator/thread-pool/hnswlib sections have no
        analogue (shuffle service + Catalyst own those concerns) and are
        omitted rather than faked."""
        with self._metrics_lock:
            m = self._metrics.copy()
        out = {
            "query": {k: int(m[k]) for k in (
                "successful_requests_count", "failure_requests_count",
                "vector_requests_count", "nonvector_requests_count",
                "hybrid_requests_count", "inline_filtering_requests_count",
                "prefiltering_requests_count")},
            "latency": {k: int(m[k]) for k in (
                "flat_vector_index_search_latency_usec",
                "hnsw_vector_index_search_latency_usec")},
            # per-operation counters (search.cc:907-935; DEV_INTEGER_
            # COUNTER(query_stats, ...) names), + text-requests total
            "query_stats": {k: int(m[k]) for k in (
                "query_text_requests_cnt",
                "query_numeric_count", "query_tag_count",
                "query_text_term_count", "query_text_prefix_count",
                "query_text_suffix_count", "query_text_fuzzy_count",
                "query_text_proximity_count")},
            "index_stats": {
                "number_of_indexes": len(self.catalog.list()),
                "number_of_attributes": sum(
                    len(self.catalog.get(n).fields)
                    for n in self.catalog.list()),
                "total_indexed_documents": None,
            },
            "indexing": {"background_indexing_status": "NO_ACTIVITY"},
        }
        if compute_stats:
            out["index_stats"]["total_indexed_documents"] = sum(
                self.catalog.info(n, compute_stats=True)["num_docs"]
                for n in self.catalog.list())
        return out

    # -- FT.SEARCH ---------------------------------------------------------
    def ft_search(
        self,
        index: str,
        query: str,
        params: dict | None = None,
        limit: tuple[int, int | None] = (0, 10),
        sortby: str | None = None,
        sortby_desc: bool = False,
        return_fields: list[ReturnField | str] | None = None,
        nocontent: bool = False,
        verbatim: bool = False,
        slop: int | None = None,
        inorder: bool = False,
        count_only: bool = False,
        dialect: int = 2,
        timeout_ms: int | None = None,
        withsortkeys: bool = False,
        _observe_total=None,
    ):
        """Returns a DataFrame (or an int when ``count_only`` — the
        LIMIT 0 0 shape, /root/reference/src/query/search.h:77-80).

        ``limit=(offset, n)`` follows FT.SEARCH LIMIT; ``n=None`` means
        explicitly unbounded ("give me every match") — the physical
        limit is then omitted so the plan keeps its parallelism instead
        of funneling through a single-partition exchange.

        ``dialect`` is accepted for API parity (the engine always speaks
        dialect-2 syntax). ``timeout_ms`` is ENFORCED on executing calls
        (count_only here, and ft_search_reply): the call's job group —
        every Spark job of the op, including the planner's row count and
        statistics and the graph path's load and allowed-set jobs — is
        cancelled at the deadline and SearchTimeoutError raised
        (ft.search.md TIMEOUT). Lazy calls return a plan, so the budget
        applies where execution happens; the reference's
        partial-results-on-timeout fanout modes have no single-engine
        analogue."""
        def run():
            return self._ft_search(
                index, query, params=params, limit=limit, sortby=sortby,
                sortby_desc=sortby_desc, return_fields=return_fields,
                nocontent=nocontent, verbatim=verbatim, slop=slop,
                inorder=inorder, count_only=count_only, dialect=dialect,
                timeout_ms=timeout_ms, withsortkeys=withsortkeys,
                _observe_total=_observe_total)

        try:
            # a count executes here: its budget covers every job of the op
            out, req, ann_mode, _ = (
                self._run_with_timeout(run, timeout_ms) if count_only
                else run())
        except Exception:
            self._count("failure_requests_count")
            raise
        # "successful" for a LAZY call means accepted + planned (execution
        # happens outside the engine, on the returned DataFrame, and is
        # not attributed back); count_only / reply calls execute here.
        self._count("successful_requests_count")
        # classify SUCCESSFUL requests (search-observables.md: nonvector =
        # exclusively non-vector; vector = any vector component; hybrid =
        # vector + filter, a subset of vector) from the request _ft_search
        # prepared — no second parse; the predicate reflects
        # preprocessing, so a pure-stopword filter classifies as nonhybrid
        parsed = req.parsed
        if parsed.knn is None:
            self._count("nonvector_requests_count")
        else:
            self._count("vector_requests_count")
            if not isinstance(parsed.predicate, MatchAll):
                self._count("hybrid_requests_count")
        # filtering strategy: the predicate ran IN the index (probed IVF
        # lists, or in-traversal on the graph) or before an exact scan
        if ann_mode == "inline":
            self._count("inline_filtering_requests_count")
        elif ann_mode == "prefilter":
            self._count("prefiltering_requests_count")
        # per-operation query_stats counters (search.cc:907-935
        # IncrementQueryOperationMetrics) — classified from the final
        # predicate, after the SLOP/INORDER proximity upgrade
        ops = query_operation_flags(req.pred)
        if "text" in ops:
            self._count("query_text_requests_cnt")
        for op, counter in (("numeric", "query_numeric_count"),
                            ("tag", "query_tag_count"),
                            ("text_term", "query_text_term_count"),
                            ("text_prefix", "query_text_prefix_count"),
                            ("text_suffix", "query_text_suffix_count"),
                            ("text_fuzzy", "query_text_fuzzy_count"),
                            ("proximity", "query_text_proximity_count")):
            if op in ops:
                self._count(counter)
        return out

    def _prepare(self, index: str, query: str, params: dict | None,
                 verbatim: bool, slop: int | None, inorder: bool,
                 dialect: int, check_unused_params: bool = True,
                 ) -> SearchRequest:
        """The search phase FT.SEARCH, FT.AGGREGATE and FT.EXPLAIN share:
        the DIALECT check, the query guards, KNN validation, the
        stopword pass and the SLOP/INORDER upgrade."""
        lim = self.limits
        if dialect not in (1, 2, 3, 4):
            raise QuerySyntaxError(f"invalid DIALECT {dialect}")
        # pre-parse guard (search.cc:1071): query length in bytes
        if len(query.encode("utf-8")) > lim.query_string_bytes:
            raise QuerySyntaxError(
                f"Query string exceeds maximum allowed size of "
                f"{lim.query_string_bytes} bytes (query-string-bytes)")
        schema = self.catalog.get(index)
        parsed = parse_query(query, params,
                             check_unused_params=check_unused_params)
        # post-parse guards (filter_parser.cc:933 depth, :1046 node count;
        # ft_search_parser.cc:36 max-vector-knn)
        depth, nodes = predicate_depth_and_count(parsed.predicate)
        if depth > lim.query_string_depth:
            raise QuerySyntaxError(
                f"Query nesting depth {depth} exceeds query-string-depth "
                f"{lim.query_string_depth}")
        if nodes > lim.query_string_terms_count:
            raise QuerySyntaxError(
                f"Query has {nodes} terms, exceeds query-string-terms-count "
                f"{lim.query_string_terms_count}")
        knn = parsed.knn
        if knn is not None:
            if knn.k > lim.max_vector_knn:
                raise QuerySyntaxError(
                    f"KNN k {knn.k} exceeds max-vector-knn "
                    f"{lim.max_vector_knn}")
            # the field must be VECTOR and the query vector must match
            # its DIM — the reference rejects a query blob whose byte
            # length isn't DIM*4 (vector_base.cc record validation).
            # Without this, a wrong-dim vector silently nulls every
            # distance and returns an EMPTY result instead of an error.
            vf = schema.field(knn.attr)
            if not isinstance(vf, VectorField):
                raise QuerySyntaxError(f"KNN field `{knn.attr}` is not VECTOR")
            if vf.dim and len(knn.vector) != vf.dim:
                raise QuerySyntaxError(
                    f"query vector has {len(knn.vector)} dimensions; field "
                    f"`{knn.attr}` is DIM {vf.dim} (FLOAT32 blob must be "
                    f"{4 * vf.dim} bytes)")
        translator = PredicateTranslator(schema, verbatim=verbatim,
                                         limits=lim)
        # stopword pass BEFORE the SLOP/INORDER upgrade: a dropped term must
        # not become a proximity slot (the reference drops it at parse, so
        # proximity spans only the surviving terms)
        parsed.predicate = translator.preprocess(parsed.predicate)
        return SearchRequest(schema, parsed,
                             self._maybe_proximity(parsed, slop, inorder),
                             translator)

    def _ft_search(
        self,
        index: str,
        query: str,
        params: dict | None = None,
        limit: tuple[int, int | None] = (0, 10),
        sortby: str | None = None,
        sortby_desc: bool = False,
        return_fields: list[ReturnField | str] | None = None,
        nocontent: bool = False,
        verbatim: bool = False,
        slop: int | None = None,
        inorder: bool = False,
        count_only: bool = False,
        dialect: int = 2,
        timeout_ms: int | None = None,
        withsortkeys: bool = False,
        _observe_total=None,
    ):
        """FT.SEARCH without the request counters. Returns (DataFrame or
        count, the SearchRequest, the ANN mode, the planner's ``KnnCost``
        or None when it did not run). The mode is ``exact`` /
        ``prefilter`` for the exact scan without / with a filter, ``ann``
        / ``inline`` for the ANN artifact without / with one, None for no
        KNN. Every Spark job it starts (the planner's row count and
        statistics, the resident graphs' load, the allowed set, a count)
        runs on the caller's thread, so a TIMEOUT wrapper around the call
        bounds them."""
        import time as _time

        _t0 = _time.perf_counter()
        off, n = limit
        if off < 0 or (n is not None and n < 0):
            raise QuerySyntaxError(
                f"LIMIT offset and num must not be negative, got {off} {n}")
        if timeout_ms is not None and timeout_ms < 0:
            raise QuerySyntaxError(
                f"TIMEOUT must not be negative, got {timeout_ms}")
        req = self._prepare(index, query, params, verbatim, slop, inorder,
                            dialect)
        schema, parsed, pred, translator = req
        knn = parsed.knn
        match_all = isinstance(pred, MatchAll)
        # the field's ANN artifact (ft_build_ann), if any: an IVFIndex or
        # a segment-graph HNSWIndex
        artifact = (None if knn is None
                    else schema._ann.get(schema.field(knn.attr).attr))
        budget = None           # the graph beam, or the IVF lists probed
        cost = None             # the planner's decision, when it ran
        if artifact is not None:
            from .hnsw import HNSWIndex

            graph = isinstance(artifact, HNSWIndex)
            if knn.ef_runtime:
                # EF_RUNTIME is natively the graph beam width
                # (vector_hnsw.cc ef_runtime). On IVF it maps to lists:
                # the HNSW candidate queue holds ~ef/k times more
                # candidates than results, so probe proportionally many
                # lists (the reference's src/query/search.cc)
                ef = knn.ef_runtime
                budget = ef if graph else max(1, min(
                    artifact.n_lists, math.ceil(ef / max(knn.k, 1))))
            elif not match_all and schema.field(knn.attr).algo == "hnsw":
                # the reference's pre-filter vs inline-filter choice
                # (planner.cc:21-46, search.cc:102-133 InlineVectorFilter),
                # by modelled cost: the row count first, the statistics
                # only if the filter's size can decide. The planner's
                # functions are read off its module at call time, so a
                # wrapper installed there sees the call.
                # inline defaults: a beam 4x the reference's default
                # dial, wide enough that a loose filter keeps recall; an
                # eighth of the IVF lists
                inline = (max(4 * knn.k, 40) if graph
                          else max(1, artifact.n_lists // 8))
                cost = planner.knn_cost(
                    schema.row_count(), schema.field(knn.attr).dim,
                    None if graph else inline / artifact.n_lists,
                    lambda: planner.estimate_match_fraction(
                        pred, schema.stats()))
                if cost.ann:
                    budget = inline

        # a KNN lazy frame without SORTBY takes its LIMIT page straight
        # from the top-k cut: one ORDER BY/LIMIT
        paged = (knn is not None and sortby is None and not count_only
                 and _observe_total is None)
        page = limit if paged else (0, None)
        ann_view = None         # the IVF answer's temp view, while planning
        try:
            if budget is None:
                ann_mode = (None if knn is None
                            else "exact" if match_all else "prefilter")
                cands = self._exact(req, *page)
            else:
                # the inline filter, as one SQL expression
                where = None if match_all else translator.translate(pred)
                ann_mode = "ann" if where is None else "inline"
                score = knn.score_alias()
                if graph:
                    # beam the resident segment graphs on the driver, then
                    # fetch the winners' records from the index view by
                    # key (the reference's post-HNSW hash fetch, SURVEY
                    # §2.1 row 3)
                    hits = artifact.search(knn.vector, k=knn.k, ef=budget,
                                           where=where)
                    hit_rows = _fetch_hits(sql_ident(schema.view), hits,
                                           score)
                else:
                    ann_view = f"vss_ann_{next(_ann_view_ids)}"
                    artifact.search(
                        knn.vector, k=knn.k, nprobe=budget, prefilter=where,
                        score_name=score, tiebreak_col="__key",
                    ).createOrReplaceTempView(ann_view)
                    hit_rows = f"SELECT * FROM {sql_ident(ann_view)}"
                cands = _top_k(hit_rows, score, knn.k, *page)

            if count_only:
                # the KNN candidates are the top-k cut, so every path
                # reports the <=k result-set size
                total = schema.sql(cands).count()
                if knn is not None:
                    tier = "flat" if budget is None else "hnsw"
                    self._count(f"{tier}_vector_index_search_latency_usec",
                                int((_time.perf_counter() - _t0) * 1e6))
                return total, req, ann_mode, cost
            return (self._finish(req, cands, None if paged else limit,
                                 sortby, sortby_desc, return_fields,
                                 nocontent, withsortkeys, _observe_total),
                    req, ann_mode, cost)
        finally:
            if ann_view is not None:
                # every statement over the view is analyzed by now
                schema.doc_df.sparkSession.catalog.dropTempView(ann_view)

    def _finish(self, req: SearchRequest, cands: str, limit, sortby,
                sortby_desc, return_fields, nocontent, withsortkeys,
                observation) -> DataFrame:
        """Shared tail over the candidate statement: SORTBY -> LIMIT ->
        RETURN. ``limit`` None: the candidates are already the page, in
        order. ``withsortkeys`` augments the output with the sort-key
        value as ``__sortkey`` (docs/commands/ft.search.md WITHSORTKEYS).

        With ``observation`` (a reply), the pre-LIMIT total comes from
        the same job as the rows (search.cc:779-842 computes both in one
        pass). A KNN reply counts its <= k candidates with a window over
        them (column ``__total``) and ships its first OFFSET+num rows in
        order: ``search_reply`` drops the OFFSET rows, so a page past the
        last hit still carries the total. Any other reply observes the
        count with a CollectMetrics node below the ORDER BY/LIMIT, whose
        TakeOrderedAndProject input — and hence the metrics node — sees
        every matching row."""
        schema, parsed = req.schema, req.parsed
        knn = parsed.knn
        score = knn.score_alias() if knn else None
        sortkey = None
        if sortby is not None:
            sortkey = self._sort_key(schema, sortby)
            order = (f"{sortkey} {'DESC' if sortby_desc else 'ASC'} "
                     "NULLS LAST")
        elif knn is not None:
            order = f"{sql_ident(score)} ASC NULLS LAST, `__key` ASC"
        else:
            order = None
        cols = self._project(schema, return_fields, nocontent, score,
                             sortkey if withsortkeys else None)
        if limit is None:
            return schema.sql(f"SELECT {cols} FROM ({cands})")
        off, n = limit
        if observation is not None and knn is not None:
            cut = "" if n is None else f" LIMIT {off + n}"
            return schema.sql(
                f"SELECT {cols}, `__total` FROM (SELECT *, count(*) OVER () "
                f"AS `__total` FROM ({cands}) ORDER BY {order}{cut})")
        if observation is not None:
            extra = (f", {sortkey} AS `__sortkey`"
                     if sortkey is not None and not withsortkeys else "")
            df = schema.sql(f"SELECT {cols}{extra} FROM ({cands})").observe(
                observation, F.expr("count(1) AS n"))
            # deterministic reply order + guarantees the limit cannot
            # short-circuit the scan under the observation
            if sortkey is None:
                df = df.orderBy("__key")          # keys are never null
            else:
                key = F.col("__sortkey")
                df = df.orderBy(key.desc_nulls_last() if sortby_desc
                                else key.asc_nulls_last())
            if off:
                df = df.offset(off)
            # an orderBy WITHOUT a limit becomes a range-partitioned Sort
            # whose boundary-sampling pass re-executes the child,
            # double-counting the CollectMetrics observation beneath
            df = df.limit(_OBSERVED_LIMIT_CAP if n is None else n)
            return df.drop("__sortkey") if extra else df
        inner = f"SELECT * FROM ({cands})"
        if order is not None:
            inner += f" ORDER BY {order}"
        # n=None (explicit "no limit"): skipping the physical limit keeps
        # the result parallel — a numeric limit compiles to GlobalLimit
        # over an Exchange SinglePartition, a serialization point that is
        # pure overhead on a fetch-everything call
        if n is not None:
            inner += f" LIMIT {n}"
        if off:
            inner += f" OFFSET {off}"
        return schema.sql(f"SELECT {cols} FROM ({inner})")

    @staticmethod
    def _sort_key(schema: IndexSchema, sortby: str) -> str:
        fdef = schema.field(sortby)
        if isinstance(fdef, NumericField):
            return sql_ident(num_col(fdef.attr))
        if isinstance(fdef, TagField) and not fdef.casesensitive:
            # sort by the INDEXED (case-folded) tag value, not the raw
            # source string (the reference sorts indexed values)
            return f"lower(CAST({fdef.source_sql()} AS STRING))"
        # source_sql resolves ON-JSON identifiers (JSONPath like `$.title`
        # is not a column name) the same way projection does; for ON-HASH
        # it is the plain column
        return f"CAST({fdef.source_sql()} AS STRING)"

    def ft_search_reply(self, index: str, query: str, params: dict | None = None,
                        limit: tuple[int, int | None] = (0, 10), **kw) -> list:
        """RESP-shaped FT.SEARCH reply ``[total, key, [f, v, ...], ...]``
        where ``total`` is the PRE-limit match count, computed in the SAME
        Spark job as the rows (see ``_finish``) — the reference reports
        both from one pass (src/query/search.cc:779-842).
        ``LIMIT 0 0`` degenerates to the count-only shape ``[total]``."""
        from pyspark.sql import Observation

        nocontent = kw.get("nocontent", False)
        if limit[1] == 0:
            return [self.ft_search(index, query, params=params, limit=limit,
                                   count_only=True,
                                   **{k: v for k, v in kw.items()
                                      if k != "nocontent"})]
        from .reply import search_reply

        obs = Observation()
        # the budget covers planning too: its jobs (the planner's row
        # count and statistics, the graph path) start before the reply's
        # own
        return self._run_with_timeout(
            lambda: search_reply(
                self.ft_search(index, query, params=params, limit=limit,
                               _observe_total=obs, **kw),
                observation=obs, nocontent=nocontent, offset=limit[0]),
            kw.get("timeout_ms"))

    # -- FT.AGGREGATE ------------------------------------------------------
    def ft_aggregate(
        self,
        index: str,
        query: str,
        stages: str = "",
        params: dict | None = None,
        verbatim: bool = False,
        slop: int | None = None,
        inorder: bool = False,
        dialect: int = 2,
    ) -> DataFrame:
        """FT.AGGREGATE: the search phase of FT.SEARCH (``_prepare``:
        command-level SLOP/INORDER/VERBATIM/DIALECT, ft.aggregate.md, and
        the query guards) as the exact-path statement, then the stage
        pipeline folds its frame (the reference's
        src/commands/ft_aggregate.cc:95-129, :348-364). The frame is
        lazy: a TIMEOUT applies where the reply executes it
        (CommandDispatcher)."""
        from .aggregate import AggregateExecutor, parse_stages

        # stage expressions may consume params too, so the parser's
        # unused-params validation is deferred (see filter_parser.parse)
        req = self._prepare(index, query, params, verbatim, slop, inorder,
                            dialect, check_unused_params=False)
        knn = req.parsed.knn
        execu = AggregateExecutor(req.schema, req.schema.sql(self._exact(req)),
                                  score_column=knn.score_alias() if knn
                                  else None)
        return execu.run(parse_stages(stages, params))

    def _maybe_proximity(self, parsed: ParsedQuery, slop: int | None, inorder: bool):
        """SLOP/INORDER upgrade a multi-term AND within one text field into
        a positional constraint (/root/reference/src/query/search.cc:226-298).
        An OR group of terms becomes one SLOT of alternatives — the
        reference's orproximity iterator
        (src/indexes/text/orproximity.cc)."""
        pred = parsed.predicate
        if slop is None and not inorder:
            return pred

        def slot(c):
            """(words, attr) for a plain TERM or an OR-of-TERMs; else None."""
            from ..parser.ast import Or

            if isinstance(c, TextPred) and c.kind == TERM:
                return c.value, c.attr
            if isinstance(c, Or) and all(
                isinstance(g, TextPred) and g.kind == TERM for g in c.children
            ):
                attrs = {g.attr for g in c.children}
                if len(attrs) == 1:
                    return [g.value for g in c.children], attrs.pop()
            return None

        if isinstance(pred, And):
            slots = [slot(c) for c in pred.children]
            if all(s is not None for s in slots):
                attrs = {a for _, a in slots}
                if len(attrs) == 1:
                    return Proximity(
                        attr=attrs.pop(),
                        words=[ws for ws, _ in slots],
                        slop=slop,
                        inorder=inorder,
                    )
        return pred

    def _exact(self, req: SearchRequest, off: int = 0,
               n: int | None = None) -> str:
        """The exact-path statement FT.SEARCH and FT.AGGREGATE share: the
        predicate filters the index view, then a KNN clause scores the
        survivors and keeps ranks ``off`` to ``off + n`` of the top k
        (all k by default; the ANN paths are chosen in _ft_search)."""
        knn = req.parsed.knn
        if knn is None:
            return _filtered(req)
        fdef = req.schema.field(knn.attr)
        score = knn.score_alias()
        dist = distance_sql(vec_col(fdef.attr), knn.vector, fdef.metric)
        return _top_k(f"SELECT *, {dist} AS {sql_ident(score)} "
                      f"FROM ({_filtered(req)})", score, knn.k, off, n)

    @staticmethod
    def _project(schema: IndexSchema, return_fields, nocontent: bool,
                 score_col: str | None, sortkey: str | None = None) -> str:
        """The RETURN projection as a SELECT list; a ``sortkey``
        expression is returned as ``__sortkey`` (WITHSORTKEYS)."""
        if nocontent:
            return "`__key`"
        extra = [f"{sortkey} AS `__sortkey`"] if sortkey is not None else []
        score = [sql_ident(score_col)] if score_col else []
        if return_fields is None:
            json_sources = [f.json_source for f in schema.fields
                            if f.json_source]
            if json_sources:
                # ON-JSON default reply: one pair named `$` holding the
                # whole JSON document (docs/commands/ft.search.md response)
                doc = [f"CAST({sql_ident(json_sources[0])} AS STRING) AS `$`"]
            else:
                doc = [sql_ident(c) for c in schema.doc_columns]
            return ", ".join(["`__key`"] + doc + extra + score)
        out = ["`__key`"] + extra
        for rf in return_fields:
            if isinstance(rf, str):
                rf = ReturnField(rf)
            alias = sql_ident(rf.alias or rf.name)
            if rf.name == score_col:
                out.append(f"{sql_ident(rf.name)} AS {alias}")
                continue
            fdef = schema.field(rf.name) if rf.name in schema._by_attr else None
            # a RETURN identifier must name an indexed attribute or a
            # record (hash) field. The reference silently omits a field
            # absent from the hash (per-row reply maps can do that); a
            # fixed-schema frame cannot, so an unknown name is reported
            # as the field error it almost certainly is instead of
            # leaking Spark's AnalysisException
            if fdef is None and rf.name not in schema.columns:
                raise UnknownFieldError(
                    f"RETURN field `{rf.name}` is neither an indexed "
                    "attribute nor a record field")
            # source_sql handles ON-JSON attributes: the returned value is
            # the JSONPath extraction, not a frame column
            src = fdef.source_sql() if fdef else sql_ident(rf.name)
            out.append(f"{src} AS {alias}")
        if score_col and all(
            (rf.name if isinstance(rf, ReturnField) else rf) != score_col for rf in return_fields
        ):
            out += score
        return ", ".join(out)

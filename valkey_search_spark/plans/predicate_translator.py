"""Predicate AST -> Spark SQL boolean expression text.

This replaces the reference's entire physical index layer: what
valkey-search answers with B+-trees / rax tries / postings
(/root/reference/src/indexes/), we express as Catalyst boolean
expressions over the derived columns — predicate pushdown, min/max
skipping, and whole-stage codegen then do the work of the tries.

The translator writes SQL text, which the engine splices into the one
statement each FT.SEARCH op runs (operators/search.py), so a predicate
of any size reaches the JVM in that statement's single parse instead of
one py4j round-trip per Column node. One literal rule holds throughout:
numbers are typed DOUBLE literals (``double_literal``), every user
string is ``CAST(X'<utf-8 hex>' AS STRING)`` (no text ever needs
escaping), and identifiers are backquoted with inner backquotes doubled
(``functions/sqltext.py``). The Python kernels (fuzzy match, phrase
specifiers, overlapping-slot proximity) are registered once per session
as named SQL functions that take their word, distance and slots as
literal arguments.

Null discipline (the subtle part, SURVEY.md §4.1 "Negation"): leaves
stay NULL-propagating so simple tag/numeric comparisons remain
parquet-pushable (a NULL from a missing/untracked field is dropped by
Filter like false); ``NOT p`` coalesces its child so keys missing the
field DO match the negation (/root/reference/src/query/predicate.h:113,
untracked-key sets src/indexes/numeric.h:128), and the top level
coalesces once for safety.
"""

from __future__ import annotations

import math
import threading
import weakref
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import functions as F, types as T

from ..catalog import (
    MASK_STEM_COL, MASK_TOK_COL, IndexSchema, NumericField, TagField,
    TextField, num_col, stem_col, stem_pos_col, tag_col, text_col,
)
from ..errors import QuerySyntaxError
from ..functions.analysis import lex_query_text, stem_query_term
from ..functions.sqltext import double_literal, sql_ident, sql_str
from ..parser.ast import (
    FUZZY, INFIX, PHRASE, PREFIX, SUFFIX, TERM,
    And, MatchAll, Not, NumericPred, Or, Predicate, Proximity, TagPred,
    TextPred,
)


# sentinel: fieldless-uniform translation declined, use the per-field OR
_PER_FIELD = object()


def _str_array(words) -> str:
    return "array(" + ", ".join(sql_str(w) for w in words) + ")"


def _all(parts: list[str]) -> str:
    return parts[0] if len(parts) == 1 else "(" + " AND ".join(parts) + ")"


def _any(parts: list[str]) -> str:
    return parts[0] if len(parts) == 1 else "(" + " OR ".join(parts) + ")"


def _false_if_null(x: str) -> str:
    return f"coalesce({x}, false)"


def damerau_levenshtein(a: str, b: str) -> int:
    """Optimal-string-alignment Damerau-Levenshtein. The reference's fuzzy
    search counts transpositions as one edit
    (/root/reference/src/indexes/text/fuzzy.h:24, docs/full-text/fuzzy.md) —
    Spark's builtin ``levenshtein`` does not, hence this Python kernel."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 3:
        return max(la, lb)
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


# -- Python kernels, registered per session as named SQL functions ---------
# Each argument after the first is a literal, so every row of a batch
# carries the same value: the kernel reads it from the first row.

def _fuzzy_kernel(tokens: pd.Series, word: pd.Series,
                  dist: pd.Series) -> pd.Series:
    """vss_fuzzy_match(array<string>, word, distance): some token within
    the Damerau-Levenshtein distance of the word."""
    if tokens.empty:
        return pd.Series([], dtype=bool)
    w, d = word.iloc[0], int(dist.iloc[0])

    def go(lst):
        if lst is None:
            return False
        return any(damerau_levenshtein(t, w) <= d for t in lst)

    return tokens.apply(go)


def _phrase_specs_kernel(tok_lists: pd.Series, words: pd.Series,
                         kinds: pd.Series, dists: pd.Series) -> pd.Series:
    """vss_phrase_specs(array<struct<t,p>>, words, kinds, distances):
    phrase chain with wildcard/fuzzy members (docs/full-text/phrase.md):
    member i must match at position anchor+i. Resolves each member's
    position set per row, then walks anchors of member 0 — O(tokens x
    members) with the fuzzy edit-distance kernel only on length-plausible
    tokens."""
    if tok_lists.empty:
        return pd.Series([], dtype=bool)
    members = list(zip(words.iloc[0], kinds.iloc[0],
                       (int(d) for d in dists.iloc[0])))

    def matches(token: str, word: str, kind: str, dist: int) -> bool:
        if kind == PREFIX:
            return token.startswith(word)
        if kind == SUFFIX:
            return token.endswith(word)
        if kind == INFIX:
            return word in token
        if kind == FUZZY:
            return (abs(len(token) - len(word)) <= dist
                    and damerau_levenshtein(token, word) <= dist)
        return token == word

    k = len(members)

    def go(lst):
        if lst is None:
            return False
        pos_sets: list[set[int]] = [set() for _ in range(k)]
        for s in lst:
            t, p = s["t"], s["p"]
            for i, (word, kind, dist) in enumerate(members):
                if matches(t, word, kind, dist):
                    pos_sets[i].add(p)
        if any(not ps for ps in pos_sets):
            return False
        return any(all(p + i in pos_sets[i] for i in range(1, k))
                   for p in pos_sets[0])

    return tok_lists.apply(go)


def _slots_overlap(slots: list[list[str]]) -> bool:
    """True when any word appears in more than one slot (duplicate query
    terms, or stem collisions across OR groups)."""
    seen: set[str] = set()
    for ws in slots:
        cur = set(ws)
        if seen & cur:
            return True
        seen |= cur
    return False


def _proximity_matcher(slots: list[list[str]], slop: int | None,
                       inorder: bool, inorder_compat: bool = False):
    """Positional multi-slot match over one row's (t, p) token structs:
    exists an assignment of one token position per SLOT (a slot is a set
    of alternative words — single terms or an OR group, the reference's
    orproximity iterator, src/indexes/text/orproximity.cc), positions
    distinct, with total intervening-token count (max-min+1-k) <= slop, in
    query order if ``inorder`` (the reference's
    src/indexes/text/proximity.h:47).
    ``slop=None`` (INORDER without SLOP) checks ordering only — the
    reference applies the span bound only when slop is set
    (proximity.h slop_.has_value()).

    Linear-time algorithms (the reference's iterator is a sorted merge, and
    a naive cross-product blows up on 5-term queries over frequent words):
    unordered -> minimum-window over the merged position stream; inorder ->
    greedy chain per starting position (greedy over strictly increasing
    positions is exact and never reuses a position). Only when slots share
    words (duplicate query terms, or stem collisions across OR groups) can
    the window pick one position for two slots, so that case falls back to
    a distinctness-checked product."""
    from bisect import bisect_right

    k = len(slots)
    win = math.inf if slop is None else slop       # None -> ordering only
    word_map: dict[str, list[int]] = {}
    for si, ws in enumerate(slots):
        for w in dict.fromkeys(ws):
            word_map.setdefault(w, []).append(si)
    overlapping = any(len(v) > 1 for v in word_map.values())

    def _unordered_overlap(pos_by_slot):
        import itertools

        for combo in itertools.product(*pos_by_slot):
            if len(set(combo)) != k:
                continue
            seq = sorted(combo)
            if (seq[-1] - seq[0] + 1 - k) <= win:
                return True
        return False

    def _unordered(pos_by_slot):
        # merged (position, slot) stream + sliding window holding >=1 of
        # every slot; window cost = span+1-k
        merged = sorted((p, si) for si, ps in enumerate(pos_by_slot)
                        for p in ps)
        need = k
        counts = [0] * k
        lo = 0
        for hi, (p_hi, si_hi) in enumerate(merged):
            if counts[si_hi] == 0:
                need -= 1
            counts[si_hi] += 1
            while need == 0:
                p_lo, si_lo = merged[lo]
                if (p_hi - p_lo + 1 - k) <= win:
                    return True
                counts[si_lo] -= 1
                if counts[si_lo] == 0:
                    need += 1
                lo += 1
        return False

    def _inorder(pos_by_slot):
        # compat mode (proximity-inorder-compat-mode, proximity.cc:190-204):
        # ordering checked on start positions only, overlap permitted —
        # successor positions may EQUAL the previous slot's position.
        # Default strict mode requires strictly increasing positions.
        from bisect import bisect_left
        seek = bisect_left if inorder_compat else bisect_right
        for p1 in pos_by_slot[0]:
            prev = p1
            ok = True
            for si in range(1, k):
                ps = pos_by_slot[si]
                j = seek(ps, prev)
                if j == len(ps):
                    ok = False
                    break
                prev = ps[j]
            if ok and (prev - p1 + 1 - k) <= win:
                return True
        return False

    def go(lst):
        if lst is None:
            return False
        pos_by_slot: list[list[int]] = [[] for _ in range(k)]
        for s in lst:
            for si in word_map.get(s["t"], ()):
                pos_by_slot[si].append(s["p"])
        if any(not ps for ps in pos_by_slot):
            return False
        if inorder:
            return _inorder(pos_by_slot)
        if overlapping:
            return _unordered_overlap(pos_by_slot)
        return _unordered(pos_by_slot)

    return go


def _proximity_kernel(tok_lists: pd.Series, slots: pd.Series,
                      slop: pd.Series, inorder: pd.Series,
                      compat: pd.Series) -> pd.Series:
    """vss_proximity(array<struct<t,p>>, slots, slop | NULL, inorder,
    compat): ``_proximity_matcher`` per row."""
    if tok_lists.empty:
        return pd.Series([], dtype=bool)
    s0 = slop.iloc[0]
    go = _proximity_matcher([list(ws) for ws in slots.iloc[0]],
                            None if pd.isna(s0) else int(s0),
                            bool(inorder.iloc[0]), bool(compat.iloc[0]))
    return tok_lists.apply(go)


_KERNELS = {"vss_fuzzy_match": _fuzzy_kernel,
            "vss_phrase_specs": _phrase_specs_kernel,
            "vss_proximity": _proximity_kernel}
_kernel_lock = threading.Lock()
_kernel_sessions: "weakref.WeakSet" = weakref.WeakSet()


def _register_kernels(spark) -> None:
    """Register the Python kernels as SQL functions, once per session."""
    with _kernel_lock:
        if spark not in _kernel_sessions:
            for name, fn in _KERNELS.items():
                spark.udf.register(name, F.pandas_udf(fn, T.BooleanType()))
            _kernel_sessions.add(spark)


@dataclass
class QueryLimits:
    """Engine configurables guarding expensive query forms
    (docs/topics/search-configurables.md)."""

    # minimum chars before trailing `*` in TAG wildcards
    # (/root/reference/src/valkey_search_options.cc:344, default 2)
    tag_min_prefix_length: int = 2
    # maximum fuzzy edit distance
    # (/root/reference/src/commands/filter_parser.cc:62, default 3)
    fuzzy_max_distance: int = 3
    # max FT.SEARCH query string length in bytes
    # (/root/reference/src/valkey_search_options.cc:65, default 10240;
    # enforced pre-parse, src/query/search.cc:1071)
    query_string_bytes: int = 10240
    # max predicate nesting depth
    # (/root/reference/src/valkey_search_options.cc:506, default 1000;
    # enforced filter_parser.cc:933)
    query_string_depth: int = 1000
    # max predicate tree node count
    # (/root/reference/src/commands/filter_parser.cc:44, default 1000;
    # enforced filter_parser.cc:1046)
    query_string_terms_count: int = 1000
    # max KNN k (/root/reference/src/commands/ft_search_parser.cc:36)
    max_vector_knn: int = 100000
    # proximity-inorder-compat-mode (src/indexes/text/proximity.cc:8-19,
    # default false = strict range+overlap check): when true, INORDER
    # checks start positions only and permits position overlap
    proximity_inorder_compat: bool = False
    # FT.CREATE-time limits (/root/reference/src/commands/ft_create_parser.cc:62-66)
    max_attributes: int = 1000          # attributes per index
    max_prefixes: int = 8               # key prefixes per index
    max_tag_field_length: int = 256     # TAG attribute identifier length
    max_numeric_field_length: int = 128  # NUMERIC attribute identifier length
    max_vector_dimensions: int = 32768  # VECTOR DIM upper bound


def predicate_depth_and_count(pred) -> tuple[int, int]:
    """(max nesting depth, node count) of a Predicate tree — the engine's
    counterpart of the reference's parse-time level/node accounting."""
    children = getattr(pred, "children", None)
    if children is None:
        child = getattr(pred, "child", None)
        children = [child] if child is not None else []
    if not children:
        return 1, 1
    depths, counts = zip(*(predicate_depth_and_count(c) for c in children))
    return 1 + max(depths), 1 + sum(counts)


class PredicateTranslator:
    """Compiles a Predicate tree to one SQL boolean expression over the
    index's derived columns (exec-strategy counterpart of
    /root/reference/src/query/search.cc:300-454)."""

    def __init__(self, schema: IndexSchema, verbatim: bool = False,
                 limits: QueryLimits | None = None):
        self.schema = schema
        self.verbatim = verbatim
        self.limits = limits or QueryLimits()

    def translate(self, p: Predicate) -> str:
        """Top-level filter expression. Leaves stay NULL-propagating (a
        missing field yields NULL -> dropped by Filter, same as false) so
        simple comparisons remain parquet-pushable; the one place NULL must
        read as a definite boolean is under NOT — a doc missing the field
        DOES match the negation (the reference's src/query/predicate.h:113,
        untracked-key complement numeric.h:128) — so only NOT coalesces.
        No top-level coalesce: Filter already treats NULL as false, and
        wrapping would block parquet pushdown of the whole conjunction.

        Stopword-only / empty TERMs are DROPPED from the tree, not matched
        as false (filter_parser.cc:766-768 returns a null predicate that
        the parse loop skips); a query that reduces to nothing is a syntax
        error (filter_parser.cc:891-893 "Invalid Query Syntax")."""
        return self._tr(self.preprocess(p))

    # -- parse-order stopword pass ----------------------------------------
    def preprocess(self, p: Predicate) -> Predicate:
        """Schema-aware rewrite mirroring the reference parse loop's
        stopword handling, in parse order:

        - A run of consecutive same-field text units is one
          ``ParseTextTokens`` call: stopword-only terms inside it are
          skipped (filter_parser.cc:766-768) and a pending ``-``
          (consumed in the parse loop at :951 before the call) negates the
          FIRST surviving term of the run, so ``-the widget`` parses as
          NOT(widget), not NOT(the)&widget.
        - A run that drops ALL its terms while no effective operation has
          been recorded yet raises "Invalid Query Syntax"
          (filter_parser.cc:891-893, query_operations_ still kNone):
          ``the @p:{x}`` errors, ``@p:{x} the`` succeeds. Inside OR
          alternatives drops are silent — ``the|widget`` stays one run.

        Idempotent: a preprocessed tree has no droppable units left, so
        callers may preprocess early (e.g. before SLOP/INORDER upgrades)
        and ``translate`` re-runs it harmlessly."""
        ops = [0]
        out = self._pp_and([p], ops, silent=False)
        if out is None:
            raise QuerySyntaxError("Invalid Query Syntax")
        return out

    def _unit_drops(self, p: Predicate) -> bool:
        """True when a text unit vanishes at parse time on EVERY target
        field: a TERM lexing to only stopwords, or a phrase lexing to
        nothing at all. Quoted phrases with surviving tokens are NOT
        stopword-filtered (ParseQuotedTextToken, filter_parser.cc:594-625)
        — they stay in the tree and match zero rows (see ``_phrase``)."""
        if not isinstance(p, TextPred):
            return False
        try:
            fields = self._text_attrs(p.attr)
        except QuerySyntaxError:
            return False  # wrong-type field errors surface in translation
        if p.kind == TERM:
            return all(
                not [t for t in lex_query_text(p.value, f.punctuation)
                     if t not in f.stopwords]
                for f in fields)
        if p.kind == PHRASE:
            return all(
                not [t for wd in p.words
                     for t in lex_query_text(wd, f.punctuation)]
                for f in fields)
        return False

    def _pp(self, p: Predicate, ops: list[int], silent: bool):
        if isinstance(p, And):
            return self._pp_and(p.children, ops, silent)
        if isinstance(p, Or):
            kids = [k for k in (self._pp(c, ops, True) for c in p.children)
                    if k is not None]
            if not kids:
                return None
            return kids[0] if len(kids) == 1 else Or(kids)
        if isinstance(p, Not):
            inner = self._pp(p.child, ops, True)
            return None if inner is None else Not(inner)
        if isinstance(p, TextPred):
            if self._unit_drops(p):
                return None
            ops[0] += 1
            return p
        ops[0] += 1  # tag / numeric / match-all / proximity: recorded op
        return p

    def _pp_and(self, children, ops: list[int], silent: bool):
        out: list[Predicate] = []
        in_run = False          # inside a consecutive same-field text run
        run_attr: str | None = None
        run_survived = False
        run_had_drop = False
        pending_negate = False

        def close_run():
            nonlocal in_run, run_survived, run_had_drop, pending_negate
            if (in_run and run_had_drop and not run_survived
                    and not silent and ops[0] == 0):
                raise QuerySyntaxError("Invalid Query Syntax")
            in_run = run_survived = run_had_drop = pending_negate = False

        def run_term(t: TextPred, negated: bool):
            nonlocal run_survived, run_had_drop, pending_negate
            if self._unit_drops(t):
                run_had_drop = True
                pending_negate = pending_negate or negated
                return
            if negated or pending_negate:
                out.append(Not(t))
            else:
                out.append(t)
            pending_negate = False
            run_survived = True
            ops[0] += 1

        for ch in children:
            is_text = isinstance(ch, TextPred)
            is_neg_text = isinstance(ch, Not) and isinstance(ch.child, TextPred)
            attr = (ch.attr if is_text
                    else ch.child.attr if is_neg_text else None)
            if is_neg_text:
                close_run()  # '-' is consumed in the parse loop: new run
                in_run, run_attr = True, attr
                run_term(ch.child, negated=True)
            elif is_text:
                if not in_run or attr != run_attr:
                    close_run()
                    in_run, run_attr = True, attr
                run_term(ch, negated=False)
            else:
                close_run()
                k = self._pp(ch, ops, silent)
                if k is None:
                    if not silent and ops[0] == 0:
                        raise QuerySyntaxError("Invalid Query Syntax")
                else:
                    out.append(k)
        close_run()
        if not out:
            return None
        return out[0] if len(out) == 1 else And(out)

    def translate_staged(self, p: Predicate):
        """(jvm_sql | None, udf_sql | None): split the predicate so
        Python-backed leaves (fuzzy, proximity) evaluate AFTER a separate
        JVM candidate filter. Catalyst evaluates a Python UDF for every
        input row of its ArrowEvalPython node and keeps cheap conjuncts of
        the SAME Filter above it, so a combined filter ships the whole
        corpus' token arrays through Arrow; the engine applies the two
        parts as separate filters with a barrier in between. Split only
        happens for top-level AND conjuncts (and bare leaves); any
        Python-backed leaf under OR/NOT falls back to the combined
        expression."""
        p = self.preprocess(p)
        conjuncts = p.children if isinstance(p, And) else [p]
        if isinstance(p, (Or, Not)):
            return self._tr(p), None
        jvm_parts: list[str] = []
        udf_parts: list[str] = []
        dropped_all = True
        for c in conjuncts:
            if isinstance(c, Proximity):
                jvm_parts.append(self._proximity_guard(c))
                udf_parts.append(self._proximity(c))
                dropped_all = False
            elif isinstance(c, TextPred) and c.kind == FUZZY:
                jvm_parts.append(self._fuzzy_guard(c))
                udf_parts.append(self._text(c))
                dropped_all = False
            else:
                sql = self._tr_opt(c)
                if sql is not None:
                    jvm_parts.append(sql)
                    dropped_all = False
        if dropped_all:
            raise QuerySyntaxError("Invalid Query Syntax")
        return (_all(jvm_parts) if jvm_parts else None,
                _all(udf_parts) if udf_parts else None)

    def _kernel(self, name: str) -> str:
        """The SQL name of a Python kernel, registered in the index's
        session on first use."""
        _register_kernels(self.schema.doc_df.sparkSession)
        return name

    def _proximity_stemmed(self, fdef: TextField) -> bool:
        return not (fdef.nostem or self.verbatim)

    def _proximity_slots(self, fdef: TextField, p: Proximity) -> list[list[str]]:
        """Query slots as matched against the field: each slot is a set of
        alternative words (plain terms contribute one, OR groups several —
        the reference's orproximity), stem-expanded like single TERMs
        unless NOSTEM/VERBATIM (src/query/search.cc:226-298)."""
        slots = [[w] if isinstance(w, str) else list(w) for w in p.words]
        if self._proximity_stemmed(fdef):
            slots = [[stem_query_term(w, fdef.min_stem_size) for w in ws]
                     for ws in slots]
        return [list(dict.fromkeys(ws)) for ws in slots]

    def _slot_presence(self, fdef: TextField, p: Proximity):
        """(column, aligned, slots, condition) for one target field: the
        positional column (the position-aligned stems unless NOSTEM /
        VERBATIM) and the JVM-only condition that it holds at least one
        alternative word of every slot."""
        slots = self._proximity_slots(fdef, p)
        aligned = self._proximity_stemmed(fdef)
        col = sql_ident(stem_pos_col(fdef.attr) if aligned
                        else text_col(fdef.attr))

        def has(w):
            if aligned:
                return f"array_contains({col}, {sql_str(w)})"
            return f"exists({col}, s -> s.t = {sql_str(w)})"

        cond = _all([f"({col} IS NOT NULL)"]
                    + [_any([has(w) for w in ws]) for ws in slots])
        return col, aligned, slots, cond

    def _proximity_guard(self, p: Proximity) -> str:
        """JVM-only candidate condition: every slot has at least one of its
        alternative words present in a target text field."""
        conds = []
        for fdef in self._text_attrs(p.attr):
            if not fdef.with_offsets:
                # positional matching needs offsets, same gate as phrases
                # (filter_parser.cc:876)
                raise QuerySyntaxError("Index does not support offsets")
            conds.append(self._slot_presence(fdef, p)[3])
        return _false_if_null(_any(conds))

    def _fuzzy_guard(self, p: TextPred) -> str:
        """JVM-only: some token within the edit-distance length window."""
        return _false_if_null(_any([
            f"exists({sql_ident(text_col(fdef.attr))}, "
            f"s -> abs(length(s.t) - {len(p.value)}) <= {int(p.distance)})"
            for fdef in self._text_attrs(p.attr)]))

    def _tr(self, p: Predicate) -> str:
        sql = self._tr_opt(p)
        if sql is None:
            # every leaf was a dropped stopword/empty term: the reference
            # rejects a query with no effective operations
            # (filter_parser.cc:891-893)
            raise QuerySyntaxError("Invalid Query Syntax")
        return sql

    def _tr_opt(self, p: Predicate) -> str | None:
        """Translate, or return None when the node is DROPPED (stopword-only
        text, matching the reference's null-predicate skip). And/Or simply
        lose the dropped child; a Not over a dropped child is itself
        dropped."""
        if isinstance(p, MatchAll):
            return "true"
        if isinstance(p, (And, Or)):
            parts = [s for s in (self._tr_opt(ch) for ch in p.children)
                     if s is not None]
            if not parts:
                return None
            return _all(parts) if isinstance(p, And) else _any(parts)
        if isinstance(p, Not):
            child = self._tr_opt(p.child)
            if child is None:
                return None
            # missing-field-matches: NULL child -> false -> negation true
            return f"(NOT {_false_if_null(child)})"
        if isinstance(p, TagPred):
            return self._tag(p)
        if isinstance(p, NumericPred):
            return self._numeric(p)
        if isinstance(p, TextPred):
            return self._text(p)
        if isinstance(p, Proximity):
            return self._proximity(p)
        raise QuerySyntaxError(f"untranslatable predicate {p!r}")

    # -- leaves (all coalesced: missing field never matches) ---------------
    def _tag(self, p: TagPred) -> str:
        fdef = self.schema.field(p.attr)
        if not isinstance(fdef, TagField):
            raise QuerySyntaxError(f"field `{p.attr}` is not TAG")
        col = sql_ident(tag_col(fdef.attr))
        exact = [fdef.fold_query_tag(t) for t, pre, _ in p.tags if not pre]
        prefixes = [(fdef.fold_query_tag(t), rl)
                    for t, pre, rl in p.tags if pre]
        conds: list[str] = []
        if exact:
            conds.append(f"arrays_overlap({col}, {_str_array(exact)})")
        for pre, raw_len in prefixes:
            # the reference guards on the RAW query-text length including
            # backslashes (tag.cc:160-166 `tag.length() <= min`), so an
            # escaped `{b\*}` passes where `{b*}` is rejected
            if raw_len <= self.limits.tag_min_prefix_length:
                raise QuerySyntaxError(
                    f"tag prefix `{pre}*` too short for prefix wildcard"
                    f" (tag-min-prefix-length"
                    f" {self.limits.tag_min_prefix_length})")
            conds.append(f"exists({col}, t -> startswith(t, {sql_str(pre)}))")
        return _any(conds)

    def _numeric(self, p: NumericPred) -> str:
        fdef = self.schema.field(p.attr)
        if not isinstance(fdef, NumericField):
            raise QuerySyntaxError(f"field `{p.attr}` is not NUMERIC")
        col = sql_ident(num_col(fdef.attr))
        conds: list[str] = []
        if not (p.lo == -math.inf and not p.lo_excl):
            conds.append(f"{col} {'>' if p.lo_excl else '>='} "
                         f"{double_literal(p.lo)}")
        if not (p.hi == math.inf and not p.hi_excl):
            conds.append(f"{col} {'<' if p.hi_excl else '<='} "
                         f"{double_literal(p.hi)}")
        if not conds:
            return f"({col} IS NOT NULL)"  # [-inf +inf] == tracked-for-field
        return _all(conds)

    # -- text ---------------------------------------------------------------
    def _text_attrs(self, attr: str | None) -> list[TextField]:
        if attr is not None:
            fdef = self.schema.field(attr)
            if not isinstance(fdef, TextField):
                raise QuerySyntaxError(f"field `{attr}` is not TEXT")
            return [fdef]
        fields = self.schema.text_fields
        if not fields:
            raise QuerySyntaxError("fieldless text query but index has no TEXT fields")
        return fields

    def _text(self, p: TextPred) -> str | None:
        fields = self._text_attrs(p.attr)
        if p.attr is None and len(fields) > 1:
            out = self._text_fieldless_uniform(fields, p)
            if out is not _PER_FIELD:
                return out
        conds = [c for c in (self._text_one(f, p) for f in fields)
                 if c is not None]
        if not conds:
            return None  # stopword-only term on every target field: dropped
        return _false_if_null(_any(conds))

    def _text_fieldless_uniform(self, fields: list[TextField],
                                p: TextPred):
        """Fieldless predicates over UNIFORM-config fields.

        Two concerns meet here. Semantics: the reference parses an
        unquoted composite token ("hello.world") into SEPARATE term
        predicates each carrying the FULL field mask, ANDed at the top
        (filter_parser.cc ParseTextTokens "stop after first token") —
        i.e. every token in ANY field, fields may differ per token. The
        per-field fallback below computes OR-of-fields(AND-of-tokens),
        which demands one field hold all tokens; with uniform analysis
        config we can and do implement the reference's AND-of-tokens
        (OR-of-fields) exactly. Physics: when the schema carries the
        union field-mask columns (wide uniform schemas,
        IndexSchema.fieldmask_fields), a single-token predicate scans
        ONE array column instead of len(fields) — the Spark analogue of
        the reference's GetAllTextFieldMask lookup.

        Returns _PER_FIELD to fall through to the per-field OR path
        (non-uniform config, or positional kinds where positions cannot
        cross fields)."""
        f0 = fields[0]
        if p.kind == PHRASE:
            return _PER_FIELD
        sig = {(f.stopwords, f.punctuation, f.min_stem_size, f.nostem)
               for f in fields}
        if len(sig) != 1:
            return _PER_FIELD
        mask = self.schema.fieldmask_fields() or None
        mt = sql_ident(MASK_TOK_COL) if mask else None

        def any_field_has_token(qt: str) -> str:
            if mask:
                if f0.nostem or self.verbatim or p.verbatim:
                    return f"array_contains({mt}, {sql_str(qt)})"
                stem = stem_query_term(qt, f0.min_stem_size)
                return (f"array_contains({sql_ident(MASK_STEM_COL)}, "
                        f"{sql_str(stem)})")
            return _any([self._term_cond(f, qt, p) for f in fields])

        if p.kind == TERM:
            qtoks = [t for t in lex_query_text(p.value, f0.punctuation)
                     if t not in f0.stopwords]
            if not qtoks:
                return None
            return _all([_false_if_null(any_field_has_token(qt))
                         for qt in qtoks])

        if mask is None:
            return _PER_FIELD        # single-token kinds: same semantics
        w = sql_str(p.value)         # either way; mask is purely physical
        if p.kind == PREFIX:
            return _false_if_null(f"exists({mt}, t -> startswith(t, {w}))")
        if p.kind in (SUFFIX, INFIX):
            if not f0.with_suffixtrie:
                raise QuerySyntaxError(
                    "suffix/infix queries need WITHSUFFIXTRIE on the "
                    "target fields")
            fn = "endswith" if p.kind == SUFFIX else "contains"
            return _false_if_null(f"exists({mt}, t -> {fn}(t, {w}))")
        if p.kind == FUZZY:
            if p.distance > self.limits.fuzzy_max_distance:
                raise QuerySyntaxError(
                    f"fuzzy distance {p.distance} exceeds fuzzy-max-distance"
                    f" ({self.limits.fuzzy_max_distance})")
            d = int(p.distance)
            plausible = (f"exists({mt}, t -> abs(length(t) - "
                         f"{len(p.value)}) <= {d})")
            return _false_if_null(
                f"({plausible} AND "
                f"{self._kernel('vss_fuzzy_match')}({mt}, {w}, {d}))")
        return _PER_FIELD

    def _text_one(self, fdef: TextField, p: TextPred) -> str | None:
        toks = sql_ident(text_col(fdef.attr))
        if p.kind == TERM:
            # lex the term with the field's punctuation set, exactly like
            # ingest (filter_parser.cc:597-616 uses the schema lexer):
            # "hello,world" becomes two tokens, "don't" -> [don, t].
            # Stopword and empty tokens are skipped, not matched
            # (filter_parser.cc:766-768): "the" alone never reaches the
            # index, so the term contributes nothing to the tree.
            qtoks = [t for t in lex_query_text(p.value, fdef.punctuation)
                     if t not in fdef.stopwords]
            if not qtoks:
                return None
            return _all([self._term_cond(fdef, qt, p) for qt in qtoks])
        w = sql_str(p.value)
        if p.kind == PREFIX:
            return f"exists({toks}, s -> startswith(s.t, {w}))"
        if p.kind in (SUFFIX, INFIX):
            # reference errors unless the field keeps a suffix trie
            # (default on); physical trie not needed here, only the gate
            if not fdef.with_suffixtrie:
                raise QuerySyntaxError(
                    f"field `{fdef.attr}` was created without WITHSUFFIXTRIE;"
                    " suffix/infix queries are not supported on it")
            fn = "endswith" if p.kind == SUFFIX else "contains"
            return f"exists({toks}, s -> {fn}(s.t, {w}))"
        if p.kind == FUZZY:
            if p.distance > self.limits.fuzzy_max_distance:
                raise QuerySyntaxError(
                    f"fuzzy distance {p.distance} exceeds fuzzy-max-distance"
                    f" ({self.limits.fuzzy_max_distance})")
            # JVM length-window conjunct first (|len(t)-len(w)| <= d is
            # necessary for edit distance <= d): Catalyst keeps it below the
            # ArrowEvalPython node, so the O(len^2) DL kernel only runs on
            # rows with a length-plausible token
            d = int(p.distance)
            return (f"(exists({toks}, s -> abs(length(s.t) - "
                    f"{len(p.value)}) <= {d}) AND "
                    f"{self._kernel('vss_fuzzy_match')}("
                    f"transform({toks}, s -> s.t), {w}, {d}))")
        if p.kind == PHRASE:
            return self._phrase(fdef, p.words, p.word_specs)
        raise QuerySyntaxError(f"unknown text kind {p.kind}")

    def _term_cond(self, fdef: TextField, w: str, p: TextPred) -> str:
        if fdef.nostem or self.verbatim or p.verbatim:
            return (f"exists({sql_ident(text_col(fdef.attr))}, "
                    f"s -> s.t = {sql_str(w)})")
        qstem = stem_query_term(w, fdef.min_stem_size)
        return (f"array_contains({sql_ident(stem_col(fdef.attr))}, "
                f"{sql_str(qstem)})")

    def _phrase(self, fdef: TextField, words: list[str],
                word_specs: list[tuple[str, int]] | None = None
                ) -> str | None:
        """Exact phrase: the query's members at consecutive post-removal
        positions (positions skip removed stop words,
        docs/topics/search-data-formats.md; no stemming inside quotes,
        docs/topics/search-query.md:171-178). Phrase text is lexed with
        the field's punctuation set (filter_parser.cc:597-616).

        A member may be a word, a wildcard (prefix/suffix/infix), or a
        fuzzy specifier. DELIBERATE DIVERGENCE, documented: the reference's
        full-text DESIGN doc promises specifier members
        (docs/full-text/phrase.md "Each word specifier could be a word, a
        word wildcard match, or a fuzzy word match") but its shipped parser
        breaks quoted tokens on punctuation — `*`/`%` included — so
        '"blue ro*"' degrades to the phrase (blue, ro) there
        (ParseQuotedTextToken, filter_parser.cc:594-625). We implement the
        documented design: plain phrases behave identically to the
        reference; specifier members are a superset it documents but does
        not yet ship. Word and wildcard members evaluate JVM-side (the
        exists-chain below); any fuzzy member routes the phrase through
        the ``vss_phrase_specs`` kernel, which resolves per-member
        positions and walks the consecutive chain.

        Quoted tokens are NOT stopword-filtered — ParseQuotedTextToken
        (filter_parser.cc:594-625) has no IsStopWord check — but stopwords
        are never indexed (lexer.cc:148), so a phrase containing one is a
        VALID query that matches zero rows: '"the of"' and
        '"the large bolt"' both return 0 results in the reference."""
        toks = sql_ident(text_col(fdef.attr))
        if word_specs is None:
            word_specs = [(TERM, 0)] * len(words)
        lexed: list[tuple[str, str, int]] = []       # (token, kind, dist)
        for wd, (kind, dist) in zip(words, word_specs):
            parts = lex_query_text(wd, fdef.punctuation)
            if kind == TERM:
                lexed.extend((t, TERM, 0) for t in parts)
            else:
                if kind in (SUFFIX, INFIX) and not fdef.with_suffixtrie:
                    raise QuerySyntaxError(
                        f"suffix/infix phrase member `{wd}` requires "
                        f"WITHSUFFIXTRIE on field `{fdef.attr}`")
                if kind == FUZZY and dist > self.limits.fuzzy_max_distance:
                    raise QuerySyntaxError(
                        f"fuzzy distance {dist} exceeds fuzzy-max-distance "
                        f"({self.limits.fuzzy_max_distance})")
                if len(parts) > 1:
                    raise QuerySyntaxError(
                        f"phrase member `{wd}` lexes to multiple tokens; "
                        f"wildcard/fuzzy members must be single tokens")
                if parts:
                    lexed.append((parts[0], kind, dist))
        if not lexed:
            return None  # lexes to nothing at all: dropped, like TERM
        if not fdef.with_offsets and len(lexed) > 1:
            # filter_parser.cc:876: a positional chain needs word offsets.
            # Gated on the POST-lex term count, like the reference
            # (terms.size() > 1): a single quoted word that lexes to
            # multiple tokens ("foo.bar") needs offsets too, while a
            # multi-word phrase collapsing to one term does not.
            raise QuerySyntaxError("Index does not support offsets")
        if any(t in fdef.stopwords for t, k, _ in lexed if k == TERM):
            return "false"

        if any(k == FUZZY for _, k, _ in lexed):
            ts, ks, ds = zip(*lexed)
            dists = ", ".join(str(int(d)) for d in ds)
            return (f"({toks} IS NOT NULL AND "
                    f"{self._kernel('vss_phrase_specs')}({toks}, "
                    f"{_str_array(ts)}, {_str_array(ks)}, array({dists})))")

        def member(tcol, word, kind):
            fn = {PREFIX: "startswith", SUFFIX: "endswith",
                  INFIX: "contains"}.get(kind)
            if fn is None:
                return f"{tcol} = {sql_str(word)}"
            return f"{fn}({tcol}, {sql_str(word)})"

        w0, k0, _ = lexed[0]
        chain = [member("s.t", w0, k0)] + [
            f"exists({toks}, u -> {member('u.t', wd, kind)} "
            f"AND u.p = s.p + {off})"
            for off, (wd, kind, _) in enumerate(lexed[1:], 1)]
        return f"exists({toks}, s -> {_all(chain)})"

    def _proximity(self, p: Proximity) -> str:
        # Positions skip removed stop words, so SLOP counts intervening
        # NON-STOP tokens (reference position model). Terms are
        # stem-expanded like single TERMs (src/query/search.cc:226-298)
        # unless NOSTEM/VERBATIM; matching then runs over the
        # position-aligned stem column.
        conds = []
        for fdef in self._text_attrs(p.attr):
            # cheap JVM containment conjunct first: Catalyst pushes non-UDF
            # conjuncts below the ArrowEvalPython node, so the positional
            # UDF only runs on rows already containing a word of every slot
            col, aligned, slots, present = self._slot_presence(fdef, p)
            compat = self.limits.proximity_inorder_compat
            if len(slots) == 2:
                # two-slot fast path: the pair check is expressible as pure
                # JVM array expressions (positions of slot words -> exists
                # a qualifying pair), keeping the whole predicate inside
                # codegen — no Arrow batch transfer. Exact same semantics
                # as the kernel for k=2, including distinct positions under
                # slot overlap.
                positional = self._two_slot_jvm(
                    col, aligned, slots, p.slop, p.inorder, compat=compat)
            elif p.inorder:
                # k-slot INORDER: the kernel's greedy chain is a left fold
                # over the slot position arrays — expressible with
                # aggregate(), so the reference's 5-term proximity stress
                # shape (proximity_5term_1combo_100k) stays JVM-side too.
                positional = self._k_slot_inorder_jvm(
                    col, aligned, slots, p.slop, compat=compat)
            elif not _slots_overlap(slots):
                positional = self._k_slot_unordered_jvm(
                    col, aligned, slots, p.slop)
            else:
                # unordered with duplicate words across slots: the combo
                # needs cross-slot distinctness, which has no linear JVM
                # form — keep the Arrow kernel for this rare shape
                slot_arr = ", ".join(_str_array(ws) for ws in slots)
                slop = ("CAST(NULL AS INT)" if p.slop is None
                        else str(int(p.slop)))
                positional = (
                    f"{self._kernel('vss_proximity')}("
                    f"{self._token_structs(col, aligned)}, "
                    f"array({slot_arr}), {slop}, "
                    f"{str(bool(p.inorder)).lower()}, "
                    f"{str(bool(compat)).lower()})")
            conds.append(_all([present, positional]))
        return _false_if_null(_any(conds))

    @staticmethod
    def _token_structs(col: str, aligned: bool) -> str:
        """The column as (t, p) token structs: the position-aligned stem
        column takes each element's index as its position."""
        if aligned:
            return f"transform({col}, (x, i) -> named_struct('t', x, 'p', i))"
        return col

    @classmethod
    def _slot_positions(cls, col: str, aligned: bool, ws: list[str]) -> str:
        """array<int> of token positions matching any word of one slot."""
        match = (f"s.t = {sql_str(ws[0])}" if len(ws) == 1 else
                 f"s.t IN ({', '.join(sql_str(w) for w in ws)})")
        return (f"transform(filter({cls._token_structs(col, aligned)}, "
                f"s -> {match}), s -> s.p)")

    @classmethod
    def _two_slot_jvm(cls, col: str, aligned: bool, slots: list[list[str]],
                      slop: int | None, inorder: bool,
                      compat: bool = False) -> str:
        """k=2 positional check in JVM expressions. Semantics mirror
        ``_proximity_matcher``: positions distinct; intervening-token count
        (|p2-p1|-1) <= slop when slop is set; p1 < p2 when inorder."""
        p1s = cls._slot_positions(col, aligned, slots[0])
        p2s = cls._slot_positions(col, aligned, slots[1])
        if inorder:
            # compat mode checks start order only, overlap permitted
            ok = "b >= a" if compat else "b > a"
        else:
            ok = "b != a"
        if slop is not None:
            ok = f"({ok} AND abs(b - a) - 1 <= {int(slop)})"
        return f"exists({p1s}, a -> exists({p2s}, b -> {ok}))"

    @classmethod
    def _k_slot_inorder_jvm(cls, col: str, aligned: bool,
                            slots: list[list[str]], slop: int | None,
                            compat: bool = False) -> str:
        """k-slot INORDER proximity as pure JVM expressions. Mirrors the
        kernel's ``_inorder`` exactly: from every start position of slot 0,
        greedily chain to the MINIMAL qualifying position of each next slot
        (strictly greater in strict mode; >= in compat mode, where one
        token may satisfy consecutive slots — proximity.cc:190-204), then
        bound the span cost (last - first + 1 - k) by slop when set.
        Greedy-minimal is exact because the span check depends only on the
        first and last chain positions, and minimizing each step minimizes
        the last. ``aggregate`` threads the chain cursor so every step
        evaluates once — no exponential re-evaluation inside lambdas — and
        a dead end (empty filter -> array_min = null) null-propagates to a
        coalesced False."""
        k = len(slots)
        pos = [cls._slot_positions(col, aligned, ws) for ws in slots]
        rest = "array(" + ", ".join(pos[1:]) + ")"
        step = f"array_min(filter(ps, q -> q {'>=' if compat else '>'} prev))"
        last = f"aggregate({rest}, p1, (prev, ps) -> {step})"
        ok = f"({last} IS NOT NULL)"
        if slop is not None:
            ok = f"({ok} AND ({last} - p1 + 1 - {k}) <= {int(slop)})"
        return f"exists({pos[0]}, p1 -> {_false_if_null(ok)})"

    @classmethod
    def _k_slot_unordered_jvm(cls, col: str, aligned: bool,
                              slots: list[list[str]],
                              slop: int | None) -> str:
        """k-slot unordered proximity for NON-overlapping slots (disjoint
        word sets: a position holds one token, which can fill only one
        slot, so the kernel's distinctness requirement is automatic). A
        combo with span cost (max - min + 1 - k) <= slop exists iff some
        matched position m — the combo's minimum — has every slot
        represented within [m, m + slop + k - 1]: pick those
        representatives and m itself. Without SLOP the span is unbounded
        (proximity.h slop_.has_value()), so slot presence — already
        enforced by the containment conjunct — suffices."""
        if slop is None:
            return "true"
        pos = [cls._slot_positions(col, aligned, ws) for ws in slots]
        hi = int(slop) + len(slots) - 1
        window = _all([f"exists({ps}, q -> q >= m AND q <= m + {hi})"
                       for ps in pos])
        return f"exists(flatten(array({', '.join(pos)})), m -> {window})"

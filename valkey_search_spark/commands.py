"""RESP command front end: ``FT.*`` argv -> engine calls.

The reference's users drive everything through command argument lists
(``FT.CREATE idx SCHEMA price NUMERIC brand TAG``, command registry
/root/reference/src/commands/commands.h:77; grammar
/root/reference/docs/commands/ft.create.md). The Python API
(``SearchEngine.ft_create(name, df, [TagField(...)])``) is the
engine-native surface; this module closes the last interop gap by
parsing the reference's argv grammar into those calls, so a reference
user can paste the exact commands they run today.

One semantic difference is unavoidable and explicit: the reference
indexes its keyspace, while this engine indexes DataFrames — so the
dispatcher is constructed with a ``source`` (a DataFrame, or a callable
``(index_name, on_json: bool) -> DataFrame`` for multi-table setups)
that plays the keyspace role for FT.CREATE. ``ON JSON`` maps to the
engine's ``on_json=<column>`` document model with a configurable JSON
document column (default ``"json"``).

Parsing follows ft_create_parser.cc / ft_search_parser.cc semantics:
keywords are case-insensitive, unknown trailing arguments are errors,
counted clauses (PREFIX n, STOPWORDS n, RETURN n, PARAMS n, VECTOR
attr_count) consume exactly their count, and accepted-but-inert
options (SCORE, SCORE_FIELD, SKIPINITIALSCAN, SORTABLE, INITIAL_CAP,
EF_RUNTIME) parse cleanly and are recorded on the returned schema
rather than silently dropped.
"""
from __future__ import annotations

import shlex
from typing import Callable

from pyspark.sql import DataFrame

from .catalog import (DEFAULT_PUNCTUATION, DEFAULT_STOPWORDS, FieldDef,
                      NumericField, TagField, TextField, VectorField)
from .errors import QuerySyntaxError


class _Args:
    """Cursor over an argv list with reference-style error messages."""

    def __init__(self, toks: list, command: str):
        # RESP args are binary-safe: values (PARAMS vector blobs) pass
        # through untouched; only keyword POSITIONS are str-compared
        self.toks = list(toks)
        self.i = 0
        self.command = command

    def done(self) -> bool:
        return self.i >= len(self.toks)

    def peek(self) -> str | None:
        """Next token as text, or None at end-of-argv / on a binary
        blob that is not valid UTF-8 (so keyword probes like accept()
        simply don't match a binary value)."""
        if self.done():
            return None
        t = self.toks[self.i]
        if isinstance(t, (bytes, bytearray)):
            try:
                return bytes(t).decode("utf-8")
            except UnicodeDecodeError:
                return None
        return t if isinstance(t, str) else str(t)

    def peek_keyword(self, what: str) -> str:
        """Peek the next token as an upper-cased keyword. RESP args are
        binary-safe, but keyword POSITIONS must be text: a bytes token
        decodes via UTF-8 when possible, and a binary blob where the
        grammar expects a keyword is a syntax error (binary values are
        only accepted as PARAMS values), never an engine crash."""
        if self.done():
            raise QuerySyntaxError(f"{self.command}: missing {what}")
        t = self.toks[self.i]
        if isinstance(t, (bytes, bytearray)):
            try:
                t = bytes(t).decode("utf-8")
            except UnicodeDecodeError:
                raise QuerySyntaxError(
                    f"{self.command}: unexpected binary token "
                    f"{bytes(t)[:16]!r} where {what} expected")
        return str(t).upper()

    def next(self, what: str, raw: bool = False):
        if self.done():
            raise QuerySyntaxError(
                f"{self.command}: missing {what} argument")
        t = self.toks[self.i]
        self.i += 1
        if raw or isinstance(t, str):
            return t
        if isinstance(t, (bytes, bytearray)):   # RESP clients send bytes
            try:
                return bytes(t).decode("utf-8")
            except UnicodeDecodeError:
                raise QuerySyntaxError(
                    f"{self.command}: {what} is not valid UTF-8 "
                    "(binary values are only accepted as PARAMS values)")
        return str(t)

    def next_int(self, what: str) -> int:
        t = self.next(what)
        try:
            return int(t)
        except ValueError:
            raise QuerySyntaxError(
                f"{self.command}: {what} must be an integer, got {t!r}")

    def next_float(self, what: str) -> float:
        t = self.next(what)
        try:
            return float(t)
        except ValueError:
            raise QuerySyntaxError(
                f"{self.command}: {what} must be a number, got {t!r}")

    def accept(self, *keywords: str) -> str | None:
        """Consume and return the next token if it matches (case-
        insensitive) one of ``keywords``; else leave it in place."""
        t = self.peek()
        if t is not None and t.upper() in keywords:
            self.i += 1
            return t.upper()
        return None


def _timeout(a: _Args) -> int:
    """A TIMEOUT value in ms; a negative one would cancel the query at
    once, so it is a syntax error."""
    t = a.next_int("TIMEOUT")
    if t < 0:
        raise QuerySyntaxError(
            f"{a.command}: TIMEOUT must not be negative, got {t}")
    return t


def split_command_line(line: str) -> list[str]:
    """CLI convenience: one command line -> argv, shell quoting rules
    (the same convention as ``parse_stages``; RESP clients pass argv
    directly and never need this). Unbalanced quoting is a syntax
    error, not a shlex ValueError stack trace."""
    try:
        return shlex.split(line)
    except ValueError as e:
        raise QuerySyntaxError(f"bad command quoting: {e}") from None


def _parse_schema_fields(a: _Args, on_json: str | None,
                         text_defaults: dict) -> list[FieldDef]:
    fields: list[FieldDef] = []
    while not a.done():
        ident = a.next("field identifier")
        alias = None
        if a.accept("AS"):
            alias = a.next("field alias")
        ftype = a.next("field type").upper()
        json_source = on_json if ident.startswith("$") else None
        common = dict(name=ident, alias=alias, json_source=json_source)
        if ftype == "NUMERIC":
            f: FieldDef = NumericField(**common)
        elif ftype == "TAG":
            sep, cs = ",", False
            while True:
                if a.accept("SEPARATOR"):
                    sep = a.next("SEPARATOR value")
                    if len(sep) != 1:
                        raise QuerySyntaxError(
                            "TAG SEPARATOR must be a single character "
                            f"(ft.create.md), got {sep!r}")
                elif a.accept("CASESENSITIVE"):
                    cs = True
                else:
                    break
            f = TagField(**common, separator=sep, casesensitive=cs)
        elif ftype == "TEXT":
            kw = dict(text_defaults)
            while True:
                if a.accept("NOSTEM"):
                    kw["nostem"] = True
                elif a.accept("WITHSUFFIXTRIE"):
                    kw["with_suffixtrie"] = True
                elif a.accept("NOSUFFIXTRIE"):
                    kw["with_suffixtrie"] = False
                elif a.accept("WEIGHT"):
                    w = a.next_float("WEIGHT")
                    if w != 1.0:
                        # the reference accepts the keyword but pins the
                        # value (ft_create_parser.cc:528-531)
                        raise QuerySyntaxError(
                            "TEXT WEIGHT only supports 1.0")
                    kw["weight"] = w
                else:
                    break
            f = TextField(**common, **kw)
        elif ftype == "VECTOR":
            algo = a.next("VECTOR algorithm").upper()
            if algo not in ("FLAT", "HNSW"):
                raise QuerySyntaxError(
                    f"unknown VECTOR algorithm {algo!r} (FLAT | HNSW)")
            n = a.next_int("VECTOR attribute count")
            if n % 2:
                raise QuerySyntaxError(
                    "VECTOR attribute count must be even "
                    "(name value pairs)")
            attrs: dict[str, str] = {}
            for _ in range(n // 2):
                aname = a.next("VECTOR attribute name").upper()
                attrs[aname] = a.next("VECTOR attribute value")
            if attrs.pop("TYPE", "FLOAT32").upper() != "FLOAT32":
                raise QuerySyntaxError("VECTOR TYPE must be FLOAT32")
            if "DIM" not in attrs:
                raise QuerySyntaxError("VECTOR requires DIM")
            metric = attrs.pop("DISTANCE_METRIC", "L2").lower()
            if metric not in ("l2", "ip", "cosine"):
                raise QuerySyntaxError(
                    f"unknown DISTANCE_METRIC {metric!r}")
            def _attr_int(name: str, v: str) -> int:
                try:
                    return int(v)
                except ValueError:
                    raise QuerySyntaxError(
                        f"VECTOR {name} must be an integer, got {v!r}"
                    ) from None

            kwargs = dict(dim=_attr_int("DIM", attrs.pop("DIM")),
                          metric=metric, algo=algo.lower())
            if "M" in attrs:
                kwargs["m"] = _attr_int("M", attrs.pop("M"))
            if "EF_CONSTRUCTION" in attrs:
                kwargs["ef_construction"] = _attr_int(
                    "EF_CONSTRUCTION", attrs.pop("EF_CONSTRUCTION"))
            # accepted-but-inert build knobs (capacity pre-allocation
            # has no parquet analogue; EF_RUNTIME is a query-time dial
            # given in the KNN clause)
            attrs.pop("INITIAL_CAP", None)
            attrs.pop("EF_RUNTIME", None)
            if attrs:
                raise QuerySyntaxError(
                    f"unknown VECTOR attributes: {sorted(attrs)}")
            f = VectorField(**common, **kwargs)
        else:
            raise QuerySyntaxError(
                f"unknown field type {ftype!r} "
                "(NUMERIC | TAG | TEXT | VECTOR)")
        a.accept("SORTABLE")       # every field is sortable here
        fields.append(f)
    if not fields:
        raise QuerySyntaxError("SCHEMA requires at least one field")
    return fields


class CommandDispatcher:
    """Execute reference-style FT.* argv against a ``SearchEngine``.

    ``source``: the DataFrame indexed by FT.CREATE (the keyspace
    analogue), or a callable ``(index_name, on_json) -> DataFrame``.
    ``json_column``: the document column holding JSON text for
    ``ON JSON`` indexes (attribute_data_type.h:114-139's serialized
    document)."""

    def __init__(self, engine, source: DataFrame | Callable,
                 json_column: str = "json",
                 key_column: str | None = None):
        self.engine = engine
        self.source = source
        self.json_column = json_column
        self.key_column = key_column

    # -- entry points -----------------------------------------------------
    def execute_reply(self, *args):
        """Like ``execute`` but FT.SEARCH / FT.AGGREGATE return the
        RESP-shaped reply list (``[total, key, [f, v, ...], ...]`` /
        ``[n, [k, v, ...], ...]``) instead of a DataFrame — the wire
        form a reference client sees (ft_search.cc:74)."""
        return self._dispatch(args, reply=True)

    def execute(self, *args):
        """Dispatch one command. ``args`` is the RESP argv (the command
        name may be the first element or passed as separate words), or
        a single string parsed with shell quoting."""
        return self._dispatch(args, reply=False)

    def _dispatch(self, args: tuple, reply: bool):
        # the reply shape is per call, never instance state: threads may
        # share one dispatcher
        if len(args) == 1 and isinstance(args[0], str) and " " in args[0]:
            args = split_command_line(args[0])
        elif len(args) == 1 and isinstance(args[0], (list, tuple)):
            args = list(args[0])
        else:
            args = list(args)
        if not args:
            raise QuerySyntaxError("empty command")
        cmd = str(args[0]).upper()
        handler = {
            "FT.CREATE": self._create,
            "FT.SEARCH": lambda a: self._search(a, reply),
            "FT.AGGREGATE": lambda a: self._aggregate(a, reply),
            "FT.DROPINDEX": self._dropindex,
            "FT._LIST": self._list,
            "FT.INFO": self._info,
            "FT.EXPLAIN": self._explain,
        }.get(cmd)
        if handler is None:
            raise QuerySyntaxError(f"unknown command {cmd!r}")
        return handler(_Args(args[1:], cmd))

    # -- FT.CREATE ---------------------------------------------------------
    def _resolve_df(self, name: str, on_json: bool) -> DataFrame:
        if callable(self.source):
            return self.source(name, on_json)
        return self.source

    def _create(self, a: _Args):
        name = a.next("index name")
        on_json = False
        prefixes: list[str] | None = None
        text_defaults: dict = {}
        while not a.done():
            kw = a.peek_keyword("FT.CREATE option")
            if kw == "SCHEMA":
                a.next("SCHEMA")
                break
            a.next(kw)
            if kw == "ON":
                t = a.next("ON type").upper()
                if t not in ("HASH", "JSON"):
                    raise QuerySyntaxError(f"ON must be HASH or JSON")
                on_json = t == "JSON"
            elif kw == "PREFIX":
                n = a.next_int("PREFIX count")
                prefixes = [a.next("prefix") for _ in range(n)] or None
            elif kw == "LANGUAGE":
                lang = a.next("LANGUAGE").upper()
                if lang != "ENGLISH":
                    # ft_create_parser.cc:219 — only ENGLISH
                    raise QuerySyntaxError(
                        f"LANGUAGE {lang} not supported (ENGLISH only)")
            elif kw == "MINSTEMSIZE":
                text_defaults["min_stem_size"] = a.next_int("MINSTEMSIZE")
            elif kw == "WITHOFFSETS":
                text_defaults["with_offsets"] = True
            elif kw == "NOOFFSETS":
                text_defaults["with_offsets"] = False
            elif kw == "NOSTOPWORDS":
                text_defaults["stopwords"] = frozenset()
            elif kw == "STOPWORDS":
                n = a.next_int("STOPWORDS count")
                text_defaults["stopwords"] = frozenset(
                    a.next("stopword").lower() for _ in range(n))
            elif kw == "PUNCTUATION":
                text_defaults["punctuation"] = a.next("PUNCTUATION")
            elif kw in ("SCORE",):
                a.next_float("SCORE")          # accepted, scoring-inert
            elif kw in ("SCORE_FIELD",):
                a.next("SCORE_FIELD")          # accepted, scoring-inert
            elif kw == "SKIPINITIALSCAN":
                pass  # no backfill distinction over a static DataFrame
            else:
                raise QuerySyntaxError(
                    f"unknown FT.CREATE argument {kw!r}")
        else:
            raise QuerySyntaxError("FT.CREATE requires SCHEMA")
        fields = _parse_schema_fields(a, self.json_column if on_json
                                      else None, text_defaults)
        return self.engine.ft_create(
            name, self._resolve_df(name, on_json), fields,
            key_column=self.key_column,
            on_json=self.json_column if on_json else None,
            prefixes=prefixes)

    # -- FT.SEARCH ----------------------------------------------------------
    def _search(self, a: _Args, reply: bool):
        from .operators.search import ReturnField

        index = a.next("index name")
        query = a.next("query")
        kw: dict = {}
        params: dict = {}
        while not a.done():
            opt = a.next("option").upper()
            if opt == "NOCONTENT":
                kw["nocontent"] = True
            elif opt in ("ALLSHARDS", "SOMESHARDS", "CONSISTENT",
                         "INCONSISTENT"):
                pass  # cluster fan-out / consistency hints
                      # (ft.search.md:5-6): parsed, single-engine no-op
            elif opt == "VERBATIM":
                kw["verbatim"] = True
            elif opt == "WITHSORTKEYS":
                kw["withsortkeys"] = True
            elif opt == "INORDER":
                kw["inorder"] = True
            elif opt == "SLOP":
                kw["slop"] = a.next_int("SLOP")
            elif opt == "RETURN":
                n = a.next_int("RETURN count")
                flds, used = [], 0
                while used < n:
                    f = a.next("RETURN field")
                    used += 1
                    alias = None
                    # n counts RESP tokens: `f AS g` consumes 3
                    if used + 2 <= n and a.peek() and \
                            a.peek().upper() == "AS":
                        a.next("AS")
                        alias = a.next("RETURN alias")
                        used += 2
                    flds.append(ReturnField(f.lstrip("@"), alias))
                kw["return_fields"] = flds
                if n == 0:
                    kw["nocontent"] = True     # RETURN 0 == NOCONTENT
                    kw.pop("return_fields")
            elif opt == "SORTBY":
                kw["sortby"] = a.next("SORTBY field").lstrip("@")
                d = a.accept("ASC", "DESC")
                kw["sortby_desc"] = d == "DESC"
            elif opt == "LIMIT":
                off = a.next_int("LIMIT offset")
                num = a.next_int("LIMIT num")
                if off < 0 or num < 0:
                    raise QuerySyntaxError(
                        "FT.SEARCH: LIMIT offset and num must not be "
                        f"negative, got {off} {num}")
                if (off, num) == (0, 0):
                    kw["count_only"] = True
                else:
                    kw["limit"] = (off, num)
            elif opt == "PARAMS":
                n = a.next_int("PARAMS count")
                if n % 2:
                    raise QuerySyntaxError(
                        "PARAMS count must be even (name value pairs)")
                for _ in range(n // 2):
                    k = a.next("param name")
                    params[k] = a.next("param value", raw=True)
            elif opt == "DIALECT":
                kw["dialect"] = a.next_int("DIALECT")
            elif opt == "TIMEOUT":
                kw["timeout_ms"] = _timeout(a)
            else:
                raise QuerySyntaxError(
                    f"unknown FT.SEARCH argument {opt!r}")
        if reply:
            kw2 = dict(kw)
            if kw2.pop("count_only", False):
                kw2["limit"] = (0, 0)
            return self.engine.ft_search_reply(index, query,
                                               params=params or None,
                                               **kw2)
        return self.engine.ft_search(index, query,
                                     params=params or None, **kw)

    # -- FT.AGGREGATE -------------------------------------------------------
    def _aggregate(self, a: _Args, reply: bool):
        index = a.next("index name")
        query = a.next("query")
        kw: dict = {}
        params: dict = {}
        timeout_ms = None
        stage_toks: list[str] = []
        stage_kws = {"LOAD", "APPLY", "FILTER", "GROUPBY", "REDUCE",
                     "SORTBY", "LIMIT", "ADDSCORES"}
        while not a.done():
            opt = a.peek_keyword("FT.AGGREGATE option")
            if opt == "PARAMS":
                a.next("PARAMS")
                n = a.next_int("PARAMS count")
                if n % 2:
                    raise QuerySyntaxError(
                        "PARAMS count must be even (name value pairs)")
                for _ in range(n // 2):
                    k = a.next("param name")
                    params[k] = a.next("param value", raw=True)
            elif opt == "DIALECT":
                a.next("DIALECT")
                kw["dialect"] = a.next_int("DIALECT")
            elif opt == "TIMEOUT":
                # the frame is lazy: TIMEOUT bounds the reply executing it
                a.next("TIMEOUT")
                timeout_ms = _timeout(a)
            elif opt == "VERBATIM":
                a.next("VERBATIM")
                kw["verbatim"] = True
            elif opt in stage_kws or stage_toks:
                # stage pipeline: everything from the first stage
                # keyword on (minus the command-level options above)
                stage_toks.append(a.next("stage token"))
            else:
                raise QuerySyntaxError(
                    f"unknown FT.AGGREGATE argument {opt!r}")
        # re-serialize argv for the stage parser with exact-inverse
        # quoting (parse_stages shlex-splits; shlex.join round-trips).
        # stage_toks is all-str by construction (next() decodes bytes
        # or raises); the assert keeps shlex.join's TypeError
        # unreachable if a new branch ever appends a raw token
        assert all(isinstance(t, str) for t in stage_toks)
        stages = shlex.join(stage_toks)
        out = self.engine.ft_aggregate(index, query, stages,
                                       params=params or None, **kw)
        if reply:
            from .operators.reply import aggregate_reply

            return self.engine._run_with_timeout(
                lambda: aggregate_reply(out), timeout_ms)
        return out

    # -- the rest -----------------------------------------------------------
    def _dropindex(self, a: _Args):
        name = a.next("index name")
        if not a.done():
            raise QuerySyntaxError(
                f"unknown FT.DROPINDEX argument {a.toks[a.i]!r}")
        self.engine.ft_dropindex(name)
        return "OK"

    def _list(self, a: _Args):
        if not a.done():
            raise QuerySyntaxError(f"FT._LIST takes no arguments")
        return self.engine.ft_list()

    def _info(self, a: _Args):
        name = a.next("index name")
        while not a.done():
            # scope + fan-out/consistency hints (ft.info.md:4-8):
            # parsed for command-line parity, single-engine no-ops
            opt = a.next("option").upper()
            if opt not in ("LOCAL", "PRIMARY", "CLUSTER", "ALLSHARDS",
                           "SOMESHARDS", "CONSISTENT", "INCONSISTENT"):
                raise QuerySyntaxError(
                    f"unknown FT.INFO argument {opt!r}")
        return self.engine.ft_info(name)

    def _explain(self, a: _Args):
        index = a.next("index name")
        query = a.next("query")
        params: dict = {}
        dialect = 2
        while not a.done():
            opt = a.next("option").upper()
            if opt == "PARAMS":
                n = a.next_int("PARAMS count")
                if n % 2:
                    raise QuerySyntaxError(
                        "PARAMS count must be even (name value pairs)")
                for _ in range(n // 2):
                    k = a.next("param name")
                    params[k] = a.next("param value", raw=True)
            elif opt == "DIALECT":
                dialect = a.next_int("DIALECT")
            else:
                raise QuerySyntaxError(
                    f"unknown FT.EXPLAIN argument {opt!r}")
        return self.engine.ft_explain(index, query,
                                      params=params or None, dialect=dialect)

"""Dispatcher error conformance: every malformed FT.* argv must
surface as a ``QuerySyntaxError`` (or another ``SearchError`` subclass
for semantic errors) with a message naming the offending clause — never
an AttributeError/TypeError stack trace from deeper in the engine. The
case taxonomy mirrors the reference parsers' error paths
(/root/reference/src/commands/ft_create_parser.cc,
ft_search_parser.cc): counted clauses that under/over-consume, unknown
trailing arguments, bad VECTOR attribute counts, wrong-length FLOAT32
PARAMS blobs, and NUL / invalid-UTF-8 bytes outside PARAMS values."""
from __future__ import annotations

import struct

import pytest

from valkey_search_spark import (
    CommandDispatcher, QuerySyntaxError, SearchEngine,
)
from valkey_search_spark.errors import SearchError

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def disp(spark):
    part = spark.read.parquet(f"{SF}/part.parquet")
    eng = SearchEngine(spark)
    d = CommandDispatcher(eng, part, key_column="p_partkey")
    d.execute("FT.CREATE", "ix", "SCHEMA", "p_brand", "TAG",
              "p_retailprice", "NUMERIC", "p_name", "TEXT")
    return d


@pytest.fixture()
def vdisp(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng = SearchEngine(spark)
    d = CommandDispatcher(eng, emb, key_column="vec_id")
    d.execute("FT.CREATE", "vx", "SCHEMA", "embedding", "VECTOR",
              "FLAT", "6", "TYPE", "FLOAT32", "DIM", "64",
              "DISTANCE_METRIC", "L2")
    return d


# -- r10 ADVICE regressions ------------------------------------------------

def test_bytes_token_in_create_keyword_position(disp):
    # a binary blob where FT.CREATE expects an option keyword must be a
    # syntax error, not _Args.peek()->None->AttributeError (r10 ADVICE)
    with pytest.raises(QuerySyntaxError, match="binary token"):
        disp.execute("FT.CREATE", "bx", b"\xff\xfe\x00\x01",
                     "SCHEMA", "p_brand", "TAG")


def test_bytes_token_in_aggregate_keyword_position(disp):
    with pytest.raises(QuerySyntaxError, match="binary token"):
        disp.execute("FT.AGGREGATE", "ix", "*", b"\xff\xfe",
                     "GROUPBY", "1", "@p_brand")


def test_utf8_bytes_keyword_still_parses(disp):
    # RESP clients send every token as bytes: valid-UTF-8 keyword bytes
    # must behave exactly like their str form
    out = disp.execute("FT.SEARCH", "ix", "@p_brand:{Brand#13}",
                       b"LIMIT", b"0", b"3")
    assert len(out.collect()) <= 3


def test_bytes_stage_token_in_aggregate(disp):
    # stage tokens arrive as bytes from a RESP client; next() decodes
    # them before shlex.join, so the pipeline parses normally
    out = disp.execute("FT.AGGREGATE", "ix", "*", b"GROUPBY", b"1",
                       b"@p_brand", b"REDUCE", b"COUNT", b"0",
                       b"AS", b"n")
    assert out.count() > 0


def test_explain_params_odd_count(disp):
    with pytest.raises(QuerySyntaxError, match="PARAMS count"):
        disp.execute("FT.EXPLAIN", "ix", "@p_brand:{$b}",
                     "PARAMS", "3", "b", "Brand#13", "stray")


def test_explain_params_even_ok(disp):
    plan = disp.execute("FT.EXPLAIN", "ix", "@p_brand:{$b}",
                        "PARAMS", "2", "b", "Brand#13")
    assert "predicate" in plan


# -- counted clauses that under/over-consume --------------------------------

UNDERCOUNT_CASES = [
    # PREFIX count larger than remaining tokens
    ["FT.CREATE", "c1", "PREFIX", "3", "a:", "SCHEMA", "p_brand", "TAG"],
    # STOPWORDS count short
    ["FT.CREATE", "c2", "STOPWORDS", "4", "a", "b",
     "SCHEMA", "p_name", "TEXT"],
    # RETURN count short
    ["FT.SEARCH", "ix", "*", "RETURN", "5", "p_brand"],
    # PARAMS count short
    ["FT.SEARCH", "ix", "@p_brand:{$b}", "PARAMS", "4", "b"],
    # PARAMS odd
    ["FT.SEARCH", "ix", "@p_brand:{$b}", "PARAMS", "3",
     "b", "Brand#13", "x"],
    ["FT.AGGREGATE", "ix", "*", "PARAMS", "1", "b",
     "GROUPBY", "1", "@p_brand"],
    # LIMIT missing num
    ["FT.SEARCH", "ix", "*", "LIMIT", "0"],
    # SORTBY missing field
    ["FT.SEARCH", "ix", "*", "SORTBY"],
    # SLOP non-integer
    ["FT.SEARCH", "ix", "*", "SLOP", "close"],
    # DIALECT non-integer
    ["FT.SEARCH", "ix", "*", "DIALECT", "two"],
    # DIALECT out of range: FT.EXPLAIN validates it like FT.SEARCH
    ["FT.EXPLAIN", "ix", "*", "DIALECT", "9"],
]


@pytest.mark.parametrize("argv", UNDERCOUNT_CASES,
                         ids=[" ".join(map(str, c[:4])) + f"#{i}"
                              for i, c in enumerate(UNDERCOUNT_CASES)])
def test_counted_clause_underflow(disp, argv):
    with pytest.raises(QuerySyntaxError):
        disp.execute(*argv)


# -- unknown / trailing arguments -------------------------------------------

TRAILING_CASES = [
    ["FT.SEARCH", "ix", "*", "LIMIT", "0", "3", "SURPRISE"],
    ["FT.AGGREGATE", "ix", "*", "WAT", "GROUPBY", "1", "@p_brand"],
    ["FT.DROPINDEX", "ix", "EXTRA"],
    ["FT._LIST", "nope"],
    ["FT.INFO", "ix", "SIDEWAYS"],
    ["FT.EXPLAIN", "ix", "*", "VERBOSE"],
    ["FT.BOGUS"],
    # EF_RUNTIME is a KNN-clause argument, not a FT.SEARCH option
    ["FT.SEARCH", "ix", "*", "EF_RUNTIME", "10"],
]


@pytest.mark.parametrize("argv", TRAILING_CASES,
                         ids=[" ".join(c[:2]) + f"#{i}"
                              for i, c in enumerate(TRAILING_CASES)])
def test_unknown_trailing_argument(disp, argv):
    with pytest.raises(QuerySyntaxError):
        disp.execute(*argv)


# -- VECTOR attribute counts -------------------------------------------------

VECTOR_CASES = [
    # odd attribute count (pairs required)
    ["FT.CREATE", "v1", "SCHEMA", "embedding", "VECTOR", "FLAT", "5",
     "TYPE", "FLOAT32", "DIM", "64", "DISTANCE_METRIC"],
    # count overruns remaining argv
    ["FT.CREATE", "v2", "SCHEMA", "embedding", "VECTOR", "FLAT", "8",
     "TYPE", "FLOAT32", "DIM", "64", "DISTANCE_METRIC", "L2"],
    # unknown attribute name
    ["FT.CREATE", "v3", "SCHEMA", "embedding", "VECTOR", "FLAT", "8",
     "TYPE", "FLOAT32", "DIM", "64", "DISTANCE_METRIC", "L2",
     "WOBBLE", "9"],
    # missing required DIM / METRIC
    ["FT.CREATE", "v4", "SCHEMA", "embedding", "VECTOR", "FLAT", "2",
     "TYPE", "FLOAT32"],
    # FLOAT64 rejected (reference accepts FLOAT32 only here)
    ["FT.CREATE", "v5", "SCHEMA", "embedding", "VECTOR", "HNSW", "6",
     "TYPE", "FLOAT64", "DIM", "64", "DISTANCE_METRIC", "L2"],
]


@pytest.mark.parametrize("argv", VECTOR_CASES,
                         ids=[c[1] for c in VECTOR_CASES])
def test_vector_attr_counts(spark, argv):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    d = CommandDispatcher(SearchEngine(spark), emb, key_column="vec_id")
    with pytest.raises(QuerySyntaxError):
        d.execute(*argv)


# -- FLOAT32 PARAMS blobs ----------------------------------------------------

def test_blob_not_multiple_of_4(vdisp):
    with pytest.raises(QuerySyntaxError, match="multiple of 4"):
        vdisp.execute("FT.SEARCH", "vx", "*=>[KNN 3 @embedding $v]",
                      "PARAMS", "2", "v", b"\x00\x01\x02")


def test_blob_wrong_dimension(vdisp):
    # 16 floats against a DIM 64 field: must be an error naming the
    # blob size, NOT a silently empty result from nulled distances
    blob = struct.pack("<16f", *([0.5] * 16))
    with pytest.raises(QuerySyntaxError, match="DIM 64"):
        vdisp.execute("FT.SEARCH", "vx", "*=>[KNN 3 @embedding $v]",
                      "PARAMS", "2", "v", blob)


def test_blob_right_dimension_ok(vdisp):
    blob = struct.pack("<64f", *([0.25] * 64))
    out = vdisp.execute("FT.SEARCH", "vx", "*=>[KNN 3 @embedding $v]",
                        "PARAMS", "2", "v", blob, "LIMIT", "0", "3")
    assert len(out.collect()) == 3


def test_invalid_utf8_params_value_for_text_param(disp):
    # a binary blob substituted into a TAG position is a query-level
    # error (the reference only accepts blobs as vector values)
    with pytest.raises(SearchError):
        disp.execute("FT.SEARCH", "ix", "@p_brand:{$b}",
                     "PARAMS", "2", "b", b"\xff\xfe").collect()


# -- deterministic mutation sweep ---------------------------------------------
# Take valid argvs and apply every single-token mutation (drop,
# duplicate, garbage-replace, binary-replace, truncate-after). The
# dispatcher must either accept the mutant or raise a SearchError —
# never any other exception type. Deterministic full enumeration keeps
# the pin stable across runs (repo fuzz-test convention).

BASE_ARGVS = [
    ["FT.SEARCH", "ix", "@p_brand:{Brand#13}", "SORTBY", "p_retailprice",
     "DESC", "LIMIT", "0", "5"],
    ["FT.SEARCH", "ix", "*", "RETURN", "3", "p_brand", "AS", "b",
     "DIALECT", "2"],
    ["FT.AGGREGATE", "ix", "*", "GROUPBY", "1", "@p_brand",
     "REDUCE", "COUNT", "0", "AS", "n", "SORTBY", "2", "@n", "DESC"],
    ["FT.CREATE", "mut", "ON", "HASH", "PREFIX", "1", "p:",
     "SCHEMA", "p_brand", "TAG", "p_retailprice", "NUMERIC"],
]


def _mutants(argv):
    for i in range(1, len(argv)):          # keep the command name
        yield argv[:i] + argv[i + 1:]                      # drop
        yield argv[:i] + [argv[i]] + argv[i:]              # duplicate
        yield argv[:i] + ["__GARBAGE__"] + argv[i + 1:]    # replace
        yield argv[:i] + [b"\xff\xfe\x00"] + argv[i + 1:]  # binary
        yield argv[:i + 1]                                 # truncate


@pytest.mark.parametrize("base", range(len(BASE_ARGVS)))
def test_mutation_sweep_raises_only_search_errors(disp, base):
    argv = BASE_ARGVS[base]
    n_ok = n_err = 0
    for mut in _mutants(argv):
        try:
            out = disp.execute(*mut)
            # force the lazy plan so query-time errors surface too
            if hasattr(out, "limit"):
                out.limit(1).collect()
            n_ok += 1
        except SearchError:
            n_err += 1
        except Exception as e:      # pragma: no cover - the assertion
            raise AssertionError(
                f"mutant {mut!r} leaked {type(e).__name__}: {e}") from e
        finally:
            # FT.CREATE mutants may have registered an index
            try:
                disp.engine.ft_dropindex("mut")
            except Exception:
                pass
    assert n_err > 0 and n_ok > 0   # the sweep exercises both sides


def test_mutation_sweep_vector_argvs(vdisp):
    """Same single-token mutation sweep over the VECTOR surface: the
    schema clause with its counted attribute pairs, and a KNN search
    whose PARAMS value is a real FLOAT32 blob (so mutations land on
    and around binary tokens)."""
    blob = struct.pack("<64f", *([0.25] * 64))
    argvs = [
        ["FT.CREATE", "vmut", "SCHEMA", "embedding", "VECTOR", "FLAT",
         "6", "TYPE", "FLOAT32", "DIM", "64", "DISTANCE_METRIC", "L2"],
        ["FT.SEARCH", "vx", "*=>[KNN 3 @embedding $v AS d]",
         "PARAMS", "2", "v", blob, "LIMIT", "0", "3"],
    ]
    n_ok = n_err = 0
    for argv in argvs:
        for mut in _mutants(argv):
            try:
                out = vdisp.execute(*mut)
                if hasattr(out, "limit"):
                    out.limit(1).collect()
                n_ok += 1
            except SearchError:
                n_err += 1
            except Exception as e:
                raise AssertionError(
                    f"mutant {mut!r} leaked {type(e).__name__}: {e}"
                ) from e
            finally:
                try:
                    vdisp.engine.ft_dropindex("vmut")
                except Exception:
                    pass
    assert n_err > 0 and n_ok > 0


def test_unbalanced_quoting_is_syntax_error(disp):
    # single-string commands shlex-split; unbalanced quotes must be a
    # grammar error, not shlex's ValueError
    with pytest.raises(QuerySyntaxError, match="quoting"):
        disp.execute('FT.SEARCH ix "unclosed')
    with pytest.raises(QuerySyntaxError, match="quoting"):
        disp.execute('FT.AGGREGATE ix * FILTER "@x > 1')
    # and the stage parser's own door (the Python ft_aggregate API
    # takes one shell-quoted stage string)
    from valkey_search_spark.operators.aggregate import parse_stages

    with pytest.raises(QuerySyntaxError, match="quoting"):
        parse_stages('FILTER "@x > 1')


def test_mutation_sweep_on_json_argvs(spark):
    """Mutation sweep over the ON JSON surface: $.path identifiers,
    AS aliases, and searches against the JSON index must only ever
    raise SearchError subclasses."""
    docs = spark.createDataFrame(
        [(1, '{"title": "cold widget", "price": 7}'),
         (2, '{"title": "large bolt", "price": 9}')],
        "id long, props string")
    d = CommandDispatcher(SearchEngine(spark), docs,
                          json_column="props", key_column="id")
    argvs = [
        ["FT.CREATE", "jmut", "ON", "JSON", "SCHEMA",
         "$.title", "AS", "title", "TEXT",
         "$.price", "AS", "price", "NUMERIC"],
        ["FT.SEARCH", "jx", "@title:widget @price:[5 8]",
         "RETURN", "1", "title", "LIMIT", "0", "3"],
    ]
    d.execute(*argvs[0][:1], "jx", *argvs[0][2:])   # real index to hit
    n_ok = n_err = 0
    for argv in argvs:
        for mut in _mutants(argv):
            try:
                out = d.execute(*mut)
                if hasattr(out, "limit"):
                    out.limit(1).collect()
                n_ok += 1
            except SearchError:
                n_err += 1
            except Exception as e:
                raise AssertionError(
                    f"mutant {mut!r} leaked {type(e).__name__}: {e}"
                ) from e
            finally:
                try:
                    d.engine.ft_dropindex("jmut")
                except Exception:
                    pass
    assert n_err > 0 and n_ok > 0


def test_aggregate_knn_wrong_dim_blob_errors(vdisp):
    # the dim check must cover FT.AGGREGATE too (its KNN executes
    # through _knn directly, not ft_search) — review finding, r11
    blob = struct.pack("<16f", *([0.5] * 16))
    with pytest.raises(QuerySyntaxError, match="DIM 64"):
        vdisp.execute("FT.AGGREGATE", "vx", "*=>[KNN 3 @embedding $v]",
                      "PARAMS", "2", "v", blob,
                      "GROUPBY", "0", "REDUCE", "COUNT", "0", "AS", "n")


def test_aggregate_knn_right_dim_ok(vdisp):
    blob = struct.pack("<64f", *([0.25] * 64))
    out = vdisp.execute("FT.AGGREGATE", "vx",
                        "*=>[KNN 3 @embedding $v AS d]",
                        "PARAMS", "2", "v", blob,
                        "GROUPBY", "0", "REDUCE", "COUNT", "0", "AS", "n")
    assert out.collect()[0]["n"] == 3

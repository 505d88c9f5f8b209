"""RESP command front end (commands.py): the reference's FT.* argv
grammar must drive the engine identically to the Python API — every
clause parsed here cites /root/reference/docs/commands/ft.create.md's
grammar and the search/aggregate arg lists."""
from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from valkey_search_spark import (
    CommandDispatcher, NumericField, QuerySyntaxError, SearchEngine,
    TagField, TextField,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def part(spark):
    return spark.read.parquet(f"{SF}/part.parquet")


@pytest.fixture()
def disp(spark, part):
    eng = SearchEngine(spark)
    return CommandDispatcher(eng, part, key_column="p_partkey"), eng


def test_create_and_search_matches_python_api(spark, part, disp):
    d, eng = disp
    d.execute("FT.CREATE", "parts", "ON", "HASH", "SCHEMA",
              "p_brand", "TAG",
              "p_retailprice", "NUMERIC",
              "p_name", "TEXT")
    got = d.execute("FT.SEARCH", "parts",
                    "@p_brand:{Brand#13} @p_retailprice:[905 915]",
                    "SORTBY", "p_retailprice", "ASC",
                    "LIMIT", "0", "5")
    eng2 = SearchEngine(spark)
    eng2.ft_create("parts2", part,
                   [TagField("p_brand"), NumericField("p_retailprice"),
                    TextField("p_name")], key_column="p_partkey")
    want = eng2.ft_search(
        "parts2", "@p_brand:{Brand#13} @p_retailprice:[905 915]",
        sortby="p_retailprice", limit=(0, 5))
    assert [r["p_partkey"] for r in got.collect()] == \
        [r["p_partkey"] for r in want.collect()]


def test_search_options_params_return_count(spark, disp):
    d, eng = disp
    d.execute("FT.CREATE", "p2", "SCHEMA", "p_brand", "TAG",
              "p_retailprice", "NUMERIC")
    # PARAMS substitution + RETURN n f AS alias (token-counted)
    out = d.execute("FT.SEARCH", "p2", "@p_brand:{$b}",
                    "RETURN", "3", "p_retailprice", "AS", "price",
                    "PARAMS", "2", "b", "Brand#13",
                    "LIMIT", "0", "3", "DIALECT", "2")
    rows = out.collect()
    assert rows and "price" in rows[0].asDict()
    # LIMIT 0 0 == count-only (search.h:77-80)
    n = d.execute("FT.SEARCH", "p2", "@p_brand:{Brand#13}",
                  "LIMIT", "0", "0")
    assert isinstance(n, int) and n == len(
        d.execute("FT.SEARCH", "p2", "@p_brand:{Brand#13}",
                  "LIMIT", "0", "10000").collect())
    # string form with shell quoting is the CLI convenience; cluster
    # fan-out hints (ft.search.md:5-6) parse as single-engine no-ops
    out2 = d.execute(
        'FT.SEARCH p2 "@p_brand:{Brand#13}" NOCONTENT ALLSHARDS'
        ' CONSISTENT LIMIT 0 2')
    assert out2.columns == ["__key"]


def test_aggregate_stage_passthrough(spark, disp):
    d, eng = disp
    d.execute("FT.CREATE", "p3", "SCHEMA", "p_brand", "TAG",
              "p_retailprice", "NUMERIC")
    out = d.execute(
        "FT.AGGREGATE", "p3", "*",
        "GROUPBY", "1", "@p_brand",
        "REDUCE", "COUNT", "0", "AS", "n",
        "REDUCE", "AVG", "1", "@p_retailprice", "AS", "avg_price",
        "SORTBY", "2", "@n", "DESC",
        "LIMIT", "0", "3")
    rows = out.collect()
    assert len(rows) == 3 and rows[0]["n"] >= rows[-1]["n"]
    # quoted APPLY expression survives the argv round-trip (shlex.join
    # must re-quote tokens containing spaces/operators)
    out2 = d.execute(
        "FT.AGGREGATE", "p3", "*",
        "APPLY", "@p_retailprice * 2", "AS", "dbl",
        "LIMIT", "0", "1")
    assert "dbl" in out2.columns


def test_create_index_level_text_options(spark, part):
    eng = SearchEngine(spark)
    d = CommandDispatcher(eng, part, key_column="p_partkey")
    # NOSTOPWORDS + MINSTEMSIZE flow into every TEXT field
    schema = d.execute("FT.CREATE", "pt", "NOSTOPWORDS",
                       "MINSTEMSIZE", "6",
                       "SCHEMA", "p_name", "TEXT", "NOSUFFIXTRIE")
    tf = schema.fields[0]
    assert tf.stopwords == frozenset()
    assert tf.min_stem_size == 6
    assert tf.with_suffixtrie is False
    # suffix queries are rejected on a NOSUFFIXTRIE field
    with pytest.raises(Exception, match="suffix|SUFFIXTRIE"):
        eng.ft_search("pt", "@p_name:*old").collect()


def test_vector_create_and_knn(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng = SearchEngine(spark)
    d = CommandDispatcher(eng, emb, key_column="vec_id")
    d.execute("FT.CREATE", "vecs", "SCHEMA", "embedding", "VECTOR",
              "HNSW", "12", "TYPE", "FLOAT32", "DIM", "64",
              "DISTANCE_METRIC", "L2", "M", "16",
              "EF_CONSTRUCTION", "100", "INITIAL_CAP", "1000")
    import struct

    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    blob = struct.pack(f"<{len(qv)}f", *qv)   # the RESP wire form
    out = d.execute("FT.SEARCH", "vecs", "*=>[KNN 3 @embedding $v AS d]",
                    "PARAMS", "2", "v", blob, "LIMIT", "0", "3")
    rows = out.collect()
    assert len(rows) == 3 and rows[0]["d"] < 1e-5


def test_on_json_model(spark):
    docs = spark.createDataFrame(
        [(1, '{"title": "cold widget", "price": 7}'),
         (2, '{"title": "large bolt", "price": 9}')],
        "id long, props string")
    eng = SearchEngine(spark)
    d = CommandDispatcher(eng, docs, json_column="props",
                          key_column="id")
    d.execute("FT.CREATE", "j", "ON", "JSON", "SCHEMA",
              "$.title", "AS", "title", "TEXT",
              "$.price", "AS", "price", "NUMERIC")
    out = d.execute("FT.SEARCH", "j", "@title:widget @price:[5 8]",
                    "LIMIT", "0", "10")
    # default ON-JSON reply carries the key + the whole document ($)
    assert [r["__key"] for r in out.collect()] == ["1"]


def test_lifecycle_and_errors(spark, part):
    eng = SearchEngine(spark)
    d = CommandDispatcher(eng, part, key_column="p_partkey")
    d.execute("FT.CREATE", "lx", "SCHEMA", "p_brand", "TAG")
    assert "lx" in d.execute("FT._LIST")
    info = d.execute("FT.INFO", "lx")
    assert info["index_name"] == "lx" or "lx" in str(info)
    assert "predicate" in d.execute("FT.EXPLAIN", "lx",
                                    "@p_brand:{Brand#13}")
    assert d.execute("FT.DROPINDEX", "lx") == "OK"
    assert "lx" not in d.execute("FT._LIST")
    # reference-parity errors
    for bad in (
        ["FT.CREATE", "e1", "SCHEMA", "f", "BOGUS"],
        ["FT.CREATE", "e2", "LANGUAGE", "FRENCH", "SCHEMA", "f", "TAG"],
        ["FT.CREATE", "e3", "SCHEMA", "f", "TEXT", "WEIGHT", "2.0"],
        ["FT.CREATE", "e4", "SCHEMA"],
        ["FT.CREATE", "e5", "SCHEMA", "f", "VECTOR", "FLAT", "2",
         "TYPE", "FLOAT64"],
        ["FT.SEARCH", "nope_no_index"],          # missing query arg
        ["FT.SEARCH", "x", "*", "BOGUSARG"],
        ["FT.BOGUS"],
    ):
        with pytest.raises(QuerySyntaxError):
            d.execute(*bad)


def test_execute_reply_wire_shapes(spark, part):
    eng = SearchEngine(spark)
    d = CommandDispatcher(eng, part, key_column="p_partkey")
    d.execute("FT.CREATE", "wire", "SCHEMA", "p_brand", "TAG",
              "p_retailprice", "NUMERIC")
    rep = d.execute_reply("FT.SEARCH", "wire", "@p_brand:{Brand#13}",
                          "LIMIT", "0", "2")
    # [total, key, [f, v, ...], key, [f, v, ...]] with total >= shown
    assert isinstance(rep[0], int) and rep[0] >= 2
    assert isinstance(rep[1], str) and isinstance(rep[2], list)
    # count-only wire shape
    assert d.execute_reply("FT.SEARCH", "wire", "@p_brand:{Brand#13}",
                           "LIMIT", "0", "0") == [rep[0]]
    arep = d.execute_reply("FT.AGGREGATE", "wire", "*",
                           "GROUPBY", "1", "@p_brand",
                           "REDUCE", "COUNT", "0", "AS", "n",
                           "LIMIT", "0", "2")
    assert isinstance(arep[0], int) and isinstance(arep[1], list)
    # reply mode is scoped: the next execute() is a DataFrame again
    assert hasattr(d.execute("FT.SEARCH", "wire", "*", "LIMIT", "0", "1"),
                   "collect")


def test_reply_mode_is_per_call_across_threads():
    """Two threads share one dispatcher: while one is inside
    execute_reply's FT.SEARCH, the other's execute must still take the
    DataFrame path (ft_search), not the reply path."""
    import threading

    inside, release = threading.Event(), threading.Event()
    calls = []

    class StubEngine:
        def ft_search_reply(self, index, query, **kw):
            calls.append("ft_search_reply")
            if not inside.is_set():
                inside.set()
                release.wait(10)
            return [0]

        def ft_search(self, index, query, **kw):
            calls.append("ft_search")
            return "frame"

    d = CommandDispatcher(StubEngine(), source=None)
    t = threading.Thread(target=d.execute_reply,
                         args=("FT.SEARCH", "idx", "*"))
    t.start()
    try:
        assert inside.wait(10)
        got = d.execute("FT.SEARCH", "idx", "*")
    finally:
        release.set()
        t.join(10)
    assert not t.is_alive()
    assert got == "frame"
    assert calls == ["ft_search_reply", "ft_search"]


def test_repl_main_end_to_end(spark):
    """python -m valkey_search_spark: script a session through main()
    with a StringIO stdin and check the RESP-shaped output."""
    import io

    from valkey_search_spark.__main__ import main

    script = "\n".join([
        "# comment lines and blanks are ignored",
        "",
        "FT.CREATE parts SCHEMA p_brand TAG p_retailprice NUMERIC",
        'FT.SEARCH parts "@p_brand:{Brand#13}" LIMIT 0 0',
        "FT._LIST",
        "FT.SEARCH parts bogus_syntax_here(((",
        "QUIT",
    ]) + "\n"
    out = io.StringIO()
    rc = main(["--table", f"parts={SF}/part.parquet",
               "--key", "p_partkey"],
              stdin=io.StringIO(script), stdout=out)
    assert rc == 0
    text = out.getvalue()
    lines = [ln for ln in text.splitlines() if ln.strip()]
    assert lines[0] == "'OK'"                       # FT.CREATE
    import duckdb

    want = duckdb.sql(
        f"select count(*) from '{SF}/part.parquet'"
        " where p_brand='Brand#13'").fetchone()[0]
    assert lines[1] == repr(want)                   # count-only reply
    assert "parts" in lines[2]                      # FT._LIST
    assert lines[3].startswith("(error)")           # parse error shape


def test_dispatcher_equivalence_fuzz(spark, part):
    """Property: any command the dispatcher accepts returns exactly the
    frame the Python API builds from the same clauses — swept over the
    option lattice (sortby x direction x limit x nocontent x filter),
    deterministic full enumeration rather than random sampling so the
    pin is stable across runs."""
    eng = SearchEngine(spark)
    d = CommandDispatcher(eng, part, key_column="p_partkey")
    d.execute("FT.CREATE", "fz", "SCHEMA", "p_brand", "TAG",
              "p_retailprice", "NUMERIC", "p_size", "NUMERIC")
    queries = ["*", "@p_brand:{Brand#13}",
               "@p_retailprice:[905 915]",
               "-@p_brand:{Brand#13} @p_size:[1 25]"]
    for query in queries:
        for sortby in (None, "p_retailprice", "p_size"):
            for desc in (False, True):
                for off, num in ((0, 4), (2, 3)):
                    argv = ["FT.SEARCH", "fz", query]
                    kw = {"limit": (off, num)}
                    if sortby:
                        argv += ["SORTBY", sortby,
                                 "DESC" if desc else "ASC"]
                        kw.update(sortby=sortby, sortby_desc=desc)
                    argv += ["LIMIT", str(off), str(num)]
                    got = d.execute(*argv).collect()
                    want = eng.ft_search("fz", query, **kw).collect()
                    if sortby is None:
                        got, want = sorted(map(tuple, got)), \
                            sorted(map(tuple, want))
                    else:
                        got, want = list(map(tuple, got)), \
                            list(map(tuple, want))
                    assert got == want, (query, sortby, desc, off, num)


def test_repl_table_glob_and_multipath(spark, tmp_path):
    """--table PATH accepts globs / directories / comma-separated
    lists (README REPL section): a glob over two parquet directories
    scans their union as one frame."""
    import io

    from valkey_search_spark.__main__ import main

    a = spark.createDataFrame(
        [(1, '{"title": "cold widget", "price": 7}')],
        "doc_id long, props string")
    b = spark.createDataFrame(
        [(2, '{"title": "large bolt", "price": 9}')],
        "doc_id long, props string")
    a.write.parquet(str(tmp_path / "2024-01.parquet"))
    b.write.parquet(str(tmp_path / "2024-02.parquet"))
    script = "\n".join([
        "FT.CREATE docs ON JSON SCHEMA $.title AS title TEXT"
        " $.price AS price NUMERIC",
        "FT.SEARCH docs * LIMIT 0 0",
        'FT.SEARCH docs "@title:widget @price:[5 8]" LIMIT 0 3',
        "QUIT",
    ]) + "\n"
    for spec in (f"docs={tmp_path}/2024-*.parquet",
                 f"docs={tmp_path}/2024-01.parquet,"
                 f"{tmp_path}/2024-02.parquet"):
        out = io.StringIO()
        rc = main(["--table", spec, "--key", "doc_id",
                   "--json-column", "props"],
                  stdin=io.StringIO(script), stdout=out)
        assert rc == 0
        lines = [ln for ln in out.getvalue().splitlines() if ln.strip()]
        assert lines[0] == "'OK'"
        assert lines[1] == "2"          # both directories scanned
        assert lines[2] == "1" and "cold widget" in lines[-1]

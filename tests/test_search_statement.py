"""Each FT.SEARCH op is one SQL statement over the index's view: the
py4j round-trips of a reply do not grow with the predicate, the executed
plans keep one top-k cut and one observation where they should, the
view follows the index's lifecycle, and malformed LIMIT / TIMEOUT
arguments are syntax errors before any statement is built."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from valkey_search_spark import (
    CommandDispatcher, NumericField, SearchEngine, TagField, TextField,
    VectorField,
)
from valkey_search_spark.errors import QuerySyntaxError

DIM = 64


@pytest.fixture(scope="module")
def setup(spark):
    rng = np.random.RandomState(5)
    rows = [(i, f"c{i % 10}", float(i % 97), f"word{i % 13} other{i % 7}",
             [float(x) for x in rng.randn(DIM)]) for i in range(400)]
    df = spark.createDataFrame(
        rows, "id bigint, cat string, price double, body string, "
              "vec array<float>")
    eng = SearchEngine(spark)
    eng.ft_create("st", df, [TagField("cat"), NumericField("price"),
                             TextField("body"),
                             VectorField("vec", dim=DIM, metric="l2")],
                  key_column="id", cache=True)
    blob = struct.pack(f"<{DIM}f", *rng.randn(DIM))
    return eng, CommandDispatcher(eng, source=None), blob


def _predicate(terms: int) -> str:
    """A conjunction of ``terms`` TAG / NUMERIC / TEXT leaves."""
    leaves = ["@cat:{c1|c2|c3}", "@price:[0 90]", "@body:word1|@body:word2"]
    leaves += [f"-@price:[{k} {k}]" for k in range(90, 90 + terms - 3)]
    return " ".join(leaves[:terms])


def _round_trips(argv, disp) -> int:
    """py4j commands one ``execute_reply`` sends to the JVM, counted by
    wrapping the client connection's ``send_command``. Object releases
    (sent whenever Python happens to collect a proxy) are not counted."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command
    n = [0]

    def counting(self, command):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            n[0] += 1
        return orig(self, command)

    ClientServerConnection.send_command = counting
    try:
        disp.execute_reply(argv)
    finally:
        ClientServerConnection.send_command = orig
    return n[0]


@pytest.mark.parametrize("knn", [False, True])
def test_round_trips_flat_in_predicate_size(setup, knn):
    eng, disp, blob = setup
    counts = {}
    for terms in (2, 20):
        q = f"({_predicate(terms)})"
        argv = ["FT.SEARCH", "st", q, "LIMIT", "0", "5"]
        if knn:
            argv = ["FT.SEARCH", "st", f"{q}=>[KNN 10 @vec $v]",
                    "PARAMS", "2", "v", blob, "LIMIT", "0", "5"]
        disp.execute_reply(argv)                 # warm
        counts[terms] = _round_trips(argv, disp)
    assert counts[20] == counts[2], counts
    assert counts[2] <= 60, counts


def _reply_plan(eng, monkeypatch, *args, **kw) -> str:
    """The physical plan of the frame ``ft_search_reply`` collects."""
    import valkey_search_spark.operators.reply as reply

    plans = []
    orig = reply.search_reply

    def capture(df, **k):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(df, **k)

    monkeypatch.setattr(reply, "search_reply", capture)
    eng.ft_search_reply(*args, **kw)
    return plans[0]


def test_knn_reply_plan_one_top_k_no_observation(setup, monkeypatch):
    eng, _, blob = setup
    qv = list(np.frombuffer(blob, dtype=np.float32).astype(float))
    plan = _reply_plan(eng, monkeypatch, "st",
                       "@price:[0 50]=>[KNN 10 @vec $v]", params={"v": qv},
                       limit=(2, 3))
    # the page cut sits above the window; below it, one top-k over the scan
    page, below = plan.split("Window", 1)
    assert below.count("TakeOrderedAndProject") == 1, plan
    assert "InMemoryTableScan" in below.split("TakeOrderedAndProject")[1]
    assert "CollectMetrics" not in plan and "Exchange" not in plan, plan
    assert plan.count("zip_with(") == 1, plan


def test_non_knn_reply_keeps_one_observation(setup, monkeypatch):
    eng, _, _ = setup
    plan = _reply_plan(eng, monkeypatch, "st", "@cat:{c1}", limit=(0, 3))
    assert plan.count("CollectMetrics") == 1, plan
    assert plan.index("TakeOrderedAndProject") < plan.index("CollectMetrics")


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_view_lifecycle_and_odd_index_names(spark):
    eng = SearchEngine(spark)
    disp = CommandDispatcher(eng, source=None)
    one = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, t string")
    two = spark.createDataFrame([(7, "a"), (8, "a")], "id bigint, t string")
    for name in ("my idx", "back`quote", "índice-ü", "x`` `y"):
        eng.ft_create(name, one, [TagField("t")], key_column="id")
        view = eng.catalog.get(name).view
        assert view in _views(spark)
        assert disp.execute_reply(["FT.SEARCH", name, "@t:{a}"]) == \
            [1, "1", ["id", "1", "t", "a"]]
        # re-creating the name serves the new frame and drops the old view
        eng.ft_create(name, two, [TagField("t")], key_column="id")
        rep = disp.execute_reply(["FT.SEARCH", name, "@t:{a}", "NOCONTENT"])
        assert rep[0] == 2 and sorted(rep[1:]) == ["7", "8"]
        assert view not in _views(spark)
        view = eng.catalog.get(name).view
        disp.execute(["FT.DROPINDEX", name])
        assert view not in _views(spark)
        assert name not in eng.ft_list()


@pytest.mark.parametrize("limit", [["0", "-3"], ["-1", "10"], ["-1", "0"]])
@pytest.mark.parametrize("query", ["@cat:{c1}", "*=>[KNN 5 @vec $v]"])
def test_negative_limit_is_syntax_error(setup, limit, query):
    eng, disp, blob = setup
    argv = ["FT.SEARCH", "st", query, "LIMIT", *limit]
    if "KNN" in query:
        argv += ["PARAMS", "2", "v", blob]
    with pytest.raises(QuerySyntaxError, match="negative"):
        disp.execute_reply(argv)
    off, num = (int(x) for x in limit)
    kw = {"params": {"v": [0.0] * DIM}} if "KNN" in query else {}
    with pytest.raises(QuerySyntaxError, match="negative"):
        eng.ft_search("st", query, limit=(off, num), **kw)
    with pytest.raises(QuerySyntaxError, match="negative"):
        eng.ft_search_reply("st", query, limit=(off, num), **kw)


def test_negative_timeout_is_syntax_error(setup):
    eng, disp, _ = setup
    with pytest.raises(QuerySyntaxError, match="TIMEOUT"):
        disp.execute_reply(["FT.SEARCH", "st", "@cat:{c1}", "TIMEOUT", "-5"])
    with pytest.raises(QuerySyntaxError, match="TIMEOUT"):
        disp.execute_reply(["FT.AGGREGATE", "st", "@cat:{c1}", "TIMEOUT",
                            "-5", "GROUPBY", "1", "@cat"])
    with pytest.raises(QuerySyntaxError, match="TIMEOUT"):
        eng.ft_search("st", "@cat:{c1}", timeout_ms=-5)
    # zero still means no budget, and a fast query under a budget answers
    assert disp.execute_reply(["FT.SEARCH", "st", "@cat:{c1}", "TIMEOUT",
                               "0", "LIMIT", "0", "0"]) == [40]
    assert disp.execute_reply(["FT.SEARCH", "st", "@cat:{c1}", "TIMEOUT",
                               "60000", "LIMIT", "0", "0"]) == [40]

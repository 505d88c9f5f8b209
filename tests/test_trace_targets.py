"""``perfbench.trace.Tracer.install`` wraps each trace target by looking
the attribute up in its owner's own ``__dict__``: a target that moved to
a base class, or was renamed, passes every untraced run and crashes
every traced one. The first check needs no Spark; the second drives the
traced layers end to end."""
from __future__ import annotations


def test_every_trace_target_is_defined_on_its_owner():
    from perfbench.run import trace_targets

    missing = [f"{getattr(owner, '__name__', owner)}.{attr}"
               for owner, attr, _layer in trace_targets()
               if attr not in vars(owner)]
    assert not missing, f"trace targets not in their owner's __dict__: {missing}"


def test_traced_layers_record_spans(spark, tmp_path, monkeypatch):
    """Every serving layer records a span on an HNSW FT.SEARCH and an
    FT.AGGREGATE under the installed tracer: a layer whose traced name
    the engine stops calling (say, a helper bypassing the wrapped
    attribute) passes the ``__dict__`` check above but shows here."""
    import struct

    import numpy as np

    from perfbench.run import trace_targets
    from perfbench.trace import Tracer
    from valkey_search_spark import (
        CommandDispatcher, SearchEngine, TagField, VectorField,
    )
    from valkey_search_spark.plans import planner

    # price scoring as on a large index, so the planner estimates the
    # filter's size instead of choosing exact from the row count alone
    monkeypatch.setattr(planner, "SCORE_MS", 1.0)

    rng = np.random.RandomState(3)
    rows = [(i, f"c{i % 2}", [float(x) for x in rng.randn(8)])
            for i in range(300)]
    eng = SearchEngine(spark)
    eng.ft_create("tv", spark.createDataFrame(
        rows, "id bigint, cat string, vec array<float>"),
        [VectorField("vec", dim=8, metric="l2", algo="hnsw", m=8,
                     ef_construction=40), TagField("cat")],
        key_column="id")
    eng.ft_build_ann("tv", "vec", str(tmp_path / "hnsw"), algorithm="hnsw")
    disp = CommandDispatcher(eng, source=None)
    blob = struct.pack("<8f", *rows[0][2])
    tracer = Tracer()
    tracer.install(trace_targets())
    try:
        tracer.begin_op("smoke")
        # hybrid, no EF_RUNTIME: the planner's estimate runs; EF_RUNTIME
        # drives the graph search whatever the planner chooses
        for knn in ("[KNN 5 @vec $v]", "[KNN 5 @vec $v EF_RUNTIME 40]"):
            disp.execute_reply(["FT.SEARCH", "tv", f"@cat:{{c0}}=>{knn}",
                                "PARAMS", "2", "v", blob])
        disp.execute_reply(["FT.AGGREGATE", "tv", "@cat:{c1}", "GROUPBY",
                            "1", "@cat", "REDUCE", "COUNT", "0", "AS", "n"])
        tracer.end_op()
    finally:
        tracer.restore()
    want = {"commands", "parser", "plans.translate", "plans.probe",
            "search.plan", "aggregate.plan", "reply.collect", "hnsw.search"}
    missing = want - {s.name for s in tracer.spans}
    assert not missing, f"layers without a span: {sorted(missing)}"

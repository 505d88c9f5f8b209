"""The benchmark's workloads. Each drives only the engine's public surface:
``CommandDispatcher.execute_reply`` for every read (one dispatcher per
client thread), ``SearchEngine.ft_create`` / ``ft_build_ann`` /
``ft_dropindex`` for set-up and re-indexing, and
``DocumentStore.apply_mutations`` for writes.

A workload has ``prepare`` (generate inputs and oracle truth: the
benchmark's own cost, untimed), ``setup_round`` and ``setup_once`` (the
engine's set-up, timed as ``setup_s``: the median round plus the once-only
part), ``ops`` with ``run_op`` (one checked client call) and, for
``ingest_live``, a ``writer`` beside the readers.
"""

from __future__ import annotations

import os
import threading
import time

import duckdb
import numpy as np

from . import gen, oracle


class Workload:
    name = ""
    readers = 4            # closed-loop reader client threads

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.engine = ctx.engine
        self.seed = ctx.seed
        self.work = ctx.work
        self.ops: list[dict] = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def _cached(self, name, df, fields, key) -> float:
        """FT.CREATE with the ingest-time cache, then the index's first
        ``indexed_df`` materialization. Returns its wall time."""
        t0 = time.perf_counter()
        with self.ctx.span("catalog.build"):
            self.engine.ft_create(name, df, fields, key_column=key, cache=True)
            self.engine.catalog.get(name).indexed_df().count()
        return time.perf_counter() - t0

    def _drop(self, *names) -> None:
        for n in names:
            if n in self.engine.ft_list():
                self.engine.ft_dropindex(n)

    def check_first(self) -> None:
        """The first reply of each of ``check_kinds`` after set-up must be
        correct, or the run stops before timing anything. These are
        queries, not set-up work, so ``setup_s`` leaves them out."""
        for kind in self.check_kinds:
            op = next(o for o in self.ops if o["kind"] == kind)
            ok, detail, _ = self.run_op(op)
            if not ok:
                raise RuntimeError(f"{self.name}: set-up reply wrong "
                                   f"({kind}): {detail}")

    def setup_once(self) -> dict:
        """Set-up paid once per run, after the rounds, then the check of
        the first replies."""
        self.check_first()
        return {"total": 0.0}

    def recall(self, results) -> float:
        """recall_at_10 is defined by approximate ops alone. A workload
        with none reports a fixed 1.0, taken from no reply: every run must
        carry every end-to-end metric, and its failures already show in
        ``failed``."""
        return 1.0

    def client_ops(self, c: int) -> list[dict]:
        """The ops reader client ``c`` cycles through."""
        return self.ops

    def writer(self, stop: threading.Event, results: list) -> None:
        """Workloads without writes have no writer."""

    def extra_metrics(self, writes: list[dict]) -> dict:
        """Write-side metrics from the measured writer batches."""
        return {}


# ---------------------------------------------------------------------------
class VectorHybrid(Workload):
    """KNN 10 over a clustered corpus: exact pure and exact hybrid on a
    FLAT field, and on an HNSW field with a built graph artifact the
    EF_RUNTIME beam plus the planner's default hybrid path."""

    name = "vector_hybrid"
    check_kinds = ("exact", "hnsw_default")

    def prepare(self):
        table, x = gen.vectors()
        self.src = gen.write_table(table, self.path("vectors"))
        self.ops = gen.vector_ops(self.seed, table, x)

    @staticmethod
    def fields(algo):
        from valkey_search_spark import NumericField, TagField, VectorField

        return [VectorField("vec", dim=gen.VEC_DIM, metric="l2", algo=algo,
                            m=8, ef_construction=40),
                NumericField("price"), TagField("cat")]

    def setup_round(self, r: int) -> dict:
        self._drop("vecs_flat", "vecs_hnsw")
        t0 = time.perf_counter()
        df = self.spark.read.parquet(self.src)
        cat = self._cached("vecs_flat", df, self.fields("flat"), "id")
        cat += self._cached("vecs_hnsw", df, self.fields("hnsw"), "id")
        return {"total": time.perf_counter() - t0, "catalog": cat}

    def setup_once(self) -> dict:
        """The HNSW graph build, once per run on the last round's index:
        it costs several times a whole set-up round."""
        t0 = time.perf_counter()
        self.engine.ft_build_ann(
            "vecs_hnsw", "vec", self.path("hnsw"), algorithm="hnsw",
            max_segment_rows=-(-gen.VEC_ROWS // gen.HNSW_SEGMENTS))
        ann = time.perf_counter() - t0
        self.check_first()
        return {"total": ann, "ann": ann}

    def recall(self, results) -> float:
        """Mean recall@10 of the HNSW ops against the brute-force truth."""
        approx = [r.recall for r in results if r.kind.startswith("hnsw")]
        if not approx:
            raise RuntimeError("no HNSW op completed; recall is undefined")
        return sum(approx) / len(approx)

    def client_ops(self, c: int) -> list[dict]:
        """Client 0 runs the HNSW ops back to back and the others the exact
        ops, so one graph search is always in flight: the mix holds over
        time instead of depending on where slow ops happen to cluster."""
        approx = c == 0
        return [op for op in self.ops
                if op["kind"].startswith("hnsw") == approx]

    def run_op(self, op):
        reply = self.ctx.execute_reply(
            ["FT.SEARCH", op["index"], op["query"], *op["extra"]])
        return oracle.check_knn(reply, op, exact=op["kind"].startswith("exact"))


# ---------------------------------------------------------------------------
class IngestLive(Workload):
    """Three readers run the point-search mix against the current version
    of a cached documents index, and one of them also FT.AGGREGATE scans
    over an uncached index of the original parquet, while one writer
    applies a SET/DEL batch every ``write_period_s``:
    DocumentStore.apply_mutations, then a versioned ft_create(cache=True)
    over a snapshot of the store, then polls until the batch is visible.
    Writer documents never match a reader query, so the readers' answer
    sets hold across versions."""

    name = "ingest_live"
    check_kinds = ("term", "sortby", "aggregate")
    readers = 3
    buckets = 16
    keep_versions = 3
    write_period_s = 4.0

    def prepare(self):
        table = gen.documents()
        self.src = gen.write_table(table, self.path("documents"))
        self.n_chars = dict(zip(table.column("doc_id").to_pylist(),
                                table.column("n_chars").to_pylist()))
        self.ops = gen.reader_ops(self.seed, table)
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW docs AS SELECT * FROM "
                    f"read_parquet('{self.src}/*.parquet')")
        point = [o for o in self.ops if o["kind"] != "aggregate"]
        agg = [o for o in self.ops if o["kind"] == "aggregate"]
        for op, truth in zip(point, oracle.point_truth(con, point)):
            op["truth"] = truth
        for op, truth in zip(agg, oracle.aggregate_truth(con, agg)):
            op["truth"] = truth
        con.close()
        self.next_batch = 0

    @staticmethod
    def fields():
        from valkey_search_spark import NumericField, TagField, TextField

        return [TagField("lang"), TagField("source"), NumericField("n_chars"),
                TextField("text")]

    def snapshot(self):
        """The store's current rows, pinned: every version indexes its own
        snapshot, so dropping an old version or rewriting a bucket never
        touches the data a newer version serves."""
        return self.store.read().localCheckpoint()

    def setup_round(self, r: int) -> dict:
        from valkey_search_spark.streaming.ingest import DocumentStore

        self._drop(*self.engine.ft_list())
        t0 = time.perf_counter()
        self.store = DocumentStore(self.spark, self.path(f"store-{r}"),
                                   key_column="doc_id",
                                   num_buckets=self.buckets)
        self.store.backfill(self.spark.read.parquet(self.src))
        self.version = 0
        self.current = "docs_v0"
        self.alive: list[int] = []
        self.next_key = gen.WRITER_KEY_BASE
        cat = self._cached(self.current, self.snapshot(), self.fields(),
                           "doc_id")
        t1 = time.perf_counter()
        with self.ctx.span("catalog.build"):
            self.engine.ft_create("docs_scan", self.spark.read.parquet(self.src),
                                  self.fields(), key_column="doc_id")
        cat += time.perf_counter() - t1
        return {"total": time.perf_counter() - t0, "catalog": cat}

    def client_ops(self, c: int) -> list[dict]:
        """Client 0 runs an FT.AGGREGATE op after every three point
        searches; the other clients run point searches only. So at most
        one scan is in flight, and the load does not swing with how the
        clients' slow ops happen to line up."""
        point = [op for op in self.ops if op["kind"] != "aggregate"]
        if c:
            return point
        agg = [op for op in self.ops if op["kind"] == "aggregate"]
        return [op for i, a in enumerate(agg)
                for op in point[3 * i:3 * i + 3] + [a]]

    def run_op(self, op):
        if op["kind"] == "aggregate":
            reply = self.ctx.execute_reply(
                ["FT.AGGREGATE", "docs_scan", op["query"], *op["extra"]])
            return oracle.check_aggregate(reply, op["truth"], op["groups"],
                                          op["sort"])
        reply = self.ctx.execute_reply(
            ["FT.SEARCH", self.current, op["query"], *op["extra"]])
        sort = "n_chars" if op["kind"] == "sortby" else None
        return oracle.check_search(reply, op["truth"], sort, self.n_chars)

    # -- writer ----------------------------------------------------------
    def _files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for d, _, files in os.walk(self.store.path):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(d, f))
                    out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
        return out

    def _count(self, query: str) -> int:
        reply = self.ctx.execute_reply(
            ["FT.SEARCH", self.current, query, "LIMIT", "0", "0"])
        return int(reply[0])

    def write_batch(self) -> dict:
        """Apply one batch, re-index, publish, and poll until it is
        visible. Returns the batch record (``ok`` False on a wrong count)."""
        b = self.next_batch
        self.next_batch += 1
        m = gen.mutation_batch(self.seed, b, self.alive, self.next_key)
        self.next_key = m["next_key"]
        df = self.spark.createDataFrame(
            m["rows"], "__op string, doc_id long, text string, lang string, "
                       "source string, n_chars long")
        before = self._files()
        t0 = time.perf_counter()
        self.store.apply_mutations(df)
        t1 = time.perf_counter()
        after = self._files()
        changed = [p for p, meta in after.items() if before.get(p) != meta]
        name = f"docs_v{self.version + 1}"
        with self.ctx.span("ingest.reindex"):
            self.engine.ft_create(name, self.snapshot(), self.fields(),
                                  key_column="doc_id", cache=True)
            self.engine.catalog.get(name).indexed_df().count()
        t2 = time.perf_counter()
        self.version += 1
        self.current = name
        self._drop(f"docs_v{self.version - self.keep_versions}")
        dels = set(m["del_keys"])
        self.alive = [k for k in self.alive if k not in dels] + m["new_keys"]
        ok, polls = False, 0
        while polls < 20 and not ok:
            polls += 1
            ok = self._count(f"@text:{m['plant']}") == m["n_set"]
        t3 = time.perf_counter()
        ok = ok and self._count(
            f"@n_chars:[{gen.WRITER_N_CHARS} {2 * gen.WRITER_N_CHARS}]"
        ) == len(self.alive)
        return {"ok": ok, "apply_s": t1 - t0, "reindex_s": t2 - t1,
                "visible_s": t3 - t0, "docs": len(m["rows"]),
                "buckets": len({os.path.dirname(p) for p in changed}),
                "bytes_rewritten": sum(after[p][0] for p in changed),
                "bytes_mutated": gen.mutated_bytes(m["rows"])}

    def writer(self, stop: threading.Event, results: list) -> None:
        """One batch every ``write_period_s`` (later when a batch overruns
        the period) until ``stop``."""
        due = time.perf_counter()
        while not stop.is_set() and self.next_batch < gen.MAX_BATCHES:
            if stop.wait(max(0.0, due - time.perf_counter())):
                break
            due = max(due + self.write_period_s, time.perf_counter())
            self.ctx.begin_op(f"write{self.next_batch}")
            try:
                rec = self.write_batch()
            except Exception as e:          # noqa: BLE001 — counted, reported
                rec = {"ok": False, "error": repr(e)[:300]}
            finally:
                self.ctx.end_op()
            results.append(rec)

    def extra_metrics(self, writes: list[dict]) -> dict:
        done = [b for b in writes if b.get("ok")]
        if not done:
            return {}
        apply_s = sum(b["apply_s"] for b in done)
        return {
            "write_visible_ms": float(np.median([b["visible_s"] for b in done])) * 1e3,
            "write_docs_s": sum(b["docs"] for b in done) / apply_s,
            "ingest.apply_ms": apply_s / len(done) * 1e3,
            "ingest.reindex_ms": float(np.mean([b["reindex_s"] for b in done])) * 1e3,
            "ingest.buckets_rewritten": float(np.mean([b["buckets"] for b in done])),
            "ingest.write_amp": (sum(b["bytes_rewritten"] for b in done)
                                 / sum(b["bytes_mutated"] for b in done)),
        }


WORKLOADS = {w.name: w for w in (VectorHybrid, IngestLive)}

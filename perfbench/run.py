"""FT.* serving benchmark.

    python3 perfbench/run.py --workload vector_hybrid --seed 1 --seconds 15 --trace 0

Runs one workload as closed-loop clients in this process against a local
Spark session, checks every reply, prints a human-readable report and, as
the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
TRACE_SHARE = 0.5


def pin_environment(work: str) -> dict:
    """Pin what the engine reads from the environment before Spark starts,
    and return the host facts to print."""
    cpus = min(len(os.sched_getaffinity(0)), 4)
    ram_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ram_kb = int(line.split()[1])
    tmp = os.path.join(work, "tmp")
    # get_spark defaults the driver heap to 16g; stay far below RAM. The
    # heap is committed and touched up front, so resident memory does not
    # depend on when the collector chooses to grow it (what the heap holds
    # for cached indexes is reported apart, as cache_mb)
    mem = "2g" if ram_kb > 6 * 2**20 else "1g"
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": mem,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options '-XX:-UsePerfData -Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}' "
            "pyspark-shell"),
    }
    os.environ.update(env)
    return {"nproc": os.cpu_count(), "cpus_used": cpus,
            "ram_gib": round(ram_kb / 2**20, 1),
            "python": sys.version.split()[0],
            **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")}}


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Context:
    """What a workload needs from the run: the Spark session, one engine,
    a command dispatcher per client thread, the seed, a scratch directory,
    and the tracer hooks (no-ops in an untraced run)."""

    def __init__(self, spark, seed: int, work: str, tracer=None):
        from valkey_search_spark import SearchEngine

        self.spark = spark
        self.engine = SearchEngine(spark)
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self._local = threading.local()

    def execute_reply(self, argv: list):
        """Run one FT.* command on this thread's dispatcher, like a client
        on its own connection. CommandDispatcher keeps its reply mode on
        the instance, so clients sharing one dispatcher get each other's
        reply shapes (seen as DataFrames returned to FT.AGGREGATE)."""
        disp = getattr(self._local, "dispatcher", None)
        if disp is None:
            from valkey_search_spark import CommandDispatcher

            # FT.CREATE is not driven through argv (it cannot ask for the
            # ingest-time cache), so the dispatcher needs no keyspace source
            disp = self._local.dispatcher = CommandDispatcher(self.engine,
                                                              source=None)
        return disp.execute_reply(argv)

    def span(self, name: str):
        if self.tracer is None or not self.tracer.active():
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def begin_op(self, op_id: str) -> None:
        if self.tracer is not None:
            self.tracer.begin_op(op_id)

    def end_op(self) -> None:
        if self.tracer is not None:
            self.tracer.end_op()


def trace_targets():
    """(owner, attribute, layer) for every wrapped public function."""
    import valkey_search_spark.operators.reply as reply
    import valkey_search_spark.operators.search as search
    import valkey_search_spark.plans.planner as planner
    from valkey_search_spark import CommandDispatcher, SearchEngine
    from valkey_search_spark.operators.hnsw import HNSWIndex
    from valkey_search_spark.plans.predicate_translator import PredicateTranslator
    from valkey_search_spark.streaming.ingest import DocumentStore

    return [
        (CommandDispatcher, "execute_reply", "commands"),
        (search, "parse_query", "parser"),
        (PredicateTranslator, "preprocess", "plans.translate"),
        (PredicateTranslator, "translate", "plans.translate"),
        (PredicateTranslator, "translate_staged", "plans.translate"),
        (planner, "estimate_match_fraction", "plans.probe"),
        (SearchEngine, "ft_search", "search.plan"),
        (SearchEngine, "ft_aggregate", "aggregate.plan"),
        (reply, "search_reply", "reply.collect"),
        (reply, "aggregate_reply", "reply.collect"),
        (HNSWIndex, "search", "hnsw.search"),
        (SearchEngine, "ft_build_ann", "ann.build"),
        (DocumentStore, "apply_mutations", "ingest.apply"),
    ]


def count_pass(wl, spark) -> dict:
    """One client, the first op of each kind in the workload's mix, a Spark
    job group per op: exact jobs / stages / tasks per op (each kind weighs
    the same), and the planner probe's jobs apart."""
    import valkey_search_spark.plans.planner as planner
    from perfbench.trace import JobCounter

    jc = JobCounter(spark)
    orig = planner.estimate_match_fraction
    group = {}

    def split_probe(*a, **k):
        jc.set_group(group["g"] + "-probe")
        try:
            return orig(*a, **k)
        finally:
            jc.set_group(group["g"])

    planner.estimate_match_fraction = split_probe
    sample, seen = [], set()
    for op in wl.ops:
        if op["kind"] not in seen:
            seen.add(op["kind"])
            sample.append(op)
    jobs = stages = tasks = probe = 0
    try:
        for i, op in enumerate(sample):
            group["g"] = g = f"perfbench-{i}"
            jc.set_group(g)
            try:
                wl.run_op(op)
            finally:
                jc.clear_group()
            j, s, t = jc.count([g, g + "-probe"])
            jobs, stages, tasks = jobs + j, stages + s, tasks + t
            probe += jc.count([g + "-probe"])[0]
    finally:
        planner.estimate_match_fraction = orig
    n = len(sample)
    return {"spark.jobs_per_op": jobs / n, "spark.stages_per_op": stages / n,
            "spark.tasks_per_op": tasks / n, "plans.probe_jobs": probe / n}


def cached_mb(engine, spark) -> float:
    """Size of the columnar cache behind every live index built with
    ``cache=True``, in MB, as Spark's cache builder accounted it. The
    driver heap is committed up front, so ``peak_rss_mb`` cannot see the
    cached index data grow; this does."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    sizes = {}          # by cached RDD: indexes with one plan share a cache
    for name in engine.ft_list():
        hit = cm.lookupCachedData(engine.catalog.get(name).indexed_df()._jdf)
        if hit.isDefined():
            builder = hit.get().cachedRepresentation().cacheBuilder()
            sizes[builder.cachedColumnBuffers().id()] = \
                builder.sizeInBytesStats().value()
    return sum(sizes.values()) / 2**20


class RunFailed(Exception):
    """The run cannot report a figure it was asked for."""


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import valkey_search_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from statistics import median

    from perfbench.loop import closed_loop, warm_up
    from perfbench.stats import min_samples, percentile
    from perfbench.trace import LoadSampler, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"({', '.join(WORKLOADS)})", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = pin_environment(work)
    spark = out = None
    try:
        from valkey_search_spark import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        host["spark"] = spark.version
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        print("host " + json.dumps(host, sort_keys=True), flush=True)

        tracer = Tracer() if args.trace else None
        ctx = Context(spark, args.seed, work, tracer)
        wl = WORKLOADS[args.workload](ctx)
        wl.prepare()
        if tracer is not None:
            tracer.install(trace_targets())

        rounds = []
        for r in range(SETUP_ROUNDS):
            ctx.begin_op(f"setup{r}")
            try:
                rounds.append(wl.setup_round(r))
            finally:
                ctx.end_op()
        ctx.begin_op("setup-once")
        try:
            once = wl.setup_once()
        finally:
            ctx.end_op()
        cache_mb = cached_mb(ctx.engine, spark)
        blocks = warm_up(wl)
        print("setup_rounds_s " + " ".join(f"{x['total']:.3f}" for x in rounds)
              + f" + once {once['total']:.3f}  warm-up block p50 ms "
              + " ".join(f"{b * 1e3:.1f}" for b in blocks), flush=True)

        counts, load = {}, None
        if tracer is not None:
            counts = count_pass(wl, spark)
            load = LoadSampler(spark)
            load.start()
        results, writes, wall = closed_loop(
            wl, args.seconds, ctx if tracer is not None else None,
            trace_share=TRACE_SHARE, min_ops=min_samples(90))
        if load is not None:
            counts.update(load.stop())
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(
            spark.sparkContext._gateway.proc.pid)

        lat = [r.latency * 1e3 for r in results]
        failed = [r for r in results if not r.ok] + \
            [w for w in writes if not w.get("ok")]
        attempted = len(results) + len(writes)
        try:
            p50, p90 = percentile(lat, 50), percentile(lat, 90)
            recall = wl.recall(results)
        except (ValueError, RuntimeError) as e:
            raise RunFailed(str(e)) from e
        e2e = {
            "latency_p50_ms": (p50, "ms"),
            "latency_p90_ms": (p90, "ms"),
            "throughput_ops_s": (len(results) / wall, "1/s"),
            "recall_at_10": (recall, "ratio"),
            "setup_s": (median([x["total"] for x in rounds]) + once["total"],
                        "s"),
            "peak_rss_mb": (rss, "MB"),
            "cache_mb": (cache_mb, "MB"),
        }
        extra = wl.extra_metrics(writes)
        report = dict(e2e)
        report["error_rate"] = (len(failed) / max(1, attempted), "ratio")
        for k in ("write_visible_ms", "write_docs_s"):
            if k in extra:
                report[k] = (extra[k], "ms" if k.endswith("ms") else "1/s")
        print(f"workload {args.workload} seed {args.seed} clients "
              f"{wl.readers}{' + 1 writer' if writes else ''} samples "
              f"{len(lat)} writes {len(writes)} wall_s {wall:.2f}", flush=True)
        for k, (v, u) in report.items():
            print(f"  {k:<22} {v:12.4f} {u}", flush=True)
        for f in failed[:5]:
            detail = f.detail if hasattr(f, "detail") else f.get("error", f)
            print(f"failure: {getattr(f, 'kind', 'write')}: {detail}",
                  file=sys.stderr)

        if tracer is None:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        else:
            metrics = layer_metrics(tracer, results, rounds, once, counts,
                                    extra)
            for k, m in metrics.items():
                print(f"  {k:<26} {m['value']:12.4f} {m['unit']}", flush=True)
            os.makedirs(os.path.join(HERE, ".work", "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                HERE, ".work", "traces",
                f"{args.workload}-seed{args.seed}.jsonl"))
            tracer.restore()
        out = {"correct": not failed, "attempted": attempted,
               "failed": len(failed), "metrics": metrics}
    except RunFailed as e:
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


def layer_metrics(tracer, results, rounds, once, counts, extra) -> dict:
    from statistics import median

    from perfbench.trace import layer_self_per_op

    traced = [r for r in results if r.traced]
    untraced = [r for r in results if not r.traced]
    # every measured op enters through execute_reply, so each traced op
    # ("m<client>-<n>") owns at least one span
    ops = {s.op for s in tracer.spans if s.op[:1] == "m"}
    ms = {k: v * 1e3 for k, v in layer_self_per_op(tracer.spans, ops).items()}

    def recall(kind):
        xs = [r.recall for r in results if r.kind == kind]
        return sum(xs) / len(xs) if xs else 0.0

    m = {
        "commands.argv_ms": (ms.get("commands", 0.0), "ms"),
        "parser.parse_ms": (ms.get("parser", 0.0), "ms"),
        "plans.translate_ms": (ms.get("plans.translate", 0.0), "ms"),
        "plans.probe_ms": (ms.get("plans.probe", 0.0), "ms"),
        "plans.probe_jobs": (counts.get("plans.probe_jobs", 0.0), "count"),
        "search.plan_ms": (ms.get("search.plan", 0.0), "ms"),
        "aggregate.plan_ms": (ms.get("aggregate.plan", 0.0), "ms"),
        "reply.collect_ms": (ms.get("reply.collect", 0.0), "ms"),
        "hnsw.search_ms": (ms.get("hnsw.search", 0.0), "ms"),
        "hnsw.recall_ef": (recall("hnsw_ef"), "ratio"),
        "hnsw.recall_inline": (recall("hnsw_default"), "ratio"),
        "spark.jobs_per_op": (counts["spark.jobs_per_op"], "count"),
        "spark.stages_per_op": (counts["spark.stages_per_op"], "count"),
        "spark.tasks_per_op": (counts["spark.tasks_per_op"], "count"),
        "spark.jobs_in_flight": (counts["spark.jobs_in_flight"], "count"),
        "spark.tasks_running": (counts["spark.tasks_running"], "count"),
        "spark.tasks_waiting": (counts["spark.tasks_waiting"], "count"),
        "ann.build_s": (once.get("ann", 0.0), "s"),
        "catalog.build_s": (median([x["catalog"] for x in rounds]), "s"),
        "ingest.apply_ms": (extra.get("ingest.apply_ms", 0.0), "ms"),
        "ingest.reindex_ms": (extra.get("ingest.reindex_ms", 0.0), "ms"),
        "ingest.buckets_rewritten": (extra.get("ingest.buckets_rewritten", 0.0),
                                     "count"),
        "ingest.write_amp": (extra.get("ingest.write_amp", 0.0), "ratio"),
        "ingest.write_visible_ms": (extra.get("write_visible_ms", 0.0), "ms"),
        "ingest.write_docs_s": (extra.get("write_docs_s", 0.0), "1/s"),
        "trace.overhead_ratio": (
            median([r.latency for r in traced]) / median([r.latency for r in untraced])
            if traced and untraced else 1.0, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and the workers it forked) to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Py4JError:               # the JVM is already gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()          # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


if __name__ == "__main__":
    t_start = time.perf_counter()
    rc = main()
    print(f"perfbench: finished in {time.perf_counter() - t_start:.1f} s",
          file=sys.stderr)
    sys.exit(rc)

"""Span tracing installed from outside the engine, and Spark job counts.

``Tracer.install`` wraps public functions of each engine layer with span
recorders at runtime and ``restore`` puts the originals back; nothing in
the engine package is edited. A wrapper records only while its thread
has an active traced op, so untraced ops in the same run pay one
attribute lookup per call.

A span is (id, name, start, end, parent id, op id). Spans stay in memory
until the run ends. A layer's self time is its span's duration minus the
part of that interval its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str


def covered(interval: tuple[float, float],
            children: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` covered by the union of
    ``children`` (children may overlap or stick out of the interval)."""
    lo, hi = interval
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in children):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> self time in seconds."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.id: (s.end - s.start) - covered((s.start, s.end), kids[s.id])
            for s in spans}


def layer_self_per_op(spans: list[Span], ops) -> dict[str, float]:
    """Mean self time per op, in seconds, of each span name over ``ops``:
    the sum over the op's spans of that name, averaged over every op in
    ``ops`` (ops that never reach a layer count as zero for it)."""
    st = self_times(spans)
    want = set(ops)
    total: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.op in want:
            total[s.name] += st[s.id]
    n = max(1, len(want))
    return {name: t / n for name, t in total.items()}


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- ops and spans ---------------------------------------------------
    def begin_op(self, op_id: str) -> None:
        self._local.op = op_id
        self._local.stack = []

    def end_op(self) -> None:
        self._local.op = None

    def active(self) -> bool:
        return getattr(self._local, "op", None) is not None

    def span(self, name: str):
        return _SpanCtx(self, name)

    # -- runtime wrappers ------------------------------------------------
    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if getattr(self._local, "op", None) is None:
                return fn(*args, **kwargs)
            with _SpanCtx(self, name):
                return fn(*args, **kwargs)
        return traced

    def install(self, targets) -> None:
        """``targets``: (owner, attribute, span name) triples; ``owner`` is
        a class or module whose attribute is the plain function callers
        look up."""
        for owner, attr, name in targets:
            orig = owner.__dict__[attr]
            setattr(owner, attr, self.wrap(orig, name))
            self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    __slots__ = ("tracer", "name", "id", "parent", "t0")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        loc = self.tracer._local
        stack = loc.__dict__.setdefault("stack", [])
        self.parent = stack[-1] if stack else None
        self.id = next(self.tracer._ids)
        stack.append(self.id)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        loc = self.tracer._local
        loc.stack.pop()
        self.tracer.spans.append(Span(self.id, self.name, self.t0, t1,
                                      self.parent,
                                      getattr(loc, "op", None) or "-"))
        return False


# ---------------------------------------------------------------------------
# Spark job / stage / task counts per op, and scheduler load over a run
# ---------------------------------------------------------------------------
class JobCounter:
    """Counts the Spark jobs, stages and tasks one op causes, through a job
    group per op and ``sparkContext.statusTracker()``. Used with a single
    client and no writer, so every job in the group is the op's own."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, "perfbench op")

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, groups: list[str]) -> tuple[int, int, int]:
        """(jobs, stages, tasks) over ``groups``, after the listener bus has
        caught up with every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
        return jobs, stages, tasks


class LoadSampler:
    """Samples Spark's scheduler every ``period_s`` on its own thread while
    running: active jobs, running tasks, and tasks of active stages still
    waiting for a core. ``stop`` returns the mean of each over the
    samples, so queuing shows as jobs and waiting tasks piling up."""

    def __init__(self, spark, period_s: float = 0.05):
        self.tracker = spark.sparkContext.statusTracker()
        self.period_s = period_s
        self.samples: list[tuple[int, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> tuple[int, int, int]:
        jobs = len(self.tracker.getActiveJobsIds())
        running = waiting = 0
        for sid in self.tracker.getActiveStageIds():
            st = self.tracker.getStageInfo(sid)
            if st is not None:
                running += st.numActiveTasks
                waiting += (st.numTasks - st.numActiveTasks
                            - st.numCompletedTasks - st.numFailedTasks)
        return jobs, running, waiting

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.samples.append(self.sample())

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join()
        n = max(1, len(self.samples))
        jobs, running, waiting = (sum(s[i] for s in self.samples) / n
                                  for i in range(3))
        return {"spark.jobs_in_flight": jobs, "spark.tasks_running": running,
                "spark.tasks_waiting": waiting}

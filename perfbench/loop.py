"""Closed-loop clients: each client thread sends its next op only after the
previous reply came back and was checked."""

from __future__ import annotations

import random
import threading
import time
from dataclasses import dataclass
from statistics import median

# an op slower than this counts as failed (a timeout), whatever its reply
OP_TIMEOUT_S = 30.0
# a loop short of its minimum reply count runs on to this multiple of its
# planned length
MAX_STRETCH = 3


@dataclass
class OpResult:
    kind: str
    start: float
    end: float
    ok: bool
    recall: float
    traced: bool
    detail: str = ""

    @property
    def latency(self) -> float:
        return self.end - self.start


def closed_loop(wl, seconds: float, ctx=None, trace_share: float = 0.0,
                min_ops: int = 0):
    """Run ``wl.readers`` reader clients plus the workload's writer for
    ``seconds``, and on past that until ``min_ops`` replies came back (at
    most ``MAX_STRETCH`` times ``seconds`` in all). Each client starts at
    its own offset in its op list (``wl.client_ops(c)``) and walks it
    cyclically. With ``ctx`` tracing, each op is traced with probability
    ``trace_share`` (seeded per client) under the op id ``m<client>-<n>``.
    Returns (reader results, writer records, wall seconds from start to
    the last reply)."""
    results: list[OpResult] = []
    writes: list[dict] = []
    stop = threading.Event()
    start = time.perf_counter()
    deadline = start + seconds
    cutoff = start + MAX_STRETCH * seconds

    def going() -> bool:
        now = time.perf_counter()
        return now < deadline or (len(results) < min_ops and now < cutoff)

    def client(c: int):
        rng = random.Random(wl.seed * 7919 + c)
        ops = wl.client_ops(c)
        i = c * len(ops) // wl.readers
        while going():
            op = ops[i % len(ops)]
            i += 1
            traced = ctx is not None and rng.random() < trace_share
            if traced:
                ctx.begin_op(f"m{c}-{i}")
            t0 = time.perf_counter()
            try:
                ok, detail, recall = wl.run_op(op)
            except Exception as e:              # noqa: BLE001 — counted as failed
                ok, detail, recall = False, repr(e)[:300], 0.0
            t1 = time.perf_counter()
            if traced:
                ctx.end_op()
            if t1 - t0 > OP_TIMEOUT_S:
                ok, detail = False, f"timeout ({t1 - t0:.1f} s)"
            results.append(OpResult(op["kind"], t0, t1, ok, recall, traced,
                                    detail))

    threads = [threading.Thread(target=client, args=(c,), daemon=True)
               for c in range(wl.readers)]
    threads.append(threading.Thread(target=wl.writer, args=(stop, writes),
                                    daemon=True))
    for t in threads:
        t.start()
    for t in threads[:wl.readers]:
        t.join()
    stop.set()
    for t in threads[wl.readers:]:
        t.join()
    wall = max([r.end for r in results] + [start]) - start
    return results, writes, wall


def warm_up(wl, block_s: float = 1.5, max_blocks: int = 3,
            tolerance: float = 0.1) -> list[float]:
    """Closed-loop blocks of ``block_s`` until the block median latency
    moves less than ``tolerance`` from the block before (at least two
    blocks, at most ``max_blocks``). Returns the block medians."""
    medians: list[float] = []
    for _ in range(max_blocks):
        res, _, _ = closed_loop(wl, block_s)
        if res:
            medians.append(median([r.latency for r in res]))
        if len(medians) >= 2 and abs(medians[-1] - medians[-2]) <= \
                tolerance * medians[-2]:
            break
    return medians

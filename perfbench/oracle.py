"""Reply oracles: truth computed outside the engine, and comparators that
return a verdict instead of raising.

Truth comes from DuckDB over the same parquet files the engine reads
(tag, numeric, text and FT.AGGREGATE) or from numpy brute force (KNN).
It is computed once at set-up, before any timed op, so a reply that
drifts under concurrency or caching counts as a failure. Every
comparator returns ``(ok, detail, recall)``: ``recall`` is the share of
the oracle's top-10 answer present in the reply and never decides
``ok`` for approximate (HNSW) replies.
"""

from __future__ import annotations

import math

import numpy as np

REL_TOL = 1e-6


def _close(a: float, b: float, rel: float = REL_TOL) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# reply parsing
# ---------------------------------------------------------------------------
def parse_search_reply(reply) -> tuple[int, list[tuple[str, dict]]]:
    """``[total, key, [f, v, ...], ...]`` -> (total, [(key, {f: v})])."""
    if not isinstance(reply, list) or not reply:
        raise ValueError(f"not a search reply: {reply!r:.80}")
    total = int(reply[0])
    body = reply[1:]
    if len(body) % 2:
        raise ValueError("search reply has an odd key/field list")
    docs = []
    for key, fv in zip(body[::2], body[1::2]):
        docs.append((str(key), dict(zip(fv[::2], fv[1::2]))))
    return total, docs


# ---------------------------------------------------------------------------
# FT.SEARCH over the documents index
# ---------------------------------------------------------------------------
def point_truth(con, ops: list[dict]) -> list[dict]:
    """Per op: total, the matching key set and the top-10 ``n_chars``
    values (the SORTBY truth). ``con`` is a DuckDB connection with the
    documents parquet registered as ``docs``."""
    cache: dict[str, dict] = {}
    out = []
    for op in ops:
        w = op["where"]
        if w not in cache:
            keys = {str(k) for (k,) in con.execute(
                f"SELECT doc_id FROM docs WHERE {w}").fetchall()}
            top = [v for (v,) in con.execute(
                f"SELECT n_chars FROM docs WHERE {w} "
                f"ORDER BY n_chars DESC LIMIT 10").fetchall()]
            cache[w] = {"total": len(keys), "keys": keys, "top": top}
        out.append(cache[w])
    return out


def check_search(reply, truth: dict, sort_field: str | None = None,
                 values: dict | None = None, limit: int = 10):
    """A LIMIT 0 ``limit`` FT.SEARCH reply against its truth: the pre-LIMIT
    total, the number of rows, every key inside the match set, no
    duplicates; with ``sort_field`` the returned sort values must equal
    the oracle's top values in order and agree with ``values`` (key ->
    true value)."""
    try:
        total, docs = parse_search_reply(reply)
    except (ValueError, TypeError) as e:
        return False, f"malformed reply: {e}", 0.0
    want = min(limit, truth["total"])
    keys = [k for k, _ in docs]
    hits = len(set(keys) & truth["keys"])
    recall = 1.0 if want == 0 else min(hits, want) / want
    if total != truth["total"]:
        return False, f"total {total} != {truth['total']}", recall
    if len(keys) != want or len(set(keys)) != len(keys):
        return False, f"{len(keys)} rows, want {want} distinct", recall
    if hits != len(keys):
        return False, "reply key outside the match set", recall
    if sort_field is not None:
        try:
            got = [float(f[sort_field]) for _, f in docs]
        except (KeyError, ValueError):
            return False, f"missing {sort_field} in reply", recall
        if got != [float(v) for v in truth["top"]]:
            return False, f"sort values {got} != {truth['top']}", recall
        if values is not None and any(
                float(values[int(k)]) != g for k, g in zip(keys, got)):
            return False, "returned sort value disagrees with the row", recall
    return True, "", recall


# ---------------------------------------------------------------------------
# KNN
# ---------------------------------------------------------------------------
def check_knn(reply, op: dict, exact: bool, k: int = 10,
              score: str = "__vec_score", tol: float = 1e-4):
    """A KNN reply against numpy brute force.

    Always checked: well-formed reply, distinct keys, every key passes the
    op's filter, and every returned score equals that key's true distance.
    ``exact``: the returned distances must also equal the truth's top-k
    distances rank for rank (tie-tolerant: equal distances may swap
    keys). ``recall`` counts a returned key as a hit when its true
    distance is within ``tol`` of the truth's k-th distance."""
    dist, mask, truth = op["dist"], op["mask"], op["truth"]
    try:
        total, docs = parse_search_reply(reply)
        keys = [int(key) for key, _ in docs]
        scores = [float(f[score]) for _, f in docs]
    except (ValueError, TypeError, KeyError) as e:
        return False, f"malformed reply: {e}", 0.0
    want = min(k, len(truth))
    kth = dist[truth[want - 1]] if want else -np.inf
    hits = sum(1 for key in set(keys)
               if 0 <= key < len(dist) and dist[key] <= kth + tol)
    recall = 1.0 if want == 0 else min(hits, want) / want
    if len(set(keys)) != len(keys):
        return False, "duplicate keys", recall
    if any(not 0 <= key < len(dist) for key in keys):
        return False, "unknown key", recall
    if mask is not None and not all(mask[key] for key in keys):
        return False, "key violates the filter", recall
    if any(abs(dist[key] - s) > tol * (1 + dist[key])
           for key, s in zip(keys, scores)):
        return False, "score disagrees with the true distance", recall
    if exact:
        if total != want or len(keys) != want:
            return False, f"{len(keys)} rows (total {total}), want {want}", recall
        if any(abs(s - dist[t]) > tol * (1 + dist[t])
               for s, t in zip(scores, truth)):
            return False, "distances differ from brute force", recall
    return True, "", recall


# ---------------------------------------------------------------------------
# FT.AGGREGATE
# ---------------------------------------------------------------------------
REDUCERS = ("n", "s", "a", "sd", "cd")


def aggregate_truth(con, ops: list[dict]) -> list[list[tuple]]:
    cache: dict[str, list[tuple]] = {}
    for op in ops:
        if op["sql"] not in cache:
            cache[op["sql"]] = con.execute(op["sql"]).fetchall()
    return [cache[op["sql"]] for op in ops]


def check_aggregate(reply, expected: list[tuple], groups: list[str],
                    sort: str):
    """An FT.AGGREGATE reply ``[N, [f, v, ...], ...]`` against DuckDB rows
    (group values, then n, s, a, sd, cd): same groups, every reducer within
    ``REL_TOL``, and rows ordered by ``sort`` descending."""
    if not isinstance(reply, list) or not reply:
        return False, "malformed reply", 0.0
    got = {}
    order = []
    try:
        for fv in reply[1:]:
            row = dict(zip(fv[::2], fv[1::2]))
            key = tuple(row[g] for g in groups)
            got[key] = [float(row.get(r, "nan")) for r in REDUCERS]
            order.append(got[key][REDUCERS.index(sort)])
    except (KeyError, ValueError, TypeError) as e:
        return False, f"malformed row: {e}", 0.0
    want = {tuple(str(v) for v in row[:len(groups)]):
            [float(v) for v in row[len(groups):]] for row in expected}
    recall = (len(set(got) & set(want)) / len(want)) if want else 1.0
    if set(got) != set(want):
        return False, f"groups {sorted(got)} != {sorted(want)}", recall
    for key, vals in want.items():
        if not all(_close(a, b) for a, b in zip(got[key], vals)):
            return False, f"group {key}: {got[key]} != {vals}", recall
    if any(a < b for a, b in zip(order, order[1:])):
        return False, f"rows not sorted by {sort} DESC", recall
    return True, "", recall

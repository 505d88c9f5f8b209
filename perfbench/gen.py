"""Seeded input generators, one per workload.

Everything the engine receives is made here: the parquet corpora, and
from ``--seed`` the FT.* argv, the query vectors with their numpy
brute-force truth, and the SET/DEL mutation batches. The corpora are the
same for every seed (drawn from ``CORPUS_SEED``): with a per-seed corpus
the quartile spread of vector_hybrid's p50 latency over five seeds was
0.15 of the median, against 0.09 with the fixed corpus and 0.01 over
repeats of one seed (2,000 16-d vectors, 4 cores), and spread that wide
would hide the regressions the bounds are there to catch. Generators are
pure and import no Spark.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# text vocabulary
#
# Reader words are three-letter consonant-vowel-consonant tokens: below the
# engine's default MINSTEMSIZE (4) they are never stemmed, none is an
# English stopword, and none contains punctuation, so term / prefix /
# phrase truth is plain token arithmetic that DuckDB can compute.
# Words written by the live-ingest writer all start with "x", which no
# reader word or reader prefix does, so writes never change a reader's
# answer set.
# ---------------------------------------------------------------------------
_CONS = "bdfgklmnprtvz"
_VOWELS = "aeiou"
_ENGLISH = {"bad", "bed", "big", "bit", "but", "dig", "fit", "for", "fun",
            "god", "got", "gun", "kit", "let", "lot", "man", "men", "met",
            "not", "nut", "pet", "pot", "put", "red", "rid", "rot", "run",
            "tip", "top", "van", "vet", "was", "win"}
VOCAB = tuple(c1 + v + c2 for c1 in _CONS for v in _VOWELS for c2 in _CONS
              if c1 + v + c2 not in _ENGLISH)
WRITER_FILLER = tuple("xw" + v + c for v in _VOWELS for c in "bdfglmnprtv")
MAX_BATCHES = 25
LANGS = ("en", "de", "fr", "es", "zh", "ja")
SOURCES = tuple(f"src{i}" for i in range(10))


def planted_token(batch: int) -> str:
    """The token that marks every document SET by writer batch ``batch``."""
    if not 0 <= batch < MAX_BATCHES:
        raise ValueError(f"batch {batch} outside 0..{MAX_BATCHES - 1}")
    return "xk" + "abcdefghijklmnopqrstuvwyz"[batch]


CORPUS_SEED = 0


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per (seed, purpose): changing one generator's
    draws never shifts another's."""
    return np.random.default_rng([seed, sum(ord(c) << i
                                            for i, c in enumerate(stream))])


def write_table(table: pa.Table, path: str) -> str:
    """Write ``table`` as one parquet file under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-000.parquet"))
    return path


# ---------------------------------------------------------------------------
# ingest_live: documents + point-search mix + mutation batches
# ---------------------------------------------------------------------------
DOC_ROWS = 5000
WRITER_KEY_BASE = 1_000_000
# writer docs sit outside every reader tag and range
WRITER_N_CHARS = 100_000
WRITER_LANG = "xx"


def documents(n: int = DOC_ROWS) -> pa.Table:
    r = _rng(CORPUS_SEED, "documents")
    p = 1.0 / (np.arange(len(VOCAB)) + 8.0)
    p /= p.sum()
    lens = r.integers(6, 40, n)
    words = r.choice(len(VOCAB), size=int(lens.sum()), p=p)
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    lang = r.choice(len(LANGS), n, p=[.4, .2, .15, .1, .1, .05])
    src = r.integers(0, len(SOURCES), n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in lang]),
        "source": pa.array([SOURCES[i] for i in src]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def point_ops(seed: int, docs: pa.Table, n: int = 64) -> list[dict]:
    """The point-search mix over the documents index: tag, numeric range,
    tag+numeric, negation, text term, text prefix, text phrase and
    SORTBY+LIMIT, shuffled. Each op is a dict with ``kind``, the query
    string, the extra argv after it, and ``where``: the same predicate as
    DuckDB SQL over the documents parquet."""
    r = _rng(seed, "point_ops")
    texts = docs.column("text").to_pylist()
    kinds = ["tag", "numeric", "tag_numeric", "negation", "term", "prefix",
             "phrase", "sortby"]
    ops = []
    for i in range(n):
        kind = kinds[i % len(kinds)]
        lo = int(r.integers(20, 220))
        hi = lo + int(r.integers(5, 30))
        extra = ["LIMIT", "0", "10"]
        if kind == "tag":
            lang = LANGS[int(r.integers(len(LANGS)))]
            q, where = f"@lang:{{{lang}}}", f"lang = '{lang}'"
        elif kind == "numeric":
            q, where = f"@n_chars:[{lo} {hi}]", f"n_chars BETWEEN {lo} AND {hi}"
        elif kind == "tag_numeric":
            src = SOURCES[int(r.integers(len(SOURCES)))]
            hi += 80
            q = f"@source:{{{src}}} @n_chars:[{lo} {hi}]"
            where = f"source = '{src}' AND n_chars BETWEEN {lo} AND {hi}"
        elif kind == "negation":
            lang = LANGS[int(r.integers(len(LANGS)))]
            q = f"-@lang:{{{lang}}} @n_chars:[{lo} {hi}]"
            where = f"lang <> '{lang}' AND n_chars BETWEEN {lo} AND {hi}"
        elif kind == "term":
            w = VOCAB[int(r.integers(0, 200))]
            q, where = f"@text:{w}", f"list_contains(string_split(text, ' '), '{w}')"
        elif kind == "prefix":
            pre = VOCAB[int(r.integers(0, 200))][:2]
            q = f"@text:{pre}*"
            where = (f"len(list_filter(string_split(text, ' '), "
                     f"t -> starts_with(t, '{pre}'))) > 0")
        elif kind == "phrase":
            toks = texts[int(r.integers(len(texts)))].split(" ")
            j = int(r.integers(len(toks) - 1))
            a, b = toks[j], toks[j + 1]
            q = f'@text:"{a} {b}"'
            where = f"contains(' ' || text || ' ', ' {a} {b} ')"
        else:  # sortby
            hi += 120
            q = f"@n_chars:[{lo} {hi}]"
            where = f"n_chars BETWEEN {lo} AND {hi}"
            extra = ["SORTBY", "n_chars", "DESC", "RETURN", "1", "n_chars",
                     "LIMIT", "0", "10"]
        ops.append({"kind": kind, "query": q, "extra": extra, "where": where})
    perm = r.permutation(n)
    return [ops[i] for i in perm]


def docs_aggregate_ops(seed: int, n: int = 16) -> list[dict]:
    """FT.AGGREGATE over the documents: a numeric range search phase,
    APPLY, an optional FILTER, GROUPBY @lang with COUNT / SUM / AVG /
    STDDEV / COUNT_DISTINCT, then SORTBY. ``sql`` is the DuckDB query for
    the same groups: the group value, then n, s, a, sd, cd."""
    r = _rng(seed, "docs_aggregate_ops")
    ops = []
    for _ in range(n):
        lo = int(r.integers(10, 120))
        hi = lo + int(r.integers(40, 120))
        where = [f"n_chars BETWEEN {lo} AND {hi}"]
        stages = ["LOAD", "2", "@n_chars", "@source",
                  "APPLY", "@n_chars/10", "AS", "w"]
        if r.random() < 0.5:
            cut = int(r.integers(2, 12))
            stages += ["FILTER", f"@w > {cut}"]
            where.append(f"n_chars/10 > {cut}")
        stages += ["GROUPBY", "1", "@lang",
                   "REDUCE", "COUNT", "0", "AS", "n",
                   "REDUCE", "SUM", "1", "@w", "AS", "s",
                   "REDUCE", "AVG", "1", "@n_chars", "AS", "a",
                   "REDUCE", "STDDEV", "1", "@n_chars", "AS", "sd",
                   "REDUCE", "COUNT_DISTINCT", "1", "@source", "AS", "cd",
                   "SORTBY", "2", "@n", "DESC"]
        sql = ("SELECT lang, count(*), sum(n_chars/10), avg(n_chars), "
               "coalesce(stddev_samp(n_chars), 0), count(DISTINCT source) "
               f"FROM docs WHERE {' AND '.join(where)} GROUP BY ALL")
        ops.append({"kind": "aggregate", "query": f"@n_chars:[{lo} {hi}]",
                    "extra": stages, "groups": ["lang"], "sort": "n",
                    "sql": sql})
    return ops


def reader_ops(seed: int, docs: pa.Table, n_point: int = 64,
               n_agg: int = 16) -> list[dict]:
    """The ingest_live reader ops: ``n_point`` point searches, then
    ``n_agg`` FT.AGGREGATE scans."""
    return point_ops(seed, docs, n_point) + docs_aggregate_ops(seed, n_agg)


def mutation_batch(seed: int, batch: int, alive: list[int], next_key: int,
                   n_new: int = 40, n_mod: int = 20, n_del: int = 10) -> dict:
    """One writer batch: ``n_new`` SETs of new keys, ``n_mod`` SETs that
    rewrite earlier writer documents and ``n_del`` DELs of other earlier
    writer documents. Every SET carries ``planted_token(batch)``.
    ``alive`` is the writer's live key list (not modified here)."""
    r = _rng(seed, f"batch{batch}")
    plant = planted_token(batch)
    pool = list(alive)
    r.shuffle(pool)
    mod = pool[:min(n_mod, len(pool))]
    dele = pool[len(mod):len(mod) + min(n_del, max(0, len(pool) - len(mod)))]
    new_keys = list(range(next_key, next_key + n_new))
    set_keys = new_keys + mod
    rows = []
    for k in set_keys:
        filler = r.choice(len(WRITER_FILLER), int(r.integers(10, 30)))
        words = [WRITER_FILLER[i] for i in filler]
        words.insert(int(r.integers(len(words) + 1)), plant)
        rows.append(("SET", k, " ".join(words), WRITER_LANG,
                     f"w{int(r.integers(10))}",
                     WRITER_N_CHARS + int(r.integers(1000))))
    rows += [("DEL", k, None, None, None, None) for k in dele]
    return {"rows": rows, "plant": plant, "n_set": len(set_keys),
            "new_keys": new_keys, "del_keys": dele,
            "next_key": next_key + n_new}


def mutated_bytes(rows: list[tuple]) -> int:
    """Logical size of a mutation batch: UTF-8 bytes of every string value
    plus 8 bytes per integer. The denominator of ingest.write_amp."""
    total = 0
    for row in rows:
        for v in row[1:]:
            if isinstance(v, str):
                total += len(v.encode("utf-8"))
            elif v is not None:
                total += 8
    return total


# ---------------------------------------------------------------------------
# vector_hybrid: clustered corpus, query vectors, brute-force truth
# ---------------------------------------------------------------------------
VEC_ROWS = 8_000
VEC_DIM = 64
# the HNSW artifact is built as this many segment graphs, one build task
# and one beam search task each (at 20,000 x 64-d on 4 cores, one segment
# built in 56-70 s and four in 35 s)
HNSW_SEGMENTS = 4
VEC_CLUSTERS = 16
CATS = tuple(f"c{i}" for i in range(8))


def vectors(n: int = VEC_ROWS, dim: int = VEC_DIM):
    """(table, matrix): ``n`` float32 vectors around ``VEC_CLUSTERS``
    gaussian centres, with an integer ``price`` in [0, 100) and a ``cat``
    tag as payload."""
    r = _rng(CORPUS_SEED, "vectors")
    centres = r.normal(size=(VEC_CLUSTERS, dim))
    lab = r.integers(0, VEC_CLUSTERS, n)
    x = (centres[lab] + 0.9 * r.normal(size=(n, dim))).astype(np.float32)
    price = r.integers(0, 100, n).astype(np.int64)
    cat = r.integers(0, len(CATS), n)
    table = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "vec": pa.array(list(x), type=pa.list_(pa.float32())),
        "price": pa.array(price),
        "cat": pa.array([CATS[i] for i in cat]),
    })
    return table, x


def blob(v: np.ndarray) -> bytes:
    """The reference's FLOAT32 little-endian PARAMS blob."""
    return struct.pack(f"<{len(v)}f", *np.asarray(v, np.float32).tolist())


def brute_force(x: np.ndarray, q: np.ndarray, mask: np.ndarray | None,
                k: int = 10) -> tuple[np.ndarray, np.ndarray]:
    """Exact L2 top-k over the rows of ``x`` where ``mask`` holds:
    (ids, distances), ordered by (distance, id-as-string) like the engine's
    key tiebreak. Distances are float64 over the float32 inputs."""
    d = np.sqrt(((x.astype(np.float64) - q.astype(np.float64)) ** 2).sum(1))
    ids = np.arange(len(x)) if mask is None else np.flatnonzero(mask)
    order = sorted(ids.tolist(), key=lambda i: (d[i], str(i)))[:k]
    return np.array(order, np.int64), d


# op modes and how many distinct queries of each: exact ops answer from the
# FLAT field; the two HNSW modes answer from the graph artifact and feed
# recall
VECTOR_OPS = {"exact": 30, "exact_hybrid": 30, "hnsw_ef": 8,
              "hnsw_default": 8}


def vector_ops(seed: int, table: pa.Table, x: np.ndarray) -> list[dict]:
    """KNN 10 ops, ``VECTOR_OPS`` of each mode in seeded order. Each
    carries its argv tail, filter mask and brute-force truth: ``truth`` ids
    in rank order and ``dist``, every row's true distance."""
    r = _rng(seed, "vector_ops")
    price = table.column("price").to_numpy()
    cat = np.array(table.column("cat").to_pylist())
    ops = []
    hybrids = 0
    for mode in r.permutation([k for k, n in VECTOR_OPS.items()
                               for _ in range(n)]):
        q = (x[int(r.integers(len(x)))]
             + 0.3 * r.normal(size=x.shape[1])).astype(np.float32)
        hybrids += mode == "exact_hybrid"
        if mode == "exact_hybrid" and hybrids % 2:
            # exact hybrids alternate a 1-in-8 tag and a 40% price range
            c = CATS[int(r.integers(len(CATS)))]
            filt, mask = f"@cat:{{{c}}}", cat == c
        elif mode in ("exact_hybrid", "hnsw_default"):
            # 40% selective: far above the planner's prefilter ratio, so
            # the default hybrid path on the HNSW field runs inline
            lo = int(r.integers(0, 61))
            filt = f"@price:[{lo} {lo + 39}]"
            mask = (price >= lo) & (price <= lo + 39)
        else:
            filt, mask = "*", None
        knn = "[KNN 10 @vec $v" + (" EF_RUNTIME 40]" if mode == "hnsw_ef"
                                    else "]")
        truth, dist = brute_force(x, q, mask)
        ops.append({"kind": str(mode), "query": f"{filt}=>{knn}",
                    "index": "vecs_flat" if mode.startswith("exact")
                    else "vecs_hnsw",
                    "extra": ["PARAMS", "2", "v", blob(q),
                              "RETURN", "1", "__vec_score"],
                    "mask": mask, "truth": truth, "dist": dist})
    return ops

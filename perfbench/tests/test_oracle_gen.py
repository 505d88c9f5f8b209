"""Reply comparators and seeded generators."""

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from perfbench import gen, oracle


# -- FT.SEARCH comparator -----------------------------------------------------
TRUTH = {"total": 12, "keys": {str(k) for k in range(12)},
         "top": [90, 80, 80, 70, 60, 50, 40, 30, 20, 10]}


def _reply(total, keys, field=None, values=None):
    out = [total]
    for i, k in enumerate(keys):
        out += [str(k), [field, str(values[i])] if field else ["lang", "en"]]
    return out


def test_check_search_accepts_any_ten_matches():
    ok, detail, recall = oracle.check_search(_reply(12, range(2, 12)), TRUTH)
    assert ok and recall == 1.0, detail


@pytest.mark.parametrize("reply,why", [
    (_reply(11, range(10)), "total"),
    (_reply(12, range(9)), "rows"),
    (_reply(12, [0] * 10), "rows"),
    (_reply(12, list(range(9)) + [99]), "outside"),
    ("ERR", "malformed"),
])
def test_check_search_counts_wrong_replies(reply, why):
    ok, detail, recall = oracle.check_search(reply, TRUTH)
    assert not ok and why in detail
    assert 0.0 <= recall <= 1.0


def test_check_search_sorted_values():
    values = {k: v for k, v in zip(range(10), TRUTH["top"])}
    good = _reply(12, range(10), "n_chars", TRUTH["top"])
    assert oracle.check_search(good, TRUTH, "n_chars", values)[0]
    swapped = _reply(12, range(10), "n_chars", TRUTH["top"][::-1])
    assert not oracle.check_search(swapped, TRUTH, "n_chars", values)[0]
    wrong_row = _reply(12, [1, 0] + list(range(2, 10)), "n_chars",
                       TRUTH["top"])
    ok, detail, _ = oracle.check_search(wrong_row, TRUTH, "n_chars", values)
    assert not ok and "disagrees" in detail


# -- KNN comparator -----------------------------------------------------------
def _knn_op(mask=None):
    rng = np.random.default_rng(0)
    x = rng.normal(size=(50, 4)).astype(np.float32)
    q = rng.normal(size=4).astype(np.float32)
    truth, dist = gen.brute_force(x, q, mask)
    return {"truth": truth, "dist": dist, "mask": mask}


def _knn_reply(keys, dist, bump=0.0):
    out = [len(keys)]
    for k in keys:
        out += [str(k), ["__vec_score", repr(float(dist[k]) + bump)]]
    return out


def test_brute_force_matches_a_loop():
    rng = np.random.default_rng(1)
    x = rng.normal(size=(40, 3)).astype(np.float32)
    q = rng.normal(size=3).astype(np.float32)
    mask = np.arange(40) % 3 == 0
    ids, dist = gen.brute_force(x, q, mask, k=5)
    ref = sorted(((sum((float(a) - float(b)) ** 2 for a, b in zip(x[i], q))
                   ) ** 0.5, i) for i in range(40) if i % 3 == 0)[:5]
    assert ids.tolist() == [i for _, i in ref]
    assert np.allclose([dist[i] for i in ids], [d for d, _ in ref])


def test_check_knn_exact():
    op = _knn_op()
    assert oracle.check_knn(_knn_reply(op["truth"], op["dist"]), op, True)[0]
    ok, detail, _ = oracle.check_knn(
        _knn_reply(op["truth"], op["dist"], bump=0.01), op, True)
    assert not ok and "score" in detail
    off_by_one = list(op["truth"][:9]) + [int(np.argsort(op["dist"])[10])]
    ok, detail, recall = oracle.check_knn(
        _knn_reply(off_by_one, op["dist"]), op, True)
    assert not ok and recall == pytest.approx(0.9)


def test_check_knn_approximate_reports_recall_and_checks_filter():
    mask = np.arange(50) % 2 == 0
    op = _knn_op(mask)
    partial = list(op["truth"][:7]) + [k for k in np.argsort(op["dist"])
                                       if mask[k] and k not in op["truth"]][:3]
    ok, _, recall = oracle.check_knn(_knn_reply(partial, op["dist"]), op, False)
    assert ok and recall == pytest.approx(0.7)
    odd = int(np.flatnonzero(~mask)[0])
    ok, detail, _ = oracle.check_knn(
        _knn_reply(list(op["truth"][:9]) + [odd], op["dist"]), op, False)
    assert not ok and "filter" in detail


# -- FT.AGGREGATE comparator --------------------------------------------------
EXPECTED = [("en", 4, 10.5, 2.0, 1.0, 3), ("de", 2, 3.25, 1.5, 0.0, 2)]


def _agg_reply(rows):
    return [len(rows)] + [["lang", g, "n", repr(float(n)), "s", repr(s),
                           "a", repr(a), "sd", repr(sd), "cd", repr(float(cd))]
                          for g, n, s, a, sd, cd in rows]


def test_check_aggregate():
    assert oracle.check_aggregate(_agg_reply(EXPECTED), EXPECTED, ["lang"], "n")[0]
    ok, detail, _ = oracle.check_aggregate(_agg_reply(EXPECTED[::-1]),
                                           EXPECTED, ["lang"], "n")
    assert not ok and "sorted" in detail
    bad = [("en", 4, 10.6, 2.0, 1.0, 3), EXPECTED[1]]
    ok, detail, _ = oracle.check_aggregate(_agg_reply(bad), EXPECTED,
                                           ["lang"], "n")
    assert not ok and "group" in detail
    ok, _, recall = oracle.check_aggregate(_agg_reply(EXPECTED[:1]), EXPECTED,
                                           ["lang"], "n")
    assert not ok and recall == 0.5


# -- generators ---------------------------------------------------------------
def _strip(ops):
    return [{k: (v.tolist() if isinstance(v, np.ndarray) else v)
             for k, v in op.items()} for op in ops]


def test_generators_are_deterministic_per_seed():
    assert gen.documents().equals(gen.documents())
    docs = gen.documents()
    assert gen.reader_ops(7, docs) == gen.reader_ops(7, docs)
    assert gen.reader_ops(7, docs) != gen.reader_ops(8, docs)
    t1, x1 = gen.vectors()
    t2, x2 = gen.vectors()
    assert t1.equals(t2) and np.array_equal(x1, x2)
    assert _strip(gen.vector_ops(7, t1, x1)) == _strip(gen.vector_ops(7, t2, x2))
    assert _strip(gen.vector_ops(7, t1, x1)) != _strip(gen.vector_ops(8, t1, x1))
    alive = list(range(gen.WRITER_KEY_BASE, gen.WRITER_KEY_BASE + 50))
    a = gen.mutation_batch(7, 3, alive, gen.WRITER_KEY_BASE + 50)
    assert a == gen.mutation_batch(7, 3, alive, gen.WRITER_KEY_BASE + 50)
    assert a != gen.mutation_batch(8, 3, alive, gen.WRITER_KEY_BASE + 50)


def test_reader_mix_and_vector_mix_shapes():
    ops = gen.reader_ops(3, gen.documents())
    kinds = [o["kind"] for o in ops]
    assert kinds.count("aggregate") == 16 and len(kinds) == 64 + 16
    assert {"tag", "numeric", "tag_numeric", "negation", "term", "prefix",
            "phrase", "sortby"} <= set(kinds)
    t, x = gen.vectors()
    vkinds = [o["kind"] for o in gen.vector_ops(3, t, x)]
    assert {k: vkinds.count(k) for k in gen.VECTOR_OPS} == gen.VECTOR_OPS


def test_mutation_batch_keys():
    alive = list(range(gen.WRITER_KEY_BASE, gen.WRITER_KEY_BASE + 30))
    m = gen.mutation_batch(1, 0, alive, gen.WRITER_KEY_BASE + 30)
    dels = set(m["del_keys"])
    sets = {r[1] for r in m["rows"] if r[0] == "SET"}
    assert not dels & sets and dels <= set(alive)
    assert m["n_set"] == len(sets) == 40 + 20
    assert all(m["plant"] in r[2].split() for r in m["rows"] if r[0] == "SET")
    assert gen.mutated_bytes([("SET", 1, "ab", None)]) == 8 + 2


def test_planted_tokens_are_unique_and_outside_the_reader_vocabulary():
    plants = [gen.planted_token(b) for b in range(gen.MAX_BATCHES)]
    assert len(set(plants)) == len(plants)
    assert not set(plants) & set(gen.VOCAB)
    assert not set(plants) & set(gen.WRITER_FILLER)
    with pytest.raises(ValueError):
        gen.planted_token(gen.MAX_BATCHES)


def test_writer_documents_never_match_a_reader_query():
    """Readers' answer sets must not move while the writer writes."""
    docs = gen.documents()
    ops = gen.reader_ops(5, docs)
    alive, key, rows = [], gen.WRITER_KEY_BASE, []
    for b in range(6):
        m = gen.mutation_batch(5, b, alive, key)
        key = m["next_key"]
        alive = [k for k in alive if k not in set(m["del_keys"])] + m["new_keys"]
        rows += [r for r in m["rows"] if r[0] == "SET"]
    writer = pa.table({
        "doc_id": [r[1] for r in rows], "text": [r[2] for r in rows],
        "lang": [r[3] for r in rows], "source": [r[4] for r in rows],
        "n_chars": [r[5] for r in rows]})
    con = duckdb.connect()
    con.register("docs", writer)
    for op in ops:
        where = op["where"] if "where" in op else op["sql"].split("WHERE ")[1].split(" GROUP")[0]
        n = con.execute(f"SELECT count(*) FROM docs WHERE {where}").fetchone()[0]
        assert n == 0, op["query"]

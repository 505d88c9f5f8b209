"""diff_tables / resample vs DuckDB, plus the merge-verification loop:
an upsert/delete batch's diff must be exactly the batch."""
from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from valkey_search_spark.operators.diff import (diff_summary, diff_tables,
                                                resample)


def test_diff_hand_case(spark):
    before = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "id long, s string, v double")
    after = spark.createDataFrame(
        [(1, "a", 1.0),          # unchanged
         (2, "b", 2.0),          # null -> value: changed
         (3, "cc", 3.0),         # s changed
         (5, "e", 5.0)],         # added; 4 removed
        "id long, s string, v double")
    got = {r["id"]: (r["verdict"], sorted(r["changed_columns"]))
           for r in diff_tables(before, after, key="id").collect()}
    assert got == {1: ("unchanged", []), 2: ("changed", ["v"]),
                   3: ("changed", ["s"]), 4: ("removed", []),
                   5: ("added", [])}
    summary = {r["verdict"]: r["n"]
               for r in diff_summary(before, after, key="id").collect()}
    assert summary == {"added": 1, "removed": 1, "changed": 2,
                       "unchanged": 1}


def test_diff_verifies_merge(spark):
    before = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("v"), F.col("id")).alias("text"))
    updates = spark.createDataFrame(
        [(3, "u3"), (500, "new")], "doc_id long, text string")
    deletes = spark.createDataFrame([(7,)], "doc_id long")
    # upsert + delete batch applied with plain DataFrame ops
    after = before.join(updates.select("doc_id").unionByName(deletes),
                        "doc_id", "left_anti").unionByName(updates)
    got = {r["doc_id"]: r["verdict"]
           for r in diff_tables(before, after, key="doc_id").collect()
           if r["verdict"] != "unchanged"}
    assert got == {3: "changed", 500: "added", 7: "removed"}


def test_diff_matches_duckdb_on_events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    before = ev.where("event_id % 3 != 0") \
        .select("event_id", "user_id", "value")
    after = ev.where("event_id % 5 != 0") \
        .select("event_id", "user_id",
                F.when(F.col("event_id") % 7 == 0,
                       F.col("value") + 1).otherwise(F.col("value"))
                .alias("value"))
    got = {r["verdict"]: r["n"] for r in
           diff_summary(before, after, key="event_id").collect()}
    want = dict(duckdb.sql(f"""
        WITH b AS (SELECT event_id, user_id, value
                   FROM '{sf_dir}/events.parquet' WHERE event_id % 3 != 0),
        a AS (SELECT event_id, user_id,
                     CASE WHEN event_id % 7 = 0 THEN value + 1
                          ELSE value END AS value
              FROM '{sf_dir}/events.parquet' WHERE event_id % 5 != 0)
        SELECT CASE WHEN b.event_id IS NULL THEN 'added'
                    WHEN a.event_id IS NULL THEN 'removed'
                    WHEN a.value IS DISTINCT FROM b.value
                         OR a.user_id IS DISTINCT FROM b.user_id
                    THEN 'changed' ELSE 'unchanged' END v, count(*)
        FROM b FULL OUTER JOIN a USING (event_id) GROUP BY v
    """).fetchall())
    assert got == want


def test_resample_matches_duckdb(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(3000)
    out = resample(ev, every=3600, agg={"value": "sum", "event_id":
                                        "count"}, fill="none")
    got = {(r["user_id"], r["bucket"]): (r["sum_value"], r["count_event_id"])
           for r in out.collect() if r["sum_value"] is not None}

    want = duckdb.sql(f"""
        WITH base AS (SELECT * FROM '{sf_dir}/events.parquet'
                      ORDER BY event_id LIMIT 3000)
        SELECT user_id, floor(epoch(ts) / 3600)::long b,
               sum(value), count(event_id)
        FROM base GROUP BY user_id, b
    """).fetchall()
    assert len(want) == len(got)
    for uid, b, sv, cnt in want:
        g = got[(uid, b)]
        assert g[0] == pytest.approx(sv) and g[1] == cnt


def test_resample_gapfill(spark):
    rows = [(1, 0.0, 10.0), (1, 7200.0, 30.0),     # gap at bucket 1
            (2, 3600.0, 5.0)]
    ev = spark.createDataFrame(rows, "user_id int, ts double, v double")
    ff = {(r["user_id"], r["bucket"]): r["sum_v"]
          for r in resample(ev, every=3600, agg={"v": "sum"},
                            fill="ffill").collect()}
    assert ff == {(1, 0): 10.0, (1, 1): 10.0, (1, 2): 30.0, (2, 1): 5.0}
    zf = {(r["user_id"], r["bucket"]): r["sum_v"]
          for r in resample(ev, every=3600, agg={"v": "sum"},
                            fill="zero").collect()}
    assert zf[(1, 1)] == 0.0
    none = {(r["user_id"], r["bucket"]): r["sum_v"]
            for r in resample(ev, every=3600, agg={"v": "sum"}).collect()}
    assert none[(1, 1)] is None
    # bucket_ts materializes the grid timestamp
    [r] = [r for r in resample(ev, every=3600, agg={"v": "sum"}).collect()
           if r["user_id"] == 1 and r["bucket"] == 2]
    assert r["bucket_ts"].hour == 2


def test_validation(spark):
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with pytest.raises(ValueError, match="not shared"):
        diff_tables(df, df.withColumnsRenamed({"v": "w"}), key="id",
                    columns=["v"])
    with pytest.raises(ValueError):
        resample(df.withColumn("ts", F.lit(1.0)), every=0, agg={"v": "sum"})
    with pytest.raises(ValueError):
        resample(df.withColumn("ts", F.lit(1.0)), every=10, agg={})
    with pytest.raises(ValueError):
        resample(df.withColumn("ts", F.lit(1.0)), every=10,
                 agg={"v": "median"})
    with pytest.raises(ValueError):
        resample(df.withColumn("ts", F.lit(1.0)), every=10,
                 agg={"v": "sum"}, fill="bfill")


def test_diff_null_keys_pair_up(spark):
    before = spark.createDataFrame([(None, 1.0), (1, 2.0)],
                                   "id string, v double")
    after = spark.createDataFrame([(None, 1.0), (1, 2.5)],
                                  "id string, v double")
    got = {r["id"]: r["verdict"]
           for r in diff_tables(before, after, key="id").collect()}
    assert got == {None: "unchanged", "1": "changed"}


def test_resample_single_scan(spark, sf_dir):
    # the grid must come from the SAME aggregation subtree — a second
    # parquet scan would mean the join-against-derived-grid shape
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = resample(ev, 3600, {"value": "sum"}, fill="ffill")
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"Scan parquet", plan)) == 1, plan[:1500]

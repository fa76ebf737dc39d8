"""Bucketed co-located joins (plans/bucketing.py): the bucketed join
plans with ZERO exchanges while the identical un-bucketed join
shuffles both sides — and the results match row-for-row."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.plans.bucketing import read_bucketed, write_bucketed


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_is_shuffle_free(spark, no_broadcast, tmp_path):
    a = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("va")
    )
    b = spark.range(0, 2000, 2).select(
        F.col("id").alias("k"), (F.col("id") + 7).alias("vb")
    )
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    # external tables under tmp_path: nothing lands in the cwd's
    # spark-warehouse/, so a killed run cannot fail the next one
    write_bucketed(a, "bkt_a", ["k"], 8, path=str(tmp_path / "bkt_a"))
    write_bucketed(b, "bkt_b", ["k"], 8, path=str(tmp_path / "bkt_b"))
    try:
        ba, bb = read_bucketed(spark, "bkt_a"), read_bucketed(spark, "bkt_b")
        j = ba.join(bb, "k").select("k", "va", "vb")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan

        # identical un-bucketed join: both sides shuffle
        pj = a.join(b, "k").select("k", "va", "vb")
        pplan = pj._jdf.queryExecution().executedPlan().toString()
        assert pplan.count("Exchange") >= 2

        got = sorted(tuple(r) for r in j.collect())
        want = sorted(tuple(r) for r in pj.collect())
        assert got == want and len(got) == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")

"""Bucketed-table co-located joins (io/bucketing.py): the no-shuffle pins.

The whole point of bucketing is what the plan does NOT contain — these
tests assert the absence of exchanges (and sorts, for sorted buckets)
under the bucketed layout, and their presence without it, on the same data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.io import bucketing as B
from lab_flink_repository_analytics_spark.session import load_tables


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    B.write_bucketed(
        t["orders"].select("o_orderkey", "o_orderdate", "o_totalprice"),
        "b_orders",
        "o_orderkey",
        4,
    )
    B.write_bucketed(
        t["lineitem"]
        .select("l_orderkey", "l_extendedprice", "l_quantity")
        .withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        4,
    )
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cobucketed_join_has_no_exchange_or_sort(spark, bucketed_tables):
    lt, rt = bucketed_tables
    joined = B.cobucketed_join(spark, lt, rt, "o_orderkey")
    plan = _executed(joined)
    assert "Exchange hashpartitioning" not in plan, plan
    # both sides were written sortBy(key): the SMJ needs no sort either
    assert "Sort " not in plan or "SortMergeJoin" not in plan, plan


def test_unbucketed_join_shuffles_both_sides(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    # disable broadcast so the comparison is shuffle-join vs bucket-join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _executed(t["orders"].join(li, "o_orderkey"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    assert plan.count("Exchange hashpartitioning") >= 2, plan


def test_bucketed_groupby_key_skips_exchange(spark, bucketed_tables):
    _, rt = bucketed_tables
    agg = (
        spark.table(rt)
        .groupBy("o_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = _executed(agg)
    assert "Exchange hashpartitioning" not in plan, plan


def test_cobucketed_join_values_match_plain_join(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    t = load_tables(spark, sf_dir)
    bucketed = B.cobucketed_join(spark, lt, rt, "o_orderkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(18,6))")).alias("s"),
    )
    plain = (
        t["orders"]
        .join(
            t["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(l_extendedprice AS DECIMAL(18,6))")).alias("s"),
        )
    )
    assert bucketed.collect() == plain.collect()

"""Temporal joins: as-of and interval count (datapipe/joins.py).

The reference has no temporal joins — these are the training-pipeline
extensions; semantics are pinned against hand-computed fixtures and (for
as-of) Pandas ``merge_asof`` conventions / DuckDB ``ASOF JOIN``.
"""

from __future__ import annotations

from datetime import datetime as dt

from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.datapipe.joins import (
    asof_join,
    interval_count,
)

def rows(df, *cols):
    data = [tuple(r) for r in (df.select(*cols) if cols else df).collect()]
    return sorted(data, key=repr)


def _trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 10, 0, 0), 100.0),
            (1, dt(2024, 1, 1, 10, 5, 0), 101.0),
            (2, dt(2024, 1, 1, 10, 1, 0), 50.0),
            (3, dt(2024, 1, 1, 9, 0, 0), 7.0),  # before any quote
        ],
        "k long, ts timestamp, trade double",
    )
    quotes = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 9, 59, 0), 99.5),
            (1, dt(2024, 1, 1, 10, 5, 0), 100.9),  # tie → matches (>=)
            (2, dt(2024, 1, 1, 10, 0, 0), 49.9),
            (3, dt(2024, 1, 1, 12, 0, 0), 7.7),  # only later than trade
        ],
        "k long, ts timestamp, quote double",
    )
    return trades, quotes


def test_asof_backward_with_ties_and_misses(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(trades, quotes, on="k", payload=["quote"])
    got = rows(out, "k", "ts", "trade", "r_ts", "r_quote")
    assert got == sorted(
        [
            (1, dt(2024, 1, 1, 10, 0, 0), 100.0, dt(2024, 1, 1, 9, 59, 0), 99.5),
            (1, dt(2024, 1, 1, 10, 5, 0), 101.0, dt(2024, 1, 1, 10, 5, 0), 100.9),
            (2, dt(2024, 1, 1, 10, 1, 0), 50.0, dt(2024, 1, 1, 10, 0, 0), 49.9),
            (3, dt(2024, 1, 1, 9, 0, 0), 7.0, None, None),
        ],
        key=repr,
    )


def test_asof_matches_duckdb_asof_join(spark):
    import duckdb

    trades, quotes = _trades_quotes(spark)
    out = asof_join(trades, quotes, on="k", payload=["quote"])
    con = duckdb.connect()
    con.register("t", trades.toPandas())
    con.register("q", quotes.toPandas())
    want = con.sql(
        """
        SELECT t.k, t.ts, t.trade, q.ts AS r_ts, q.quote AS r_quote
        FROM t ASOF LEFT JOIN q ON t.k = q.k AND t.ts >= q.ts
        """
    ).fetchall()
    assert rows(out) == sorted([tuple(r) for r in want], key=repr)


def test_asof_tolerance_nulls_stale_matches(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(
        trades, quotes, on="k", payload=["quote"], tolerance_seconds=30.0
    )
    got = {(r["k"], r["ts"]): r["r_quote"] for r in out.collect()}
    # k=1 @10:00 matched 9:59 (60s ago) → nulled by 30s tolerance
    assert got[(1, dt(2024, 1, 1, 10, 0, 0))] is None
    assert got[(1, dt(2024, 1, 1, 10, 5, 0))] == 100.9  # 0s old → kept
    assert got[(3, dt(2024, 1, 1, 9, 0, 0))] is None


def test_asof_single_shuffle_plan(spark):
    trades, quotes = _trades_quotes(spark)
    plan = asof_join(trades, quotes, on="k")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_interval_join_pairs_exact_no_dups(spark):
    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 0, 0), "a"), (1, dt(2024, 1, 1, 11, 0, 0), "b")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 9, 50, 0), "r0"),   # exactly 10 min before a
            (1, dt(2024, 1, 1, 9, 51, 0), "r1"),   # 9 min before a
            (1, dt(2024, 1, 1, 10, 0, 0), "r2"),   # exactly at a
            (1, dt(2024, 1, 1, 9, 49, 59), "r3"),  # 10m01s before a → out
            (1, dt(2024, 1, 1, 10, 0, 1), "r5"),   # 1 s after a → out
            (1, dt(2024, 1, 1, 10, 55, 0), "r4"),  # 5 min before b
        ],
        "k long, ts timestamp, rtag string",
    )
    # the left rows span several buckets, so a pair counted once per
    # exploded bucket copy would show here
    out = interval_count(
        left, right, on="k",
        lower_seconds=-600.0, upper_seconds=0.0, bucket_seconds=120.0,
    )
    assert rows(out, "tag", "matches") == [("a", 3), ("b", 1)]


def test_interval_count_left_outer_zero_for_no_match(spark):
    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 0, 0)), (2, dt(2024, 1, 1, 10, 0, 0))],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 9, 58, 0)), (1, dt(2024, 1, 1, 9, 59, 0))],
        "k long, ts timestamp",
    )
    out = interval_count(
        left, right, on="k", lower_seconds=-600.0, upper_seconds=0.0
    )
    got = {r["k"]: r["matches"] for r in out.collect()}
    assert got == {1: 2, 2: 0}


def test_interval_join_no_nested_loop(spark):
    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 0, 0))], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 9, 58, 0))], "k long, ts timestamp"
    )
    out = interval_count(
        left, right, on="k", lower_seconds=-600.0, upper_seconds=0.0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_forward_direction(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(
        trades, quotes, on="k", payload=["quote"], direction="forward"
    )
    got = {(r["k"], r["ts"]): (r["r_ts"], r["r_quote"]) for r in out.collect()}
    # k=3 trade @9:00 has no backward quote but a forward one @12:00
    assert got[(3, dt(2024, 1, 1, 9, 0, 0))] == (dt(2024, 1, 1, 12, 0, 0), 7.7)
    # k=1 @10:00 → earliest quote at/after is the 10:05 one
    assert got[(1, dt(2024, 1, 1, 10, 0, 0))] == (dt(2024, 1, 1, 10, 5, 0), 100.9)
    # tie at 10:05 matches forward too
    assert got[(1, dt(2024, 1, 1, 10, 5, 0))] == (dt(2024, 1, 1, 10, 5, 0), 100.9)


def test_asof_nearest_prefers_smaller_gap_and_backward_ties(spark):
    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 0, 0), "x")], "k long, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 9, 58, 0), "b"),   # 2 min before
            (1, dt(2024, 1, 1, 10, 1, 0), "f"),   # 1 min after → nearest
        ],
        "k long, ts timestamp, v string",
    )
    out = asof_join(left, right, on="k", payload=["v"], direction="nearest")
    assert out.collect()[0]["r_v"] == "f"

    # equidistant: backward wins
    right2 = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 9, 59, 0), "b"),
            (1, dt(2024, 1, 1, 10, 1, 0), "f"),
        ],
        "k long, ts timestamp, v string",
    )
    out2 = asof_join(left, right2, on="k", payload=["v"], direction="nearest")
    assert out2.collect()[0]["r_v"] == "b"


def test_asof_forward_tolerance(spark):
    trades, quotes = _trades_quotes(spark)
    out = asof_join(
        trades, quotes, on="k", payload=["quote"],
        direction="forward", tolerance_seconds=60.0,
    )
    got = {(r["k"], r["ts"]): r["r_quote"] for r in out.collect()}
    assert got[(3, dt(2024, 1, 1, 9, 0, 0))] is None  # 3h away > 60s
    assert got[(1, dt(2024, 1, 1, 10, 5, 0))] == 100.9  # 0s


def test_scd2_intervals_and_temporal_join(spark):
    from datetime import datetime

    from lab_flink_repository_analytics_spark.datapipe.joins import (
        scd2_intervals,
        temporal_join,
    )

    d = lambda day: datetime(2024, 1, day)  # noqa: E731
    changes = spark.createDataFrame(
        [(1, d(1), "bronze"), (1, d(10), "silver"), (2, d(5), "gold")],
        "user_id int, ts timestamp, tier string",
    )
    dim = scd2_intervals(changes, ["user_id"], "ts")
    rows = {(r["user_id"], r["tier"]): (r["valid_from"], r["valid_to"]) for r in dim.collect()}
    assert rows[(1, "bronze")] == (d(1), d(10))   # closed by the next version
    assert rows[(1, "silver")] == (d(10), None)   # current
    assert rows[(2, "gold")] == (d(5), None)
    facts = spark.createDataFrame(
        [(1, d(2)), (1, d(10)), (1, d(20)), (2, d(4)), (3, d(7))],
        "user_id int, p_ts timestamp",
    )
    got = {
        (r["user_id"], r["p_ts"].day): r["tier"]
        for r in temporal_join(facts, dim, "user_id", fact_time="p_ts").collect()
    }
    # day 2 → bronze; day 10 (boundary) → silver (valid_from inclusive);
    # day 20 → silver; user 2's day-4 fact precedes its first version and
    # user 3 has no versions — both drop (inner semantics)
    assert got == {(1, 2): "bronze", (1, 10): "silver", (1, 20): "silver"}

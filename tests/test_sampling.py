"""Dataset splitting/sampling (datapipe/sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.datapipe import sampling


def test_split_is_deterministic_and_resharding_stable(spark):
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {
        r["doc_id"]: r["split"]
        for r in sampling.deterministic_split(df, "doc_id").collect()
    }
    # same ids, different partitioning → identical assignment
    b = {
        r["doc_id"]: r["split"]
        for r in sampling.deterministic_split(df.repartition(13), "doc_id").collect()
    }
    assert a == b
    # a subset sees the same labels as the full set (no reassignment)
    c = {
        r["doc_id"]: r["split"]
        for r in sampling.deterministic_split(
            df.filter(F.col("doc_id") < 500), "doc_id"
        ).collect()
    }
    assert all(a[k] == v for k, v in c.items())


def test_split_fractions_roughly_hold(spark):
    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    counts = (
        sampling.deterministic_split(df, "doc_id")
        .groupBy("split")
        .count()
        .collect()
    )
    got = {r["split"]: r["count"] / 20_000 for r in counts}
    assert abs(got["train"] - 0.8) < 0.02
    assert abs(got["valid"] - 0.1) < 0.01
    assert abs(got["test"] - 0.1) < 0.01


def test_split_fractions_must_sum_to_one(spark):
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        sampling.deterministic_split(df, "doc_id", [("a", 0.5), ("b", 0.4)])


def test_weighted_sample_bounds_and_determinism(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.lit(1.0))
        .when(F.col("id") % 3 == 1, F.lit(0.0))
        .otherwise(F.lit(0.5))
        .alias("w"),
    )
    kept = sampling.weighted_sample(df, "doc_id", "w")
    got = {r["doc_id"] for r in kept.collect()}
    # weight 1.0 always kept, weight 0.0 never
    assert all(i in got for i in range(0, 2000, 3))
    assert all(i not in got for i in range(1, 2000, 3))
    half = [i for i in range(2, 2000, 3)]
    frac = sum(1 for i in half if i in got) / len(half)
    assert 0.4 < frac < 0.6  # hash buckets ≈ Bernoulli(0.5)
    # determinism: re-evaluation returns the identical membership
    assert {r["doc_id"] for r in kept.collect()} == got


def test_mixture_sample_targets_and_bottleneck(spark):
    from pyspark.sql import functions as F

    # 6000 a / 3000 b / 1000 c, target blend 50/25/25 → c is the
    # bottleneck (1000/0.25 = 4000 kept total): c whole, a→2000, b→1000
    df = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 6000, "a")
        .when(F.col("id") < 9000, "b")
        .otherwise("c")
        .alias("g"),
    )
    kept = sampling.mixture_sample(df, "doc_id", "g", {"a": 0.5, "b": 0.25, "c": 0.25})
    counts = {r["g"]: r["n"] for r in kept.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["c"] == 1000  # bottleneck kept whole
    assert abs(counts["a"] - 2000) < 200  # hash-thinned to target
    assert abs(counts["b"] - 1000) < 150
    # groups without a share are dropped entirely
    kept2 = sampling.mixture_sample(df, "doc_id", "g", {"a": 1.0})
    assert {r["g"] for r in kept2.select("g").distinct().collect()} == {"a"}
    # determinism: same membership on re-evaluation
    ids = {r["doc_id"] for r in kept.collect()}
    assert {r["doc_id"] for r in kept.collect()} == ids

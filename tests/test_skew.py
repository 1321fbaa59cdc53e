"""Salted two-phase aggregation (datapipe/skew.py): results must be
bit-exact vs the unsalted aggregation, and the plan must fan the hot key
over the salt in the expensive phase."""

from __future__ import annotations

from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.datapipe import skew


def _skewed(spark):
    # one hot key (90% of rows) + a long tail
    hot = spark.range(0, 900).select(
        F.lit("hot").alias("k"), (F.col("id") % 97).cast("double").alias("v"),
        (F.col("id") % 13).alias("u"),
    )
    tail = spark.range(0, 100).select(
        F.concat(F.lit("t"), F.col("id") % 10).alias("k"),
        F.col("id").cast("double").alias("v"),
        F.col("id").alias("u"),
    )
    return hot.unionByName(tail)


def test_salted_count_sum_matches_unsalted(spark):
    df = _skewed(spark)
    got = {
        r["k"]: (r["n"], r["total"])
        for r in skew.salted_count_sum(df, ["k"], "v", salt_buckets=8).collect()
    }
    want = {
        r["k"]: (r["n"], r["total"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("DECIMAL(18,6)")).cast("double").alias("total"),
        )
        .collect()
    }
    assert got == want


def test_salted_plan_fans_out_hot_key(spark):
    df = _skewed(spark)
    plan = (
        skew.salted_count_sum(df, ["k"], "v", salt_buckets=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # phase 1 exchanges on (k, salt) — the hot key spreads over 8 buckets
    assert "__salt" in plan.split("Exchange hashpartitioning(k")[0] or (
        "hashpartitioning(k#" in plan and "__salt" in plan
    )
    assert plan.count("Exchange hashpartitioning") == 2  # fan-out + combine


def test_salt_is_content_stable(spark):
    df = _skewed(spark)
    a = skew.with_salt(df, 8).groupBy("__salt").count().collect()
    b = skew.with_salt(df, 8).groupBy("__salt").count().collect()
    assert sorted((r["__salt"], r["count"]) for r in a) == sorted(
        (r["__salt"], r["count"]) for r in b
    )


def test_salted_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    # hot key 7 carries most of the fact rows
    facts = spark.createDataFrame(
        [(7, i) for i in range(500)] + [(k, k) for k in range(20)],
        "k: int, v: int",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 20, 2)] + [(7, "hot")], "dk: int, name: string"
    )
    plain = facts.join(dim, facts["k"] == dim["dk"]).select("k", "v", "name")
    salted = skew.salted_join(facts, dim, "k", "dk").select("k", "v", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # left join keeps unmatched fact rows exactly once
    plain_l = facts.join(dim, facts["k"] == dim["dk"], "left").select("k", "v", "name")
    salted_l = skew.salted_join(facts, dim, "k", "dk", how="left").select("k", "v", "name")
    assert sorted(map(tuple, salted_l.collect()), key=repr) == sorted(
        map(tuple, plain_l.collect()), key=repr
    )
    # the replicated-dim side really fans the hot key over salt buckets
    ex = skew.with_salt(facts, 8)
    assert ex.filter("k = 7").select("__salt").distinct().count() > 1


def test_grouped_running_sum_matches_window_under_skew(spark):
    """with_grouped_running_sum (datapipe/ranking.py) must be bit-exact vs
    the single-partition-window form while a dominant group spans several
    range partitions."""
    from pyspark.sql import Window

    from lab_flink_repository_analytics_spark.datapipe.ranking import (
        with_grouped_running_sum,
    )

    # one source carries 90% of rows — the case the range split exists for
    rows = [("big", i, (i * 7) % 101 + 1) for i in range(1800)] + [
        (f"s{i % 5}", i, i % 17 + 1) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    got = {
        (r["source"], r["doc_id"]): r["cum"]
        for r in with_grouped_running_sum(
            df, ["source"], ["doc_id"], "n_tokens", out_col="cum", num_partitions=8
        ).collect()
    }
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["source"], r["doc_id"]): r["cum"]
        for r in df.withColumn("cum", F.sum("n_tokens").over(w)).collect()
    }
    assert got == want
    # the dominant group genuinely spans >1 range partition (skew is split)
    spread = (
        df.repartitionByRange(8, "source", "doc_id")
        .withColumn("__pid", F.spark_partition_id())
        .filter("source = 'big'")
        .select("__pid")
        .distinct()
        .count()
    )
    assert spread > 1


def test_quota_fill_skewed_source_matches_bruteforce(spark):
    """quota_fill's two-pass prefix sum selects exactly the documents the
    sequential definition selects when one source dominates."""
    import hashlib

    from lab_flink_repository_analytics_spark.queries.analytics_extra import (
        quota_fill,
    )

    docs = spark.createDataFrame(
        [("big", i, "w " * (i % 23 + 1)) for i in range(900)]
        + [("rare", 1000 + i, "w " * 5) for i in range(30)],
        "source string, doc_id long, text string",
    )
    quotas = spark.createDataFrame(
        [("big", 500), ("rare", 40)], "source string, token_quota long"
    )
    got = {
        r["source"]: (r["n_docs_selected"], r["n_tokens_selected"])
        for r in quota_fill(docs, quotas).collect()
    }

    def brute(rows, quota):
        def h(doc_id):
            return int(hashlib.md5(f"quota{doc_id}".encode()).hexdigest()[:8], 16)

        n_docs = n_tokens = cum = 0
        for _, doc_id, text in sorted(rows, key=lambda r: (h(r[1]), r[1])):
            if cum >= quota:
                break
            nt = len(text.split(" "))
            cum += nt
            n_docs += 1
            n_tokens += nt
        return n_docs, n_tokens

    big = [r for r in docs.collect() if r["source"] == "big"]
    rare = [r for r in docs.collect() if r["source"] == "rare"]
    assert got["big"] == brute(big, 500)
    assert got["rare"] == brute(rare, 40)

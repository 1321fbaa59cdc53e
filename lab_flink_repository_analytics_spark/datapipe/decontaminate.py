"""Benchmark decontamination: n-gram overlap between a training corpus and
an evaluation/benchmark set.

The standard LLM-pipeline hygiene step (GPT-3 appendix C / PaLM §7.1 style):
any training document sharing enough word n-grams with an eval document is
flagged as contaminated and dropped or down-weighted.

Scale design (100 TB training side, small eval side — the realistic shape):
the eval set's distinct n-grams are tiny (benchmarks are MBs, not TBs), so
they BROADCAST; the training side streams through explode → hash-join with
no shuffle of the full corpus at all.  Output is one row per training doc —
the per-doc grouped count reuses the scan-side partitioning (one exchange
keyed by doc id).  If the eval side ever outgrew a broadcast, the same plan
degrades gracefully to a shuffled left join on the gram key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.datapipe.dedup import shingles


def ngram_overlap(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Per training document: distinct word ``n``-grams, how many of them
    appear in ANY eval document, and the contamination ratio.

    Columns: ``doc_id, n_grams, n_contaminated, contamination_ratio``.
    ``shingles`` (dedup.py) keeps whole-text as the single gram for docs
    shorter than ``n`` tokens, so short documents are still comparable.
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    train_grams = rebalance(train).select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, n)).alias("g")
    )
    eval_grams = (
        eval_set.select(F.explode(shingles(text_col, n)).alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = train_grams.join(F.broadcast(eval_grams), "g", "left")
    return joined.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("hit").alias("n_contaminated"),
        (F.count("hit").cast("double") / F.count(F.lit(1))).alias(
            "contamination_ratio"
        ),
    ).select(
        F.col("id").alias(id_col),
        "n_grams",
        "n_contaminated",
        "contamination_ratio",
    )

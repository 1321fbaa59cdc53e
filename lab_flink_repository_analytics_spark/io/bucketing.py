"""Bucketed tables: co-located joins and aggregations without a shuffle.

At 100 TB the dominant cost of a fact⋈fact join (orders⋈lineitem,
clicks⋈purchases) is shuffling both sides on the join key.  Writing both
tables bucketed by that key — same column, same bucket count — lets Spark
prove the sides are co-partitioned: the join (and any groupBy on the key)
reads bucket i of each table into the same task and skips the exchange
entirely.  ``sortBy`` within buckets additionally removes the sort below a
sort-merge join.

This is the batch analog of the reference's keyed-stream co-location
(``keyBy`` before a connect/join keeps both streams on the same subtask;
FlinkCommitProgram.java:88-96) — Flink gets it from the runtime, Spark
gets it from the table layout, declared once at write time.

Spark's bucket layout is hive-compatible bucketed parquet via
``saveAsTable``; plain ``.parquet(path)`` writes cannot carry bucket
metadata (the metastore owns it), which is why these helpers speak table
names, not paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str] | str,
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally bucket-sorted) table.

    Bucket count is a layout contract: every table that wants shuffle-free
    joins against this one must use the SAME ``n_buckets``.  Pick it from
    target file sizes at full scale (bytes / ~256 MB), not from the test
    data."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)


def cobucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: list[str] | str,
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed tables on their bucket keys.

    With matching bucket specs this plans a sort-merge join with NO
    exchange on either side (and no sort when both were written sorted) —
    verify with ``.explain``; tests pin it."""
    on = [on] if isinstance(on, str) else list(on)
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)

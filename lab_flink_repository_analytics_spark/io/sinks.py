"""Sinks — idempotent upsert + fan-out writers (SURVEY.md §2.B).

The reference's sinks:

* Elasticsearch upsert keyed by hash(componentName, windowStart) — an
  idempotent write of window summaries (FlinkCommitProgram.java:96-141,
  doc-id :133-137).  Spark-side: key-merge into a parquet dataset (or
  Delta MERGE where available) — ``upsert_by_key``.
* Kafka JSON topics via ``executeInsert`` (FlinkCommitsToKafka.java:47-93
  etc.).  Spark-side: ``to_kafka_json`` builds the (key, value JSON) frame;
  actual Kafka delivery needs the kafka connector package at runtime.
* Multi-sink statement set (FlinkMailingListToKafka.java:169-174) —
  Spark-side: ``fan_out`` writes one cached source to N sinks.

Every dataset the engine replaces in place — the upsert (also the
streaming commit job's per-batch sink, ``streaming/jobs.py``) and the
changelog refresh (``apply_changelog``) — goes through ``rewrite``: crash
recovery, a lazy read of the live copy, the caller's merge, and one write
swapped in by checked renames (``_swap_in``).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports most failures (dest exists,
    src missing, cross-FS, permission on some stores) by returning
    ``false``, not raising.  Swallowing that here would let a failed swap
    report success and the next call's step-1 cleanup garbage-collect the
    committed ``._tmp`` — so any ``false`` is fatal."""
    if not fs.rename(src, dst):
        raise RuntimeError(f"rename failed (returned false): {src} -> {dst}")


def rewrite(spark: SparkSession, path: str, merge) -> None:
    """Replace the parquet dataset at ``path`` with
    ``merge(existing)``; the one in-place rewrite every sink here uses.

    ``existing`` is the live dataset as a lazy read, or ``None`` when
    nothing has been written yet.  The steps: salvage a crashed earlier
    swap (:func:`_recover_swap`), read what is live, build the merged
    frame, and swap it in with :func:`_swap_in`'s checked renames.  Every
    crash window leaves a complete copy that the next call's recovery
    puts back in place.
    """
    _recover_swap(spark, path)
    existing = spark.read.parquet(path) if _exists(spark, path) else None
    _swap_in(spark, merge(existing), path)


def _keep_updates(
    existing: DataFrame | None, updates: DataFrame, key_cols: list[str]
) -> DataFrame:
    """``existing`` ∪ ``updates`` with one row per key, the update row
    winning a collision; with no ``existing``, one row per key of
    ``updates`` alone."""
    merged = updates.withColumn("_is_update", F.lit(1))
    if existing is not None:
        merged = existing.withColumn("_is_update", F.lit(0)).unionByName(merged)
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col("_is_update").desc()
    )
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_is_update")
    )


def upsert_by_key(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
) -> None:
    """Idempotent key-merge into a parquet dataset.

    Without a transactional table format, merge = read-existing ∪ updates,
    keep the update on key collision, rewrite.  Mirrors the ES upsert
    doc-id semantics (hash of the key columns, FlinkCommitProgram.java:
    133-137): re-running the same window summaries converges.

    At scale this should be Delta/Iceberg ``MERGE INTO`` keyed the same
    way (or partition-overwrite when updates align to partitions); the
    rewrite here is the dependency-free fallback.

    Cost bound (measured at the sf1 replica, BENCH_SF10.md
    "upsert_by_key at replica scale"): each call rewrites
    the FULL existing dataset, so cost is O(existing ∪ update) — ~1-2s
    at 400k window-summary rows, linear beyond.  Intended for
    window-summary-sized datasets (the reference's ES index held one doc
    per (component, windowStart) — thousands of rows); past ~10M rows /
    ~1 GB prefer :func:`apply_changelog` (delta-driven) with
    partition-aligned overwrite, or a transactional MERGE.

    Crash safety is :func:`rewrite`'s: one data write and two renames,
    with every crash window recoverable.  Renames are atomic on
    HDFS/local file systems; on S3-style object stores (copy-based
    rename) use a transactional table format instead — same advice as
    the scale note above.
    """
    rewrite(spark, path, lambda existing: _keep_updates(existing, updates, key_cols))


def apply_changelog(
    spark: SparkSession,
    deltas: DataFrame,
    path: str,
    key_cols: list[str],
    kind_col: str = "kind",
) -> None:
    """Incremental materialized-view maintenance: apply a RowKind delta
    stream (``changelog.changelog_deltas`` output — +I/-D/-U/+U rows) to a
    keyed parquet dataset.

    +I/+U upsert their row; -D removes the key; -U (update-before) carries
    no new state and is skipped.  Re-applying the same delta batch
    converges (idempotent like :func:`upsert_by_key`), so this is the
    at-scale refresh path for window summaries: diff yesterday's
    materialization against today's (one full-outer join) and rewrite only
    through the delta set instead of recomputing consumers downstream.
    Delta/Iceberg ``MERGE WHEN MATCHED [AND kind='-D'] THEN DELETE`` is the
    transactional equivalent.  The swap is :func:`rewrite`'s.
    """
    kc = F.col(kind_col)
    ups = deltas.filter(kc.isin("+I", "+U")).drop(kind_col)
    dels = deltas.filter(kc == "-D").select(*key_cols).distinct()

    def merge(existing: DataFrame | None) -> DataFrame:
        if existing is None:
            return ups
        survivors = existing.join(dels, on=list(key_cols), how="left_anti")
        return _keep_updates(survivors, ups, key_cols)

    rewrite(spark, path, merge)


def _swap_in(spark: SparkSession, result: DataFrame, path: str) -> None:
    """Materialize ``result`` (which may lazily read from ``path``) and
    swap it into place via renames, never a second data write.

    Order of operations and the crash window each step leaves:

    1. drop stale ``._tmp``/``._old`` survivors of an earlier crash
       (after :func:`_recover_swap` has already salvaged any complete one)
    2. write the full result to ``path._tmp`` — crash here leaves ``path``
       untouched and an incomplete ``._tmp`` (no ``_SUCCESS``) that step 1
       of the next call removes
    3. rename ``path`` → ``path._old`` — crash here (or between 3 and 4)
       leaves ``._tmp`` complete + ``_SUCCESS``-marked; recovery renames
       it into place (the merge had fully committed, so finishing the
       swap, not rolling back, preserves idempotent re-delivery)
    4. rename ``path._tmp`` → ``path`` — crash after leaves only a stale
       ``._old`` to garbage-collect

    The two renames are metadata-only on HDFS and local file systems;
    total data written per rewrite is exactly one copy of the result.
    """
    base = path.rstrip("/")
    tmp_s, old_s = base + "._tmp", base + "._old"
    _rm(spark, tmp_s)
    _rm(spark, old_s)
    result.write.mode("overwrite").parquet(tmp_s)
    fs, hpath = _hadoop_fs(spark, path)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(tmp_s)
    old = jvm.org.apache.hadoop.fs.Path(old_s)
    if fs.exists(hpath):
        _rename_or_raise(fs, hpath, old)
    _rename_or_raise(fs, tmp, hpath)
    _rm(spark, old_s)


def _recover_swap(spark: SparkSession, path: str) -> None:
    """Salvage a crashed :func:`_swap_in`: if ``path`` is missing/empty
    but a COMPLETE ``path._tmp`` (``_SUCCESS`` present) or the displaced
    ``path._old`` exists, rename the best copy back into place.  A
    ``._tmp`` without ``_SUCCESS`` is an aborted write and is ignored
    (then deleted by the next swap's step 1).  No-op in the common case —
    one ``exists`` call when ``path`` is healthy."""
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath) and len(fs.listStatus(hpath)) > 0:
        return
    jvm = spark._jvm
    base = path.rstrip("/")
    tmp = jvm.org.apache.hadoop.fs.Path(base + "._tmp")
    old = jvm.org.apache.hadoop.fs.Path(base + "._old")
    success = jvm.org.apache.hadoop.fs.Path(base + "._tmp/_SUCCESS")
    src = None
    if fs.exists(tmp) and fs.exists(success):
        src = tmp  # merge committed: finish the interrupted swap
    elif fs.exists(old):
        src = old  # tmp incomplete/gone: roll back to the prior state
    if src is not None:
        if fs.exists(hpath):
            fs.delete(hpath, True)
        _rename_or_raise(fs, src, hpath)
    elif fs.exists(hpath):
        # Unhealthy (exists-but-empty) and nothing salvageable: a crash
        # left no complete copy.  Warn so operators can tell this apart
        # from "never written" when a later read fails.
        _LOG.warning(
            "upsert recovery: %s is empty and no complete ._tmp/._old "
            "survivor exists — no salvageable copy found",
            path,
        )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-supported scheme (file/hdfs/s3a/…).

    Going through the JVM FileSystem API — not os.path — so the upsert
    works against remote object stores and partitioned datasets, exactly
    where the at-scale sink runs.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    # a directory with any content counts (plain files, partition dirs, or
    # a _SUCCESS marker); an empty dir from a failed write does not
    return len(fs.listStatus(hpath)) > 0


def _rm(spark: SparkSession, path: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def to_kafka_json(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """(key, value) frame in Kafka JSON wire shape:
    ``value = to_json(struct(*))`` like the reference's JSON-format topics
    (README.md:78-100)."""
    value = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    key = (
        F.to_json(F.struct(*[F.col(c) for c in key_cols]))
        if key_cols
        else F.lit(None).cast("string")
    )
    return df.select(key.alias("key"), value.alias("value"))


def fan_out(df: DataFrame, writers: list) -> None:
    """One source, N sinks (≙ the reference's StatementSet multi-insert,
    FlinkMailingListToKafka.java:169-174).  Caches the source once."""
    df.persist()
    try:
        for write in writers:
            write(df)
    finally:
        df.unpersist()

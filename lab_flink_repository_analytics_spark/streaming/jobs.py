"""Structured Streaming variants of the windowed community queries.

The reference is streaming-first (event-time windows + watermarks over
Kafka-backed dynamic tables).  Here the same column expressions used by the
batch builders run over ``readStream`` sources with ``withWatermark``:

* watermark delays mirror the reference DDLs: commits 1 day
  (README.md:88), pulls 7 days (:120), mail 1 day (:145) — see
  ``schemas.WATERMARKS``
* state cleanup / late-data dropping is Spark's watermark semantics
  (global-min watermark, fires at micro-batch boundaries — SURVEY.md §4)
* checkpointing ≙ the reference's 10s externalized checkpoints
  (FlinkCommitProgram.java:63-66) via ``checkpointLocation``
* the idempotent ES upsert sink (:96-141) maps to ``foreachBatch`` +
  ``sinks.upsert_by_key`` keyed on (component, window_start)

Sources here are file streams (parquet drop-dirs, as written by the
ingesters); swapping to ``spark.readStream.format("kafka")`` +
``from_json(value, schema)`` changes only ``stream_source``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lab_flink_repository_analytics_spark import schemas
from lab_flink_repository_analytics_spark.functions.scalar import get_source_component
from lab_flink_repository_analytics_spark.io import sinks


def stream_source(
    spark: SparkSession,
    path: str,
    schema,
    ts_col: str,
    watermark: str,
) -> DataFrame:
    """File-drop streaming source with an event-time watermark."""
    return (
        spark.readStream.schema(schema)
        .parquet(path)
        .withWatermark(ts_col, watermark)
    )


def commit_activity_stream(commits: DataFrame, window: str = "1 hour") -> DataFrame:
    """Streaming commit-activity aggregation — the DataStream pipeline
    (FlinkCommitProgram.java:70-87: flatMap → keyBy → 1h window → sum) as a
    watermarked windowed aggregation."""
    f = F.explode("filesChanged").alias("f")
    w = F.window("commitDate", window)
    return (
        commits.select("commitDate", f)
        .select(
            "commitDate",
            get_source_component(F.col("f.filename")).alias("component"),
            F.col("f.linesChanged").alias("lines"),
        )
        .groupBy(w.alias("w"), F.col("component"))
        .agg(F.sum("lines").alias("linesChanged"))
        .select(
            F.col("w.start").alias("windowStart"),
            F.col("w.end").alias("windowEnd"),
            F.col("component").alias("componentName"),
            "linesChanged",
        )
    )


def users_per_window_stream(emails: DataFrame, window: str = "365 days") -> DataFrame:
    """Streaming variant of README.md:217-223 (approx_count_distinct —
    exact COUNT(DISTINCT) is unsupported in streaming append mode and HLL
    is the scale answer anyway)."""
    w = F.window("date", window)
    return (
        emails.groupBy(w.alias("w"))
        .agg(F.approx_count_distinct("fromEmail").alias("cnt"))
        .select(F.col("w.end").alias("window_end"), "cnt")
    )


def sliding_activity_stream(
    events: DataFrame, window: str = "1 day", slide: str = "6 hours"
) -> DataFrame:
    """Streaming HOP windows: overlapping 1-day/6-hour event-rate rollups.
    Each row expands to window/slide copies before the stateful agg; a
    window emits (append mode) once the watermark passes its end."""
    w = F.window("ts", window, slide)
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "events",
        )
    )


def session_threads_stream(emails: DataFrame, gap: str = "30 days") -> DataFrame:
    """Streaming session windows over normalized threads (README.md:
    227-236).  HAVING count<2 can only be final in append mode — emitted
    when the watermark closes the session."""
    from lab_flink_repository_analytics_spark.functions.scalar import (
        normalize_email_thread,
    )

    sess = F.session_window("date", gap)
    return (
        emails.groupBy(sess.alias("s"), normalize_email_thread(F.col("subject")).alias("thread"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") < 2)
        .select("thread", F.col("s.end").alias("session_end"), "cnt")
    )


def quiet_sessions_stream(events: DataFrame, gap: str = "12 hours") -> DataFrame:
    """Streaming twin of ``queries/suite.py::quiet_sessions`` (README.md:
    227-236 session + HAVING COUNT < 2): per-user session windows over the
    events stream; a session emits (append mode) once the watermark passes
    its end + gap, and the HAVING filter can only be final then."""
    sess = F.session_window("ts", gap)
    return (
        events.groupBy(sess.alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") < 2)
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "cnt",
        )
    )


def run_commit_activity_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    window: str = "1 hour",
    available_now: bool = False,
) -> StreamingQuery:
    """End-to-end streaming job: parquet drops → windowed agg → idempotent
    upsert keyed (componentName, windowStart) via foreachBatch
    (≙ FlinkCommitProgram's ES upsert, :96-141)."""
    commits = stream_source(
        spark, input_path, schemas.COMMIT, "commitDate", schemas.WATERMARKS["flink_commits"][1]
    )
    agg = commit_activity_stream(commits, window)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        sinks.upsert_by_key(
            batch_df.sparkSession,
            batch_df,
            output_path,
            ["componentName", "windowStart"],
        )

    writer = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_upsert)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def clicks_before_errors_stream(
    errors: DataFrame,
    clicks: DataFrame,
    window_seconds: float = 600.0,
    how: str = "inner",
) -> DataFrame:
    """Stream–stream interval join: each error event pairs with the same
    user's clicks from the preceding ``window_seconds`` (the streaming twin
    of ``datapipe.joins.interval_join``; Flink interval-join semantics).

    Both inputs must be watermarked — Spark bounds the join state with the
    watermark plus the explicit time-range predicate, so click state is
    dropped once no future error can reach back to it (state TTL =
    watermark delay + window; no unbounded buffering at scale).

    ``how="left_outer"`` is Flink's OUTER interval join: an error with no
    in-window click still emits (with NULL click columns) — but only once
    the watermark passes the point where a matching click could still
    arrive, so outer rows surface on a LATER micro-batch than their
    event (the watermark is advanced between batches, exactly as in
    Flink's watermark-driven cleanup timers).
    """
    e = errors.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_ts"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    return e.join(
        c,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("e_ts"))
        & (
            F.col("c_ts")
            >= F.col("e_ts") - F.expr(f"INTERVAL {int(window_seconds)} SECOND")
        ),
        how,
    ).select(
        F.col("e_user").alias("user_id"), "error_id", "e_ts", "click_id", "c_ts"
    )


def value_histogram_stream(
    events: DataFrame,
    store_path: str,
    checkpoint: str,
    lo: float = 0.0,
    hi: float = 600.0,
    bins: int = 128,
):
    """Incremental sketch maintenance: every micro-batch's per-event_type
    histogram of ``value`` merges into a persistent counter store —
    quantile estimates over the full history are always one read away,
    without ever re-scanning raw events (the streaming face of
    ``datapipe.sketches``' mergeability: per-batch grids sum, exactly like
    per-period rollups).

    The store stays ≤ |event types|×bins rows no matter how much data
    streams through.  Checkpoint + ``sinks.rewrite`` keeps the update
    idempotent per batch on restart and crash-safe mid-swap."""
    from lab_flink_repository_analytics_spark.datapipe import sketches as SK

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        h = SK.value_histogram(batch_df, "value", ["event_type"], lo, hi, bins)
        sinks.rewrite(
            batch_df.sparkSession,
            store_path,
            lambda existing: h if existing is None else SK.merge_histograms(existing, h),
        )

    return (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
        .trigger(availableNow=True)
        .start()
    )


def word_topk_stream(docs: DataFrame, store_path: str, checkpoint: str):
    """Incremental top-k maintenance: per micro-batch counts of the words
    in ``text`` merge into a persistent counter store; the CURRENT global
    top-k is one tiny read away at any moment (``read_topk``), with raw
    documents never re-scanned.

    Counter-store size is vocabulary-bounded, not stream-bounded — the
    same state contract as ``value_histogram_stream``.  For an unbounded
    vocabulary at 100 TB, cap the store by keeping only counts the
    count-min sketch (datapipe/sketches.py::cms_*) can't answer — exact
    heads + sketched tail is the standard split; the merge shape here is
    identical either way."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.select(F.explode(F.split("text", " ")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

        def merge(existing: DataFrame | None) -> DataFrame:
            if existing is None:
                return counts
            return (
                existing.unionByName(counts)
                .groupBy("word")
                .agg(F.sum("cnt").alias("cnt"))
            )

        sinks.rewrite(batch_df.sparkSession, store_path, merge)

    return (
        docs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
        .trigger(availableNow=True)
        .start()
    )


def read_topk(spark, store_path: str, k: int = 10) -> DataFrame:
    """Current top-k from the counter store (deterministic tie-break)."""
    return (
        spark.read.parquet(store_path)
        .orderBy(F.col("cnt").desc(), "word")
        .limit(k)
    )

"""Structured Streaming variants of the windowed community queries.

The reference is streaming-first (event-time windows + watermarks over
Kafka-backed dynamic tables).  Here the same column expressions used by the
batch builders run over ``readStream`` sources with ``withWatermark``.  A
builder that needs no streaming change (``queries/community.py::
quiet_sessions``) takes a stream as it is; this module holds only the
variants whose shape differs in streaming, and the one end-to-end job,
``run_commit_activity_job``:

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

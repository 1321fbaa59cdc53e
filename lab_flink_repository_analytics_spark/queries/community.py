"""The reference's four documented analytics queries (README.md:215-267),
as parameterized DataFrame builders over the domain tables.

Each takes the relevant domain DataFrame (schemas.py shapes) and returns a
result DataFrame.  All windows are event-time tumbling/session windows via
Spark's native ``window``/``session_window`` — Catalyst plans the partial +
final aggregation and the single shuffle per query; nothing is hand-built
(the reference's hand-built DataStream pipeline, FlinkCommitProgram.java:
70-87, collapses into query 3's plan).

``now`` is an explicit parameter wherever the README uses
``CURRENT_TIMESTAMP`` (SURVEY.md §7 hard-part 4: determinism for testing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.functions.scalar import (
    get_jira_ticket_action,
    get_jira_ticket_components,
    get_source_component,
    is_jira_ticket,
    normalize_email_thread,
)


def distinct_users_per_window(
    emails: DataFrame, window: str = "365 days"
) -> DataFrame:
    """Number of distinct mail authors per tumbling window.

    ref README.md:217-223 (TUMBLE 365 days over flink_ml_user, COUNT
    (DISTINCT fromEmail), TUMBLE_END projected).
    """
    w = F.window("date", window)
    return (
        emails.groupBy(w.alias("w"))
        .agg(F.countDistinct("fromEmail").alias("cnt"))
        .select(F.col("w.end").alias("window_end"), "cnt")
    )


def unanswered_threads(
    emails: DataFrame,
    now: Column | str,
    gap: str = "30 days",
    lookback: str = "INTERVAL 365 DAY",
    max_messages: int = 2,
) -> DataFrame:
    """Threads with fewer than ``max_messages`` messages per session window.

    ref README.md:227-236: session window (30-day gap) over the normalized
    subject, restricted to the last year, HAVING COUNT(*) < 2.  The
    ``CURRENT_TIMESTAMP`` predicate is parameterized via ``now``.
    """
    now_col = F.lit(now).cast("timestamp") if isinstance(now, str) else now
    thread = normalize_email_thread(F.col("subject"))
    sess = F.session_window("date", gap)
    return (
        emails.filter(F.col("date") > now_col - F.expr(lookback))
        .groupBy(sess.alias("s"), thread.alias("thread"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") < max_messages)
        .select("thread", F.col("s.end").alias("session_end"), "cnt")
    )


def quiet_sessions(events: DataFrame, gap: str = "12 hours") -> DataFrame:
    """Per-user session windows with a single event: the unanswered-threads
    shape (README.md:227-236: SESSION + HAVING COUNT < 2) over ``events``.

    The same builder serves batch and streaming input: over a watermarked
    stream a session emits (append mode) once the watermark passes its end,
    and the HAVING filter is final only then.
    """
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


def _early_return_prefix(arr: Column) -> Column:
    """The reference ComponentExtractor's quirk, faithfully: iteration over
    a commit's files ``return``s (not ``continue``s) on the first filename
    with no component (ComponentExtractor.java:41-45), so only the array
    prefix BEFORE the first unmatched file is ever emitted.  Pure
    expression: probe each file, cut at the first miss."""
    from lab_flink_repository_analytics_spark.functions.scalar import (
        get_source_component,
    )

    matched = F.transform(
        arr, lambda f: get_source_component(f["filename"]).isNotNull()
    )
    cut = F.array_position(matched, F.lit(False))  # 1-based; 0 = all match
    return F.when(cut > 0, F.slice(arr, 1, (cut - 1).cast("int"))).otherwise(arr)


def commit_activity_per_component(
    commits: DataFrame,
    window: str = "30 days",
    min_lines: int = 1000,
    early_return: bool = False,
) -> DataFrame:
    """Lines changed per component per tumbling window — the flagship.

    ref README.md:242-251 (CROSS JOIN UNNEST(filesChanged), GROUP BY
    TUMBLE 30 days × GetSourceComponent(filename), HAVING SUM > 1000);
    identical semantics to the hand-built DataStream pipeline
    (FlinkCommitProgram.java:70-87).  Default is per-file semantics
    (canonical per SURVEY.md §7 hard-part 5); ``early_return=True``
    replicates the DataStream pipeline's quirk bit-for-bit
    (ComponentExtractor.java:41-45 aborts the whole commit's remaining
    files at the first unmatched filename).

    Plan shape at scale: explode is pipelined (no shuffle), the single
    shuffle is the window×component aggregation with map-side partial sum;
    a narrow source is rebalanced first so the explode+regex stage uses the
    whole cluster (no-op when the scan already has enough splits).
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    files = (
        _early_return_prefix(F.col("filesChanged"))
        if early_return
        else F.col("filesChanged")
    )
    f = F.explode(files).alias("f")
    w = F.window("commitDate", window)
    return (
        rebalance(commits).select(w.alias("w"), f)
        .select("w", get_source_component(F.col("f.filename")).alias("component"), F.col("f.linesChanged").alias("lines"))
        .groupBy("w", "component")
        .agg(F.sum("lines").alias("lines_changed"))
        .filter(F.col("lines_changed") > min_lines)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "component",
            "lines_changed",
        )
    )


def jira_tickets_per_component(
    emails: DataFrame,
    window: str = "30 days",
    action: str = "Created",
    min_tickets: int = 10,
) -> DataFrame:
    """Jira tickets created per component per tumbling window.

    ref README.md:255-267: IsJiraTicket(fromRaw) filter, action filter,
    CROSS JOIN UNNEST(GetJiraTicketComponents(textBody)), HAVING COUNT > 10.
    Inner-unnest semantics: ticket emails without components drop out.
    """
    w = F.window("date", window)
    comp = F.explode(get_jira_ticket_components(F.col("textBody")))
    return (
        emails.filter(is_jira_ticket(F.col("fromRaw")))
        .filter(get_jira_ticket_action(F.col("subject")) == action)
        .select(w.alias("w"), comp.alias("component"))
        .groupBy("w", "component")
        .agg(F.count(F.lit(1)).alias("created_tickets"))
        .filter(F.col("created_tickets") > min_tickets)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "component",
            "created_tickets",
        )
    )

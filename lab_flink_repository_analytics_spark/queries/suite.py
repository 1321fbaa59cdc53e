"""Driver-gradeable query inventory.

Every entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI-SQL DuckDB oracle over the same parquet tables
(pre-registered views: region nation customer supplier part orders lineitem
events documents embeddings).  Column names/aliases are identical on both
sides — the driver sorts columns by name before value-hashing.

Float policy (so value-hashes match): every aggregated money/measure sum
goes through DECIMAL(18,6) (exact, order-independent) and is cast to DOUBLE
at the end; per-row double arithmetic uses identical operand order on both
sides; cosine scores are rounded to 6 decimals.

Domain-parity entries (commit_activity, jira_tickets, aliases_company)
synthesize reference-shaped rows (commits / Jira emails / people) from the
driver tables with deterministic expressions, then run the *real* engine
pipeline (regex library + windows) over them; the oracle rebuilds the same
rows in SQL and checks end-to-end equality.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.datapipe import dedup as DD
from lab_flink_repository_analytics_spark.datapipe import similarity as SIM
from lab_flink_repository_analytics_spark.datapipe import text as TX
from lab_flink_repository_analytics_spark.functions import aggregate as AGG
from lab_flink_repository_analytics_spark.queries import community as CQ
from lab_flink_repository_analytics_spark.queries import analytics_extra as AX
from lab_flink_repository_analytics_spark.queries import tpch_extra as TPCH
from lab_flink_repository_analytics_spark.session import load_tables

# ---------------------------------------------------------------------------
# helpers

DEC = "DECIMAL(18,6)"


def _revenue_sum() -> F.Column:
    """sum(extendedprice*(1-discount)) — double product, exact decimal sum."""
    return F.sum(
        F.expr(f"CAST(l_extendedprice * (1 - l_discount) AS {DEC})")
    ).cast("double")


def _d2d(expr: str) -> str:
    """DECIMAL->DOUBLE cast for DuckDB oracles, routed through VARCHAR.

    DuckDB's direct DECIMAL->DOUBLE cast is not correctly rounded: at sf1 the
    q1 ``sum_charge`` group 27864155010.941590 casts to ...941593 where the
    correctly-rounded double (Python ``float(Decimal)``, Spark
    ``BigDecimal.doubleValue``) is ...94159 — a 1-ULP oracle-side error
    (BENCH_SF1.md round-8 analysis).  VARCHAR->DOUBLE uses correctly-rounded
    string parsing, so the exact decimal string round-trips to the same double
    Spark produces.  Values are bit-identical wherever the direct cast was
    already correct (all graded scales), so this only ever fixes the oracle.
    """
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


_REV_SQL = _d2d(f"sum(CAST(l_extendedprice * (1 - l_discount) AS {DEC}))")


# ---------------------------------------------------------------------------
# 1. TPC-H-style relational core (scan/filter/agg/join surface)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy group-agg: the classic pricing summary.  Catalyst pushes
    the shipdate filter into the parquet scan; partial aggregation keeps the
    shuffle at (4 groups × partitions)."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    d = lambda c: F.expr(f"CAST({c} AS {DEC})")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            _revenue_sum().alias("sum_disc_price"),
            F.sum(
                F.expr(
                    f"CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS {DEC})"
                )
            )
            .cast("double")
            .alias("sum_charge"),
            (F.sum(d("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(d("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.sum(d("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_d2d(f"sum(CAST(l_quantity AS {DEC}))")} AS sum_qty,
  {_d2d(f"sum(CAST(l_extendedprice AS {DEC}))")} AS sum_base_price,
  {_REV_SQL} AS sum_disc_price,
  {_d2d(f"sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS {DEC}))")} AS sum_charge,
  {_d2d(f"sum(CAST(l_quantity AS {DEC}))")} / count(*) AS avg_qty,
  {_d2d(f"sum(CAST(l_extendedprice AS {DEC}))")} / count(*) AS avg_price,
  {_d2d(f"sum(CAST(l_discount AS {DEC}))")} / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + deterministic top-10.  customer is broadcast
    (small side); lineitem↔orders is the one real shuffle."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1996-03-15").cast("timestamp")
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") > cutoff)
        .join(t["orders"].filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue_sum().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority, {_REV_SQL} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate  > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: region/nation/supplier/customer broadcast onto the
    orders⋈lineitem backbone — one big shuffle, all dims broadcast."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["customer"]),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(_revenue_sum().alias("revenue"))
    )


Q5_SQL = f"""
SELECT n_name, {_REV_SQL} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def top_brands_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function: top-3 part types per brand by revenue."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    agg = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(_revenue_sum().alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("p_type"))
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_type", F.col("rnk").cast("int").alias("rnk"), "revenue")
    )


TOP_BRANDS_SQL = f"""
WITH agg AS (
  SELECT p_brand, p_type, {_REV_SQL} AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_type
)
SELECT p_brand, p_type, CAST(rnk AS INT) AS rnk, revenue FROM (
  SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_type) AS rnk
  FROM agg
) WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# 2. Event-stream analytics (the reference's windowed-SQL surface)


def users_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window, COUNT(DISTINCT user) — README.md:217-223
    semantics (distinct mail users per tumble) over the events stream."""
    t = load_tables(spark, sf_dir)
    w = F.window("ts", "1 day")
    return (
        t["events"]
        .groupBy(w.alias("w"))
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.count(F.lit(1)).alias("events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "users",
            "events",
        )
    )


USERS_PER_DAY_SQL = """
SELECT date_trunc('day', ts) AS window_start,
       date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
       count(DISTINCT user_id) AS users,
       count(*) AS events
FROM events GROUP BY 1, 2
"""


def quiet_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (12h gap) per user, HAVING count < 2 — the
    unanswered-threads shape (README.md:227-236: SESSION + HAVING COUNT<2)."""
    return CQ.quiet_sessions(load_tables(spark, sf_dir)["events"])


QUIET_SESSIONS_SQL = """
WITH o AS (
  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
  FROM events
), m AS (
  SELECT user_id, ts,
         CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 12 HOUR THEN 1 ELSE 0 END AS ns
  FROM o
), s AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 12 HOUR AS session_end,
       count(*) AS cnt
FROM s GROUP BY user_id, sid HAVING count(*) < 2
"""


def event_type_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day tumble × event_type, SUM(value) with HAVING — the
    component-activity shape (README.md:242-251) on the events stream."""
    t = load_tables(spark, sf_dir)
    w = F.window("ts", "7 days")
    return (
        t["events"]
        .groupBy(w.alias("w"), "event_type")
        .agg(F.sum(F.expr(f"CAST(value AS {DEC})")).cast("double").alias("total_value"))
        .filter(F.col("total_value") > 1000.0)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "total_value",
        )
    )


EVENT_TYPE_ACTIVITY_SQL = f"""
WITH w AS (
  SELECT make_timestamp((epoch_us(ts) // 604800000000) * 604800000000) AS window_start,
         event_type, value
  FROM events
)
SELECT window_start, window_start + INTERVAL 7 DAY AS window_end, event_type,
       CAST(sum(CAST(value AS {DEC})) AS DOUBLE) AS total_value
FROM w GROUP BY window_start, event_type
HAVING CAST(sum(CAST(value AS {DEC})) AS DOUBLE) > 1000.0
"""


def event_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the props column + grouped sum."""
    t = load_tables(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


EVENT_JSON_SQL = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


def last_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LastNonNullValue aggregate over the event stream: the last non-error
    value per user in event order (errors masked to NULL —
    ref LastNonNullValueAggFunction.java nulls-don't-reset semantics)."""
    t = load_tables(spark, sf_dir)
    v = F.when(F.col("event_type") != "error", F.col("value"))
    return (
        t["events"]
        .select("user_id", v.alias("v"), "event_id")
        .groupBy("user_id")
        .agg(AGG.last_non_null_value_agg("v", "event_id").alias("last_value"))
    )


LAST_EVENT_VALUE_SQL = """
SELECT user_id,
       last(v ORDER BY event_id) FILTER (WHERE v IS NOT NULL) AS last_value
FROM (
  SELECT user_id, event_id,
         CASE WHEN event_type <> 'error' THEN value END AS v
  FROM events
) GROUP BY user_id
"""


def nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG(DISTINCT …) — comma-joined ordered collect per group
    (ref ListAggITCase112/113)."""
    t = load_tables(spark, sf_dir)
    return (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(AGG.list_agg("n_name", order_by="n_name").alias("nations"))
    )


NATIONS_PER_REGION_SQL = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# ---------------------------------------------------------------------------
# 3. Reference-domain parity (synthesized domain rows, real pipelines)


def commit_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: commit activity per component per 30-day window.

    Synthesizes Commit-shaped rows (commitDate + filesChanged array of
    structs) from ``orders`` deterministically, then runs the real pipeline:
    explode(filesChanged) → GetSourceComponent regex → 30-day tumble →
    SUM(linesChanged) HAVING > 1000 (README.md:242-251 ≙
    FlinkCommitProgram.java:70-87)."""
    t = load_tables(spark, sf_dir)
    k = F.col("o_orderkey")
    f1 = F.struct(
        F.concat(F.lit("flink-"), (k % 7).cast("string"), F.lit("/src/main/java/A.java")).alias("filename"),
        F.lit(0).alias("linesAdded"),
        ((k * 7) % 100).cast("int").alias("linesChanged"),
        F.lit(0).alias("linesRemoved"),
    )
    f2 = F.struct(
        F.concat(F.lit("docs/content/p"), (k % 5).cast("string"), F.lit(".md")).alias("filename"),
        F.lit(0).alias("linesAdded"),
        ((k * 11) % 100).cast("int").alias("linesChanged"),
        F.lit(0).alias("linesRemoved"),
    )
    f3 = F.struct(
        F.when(k % 4 == 0, F.lit("LICENSE")).otherwise(F.lit("tools/ci/t.sh")).alias("filename"),
        F.lit(0).alias("linesAdded"),
        ((k * 13) % 100).cast("int").alias("linesChanged"),
        F.lit(0).alias("linesRemoved"),
    )
    commits = t["orders"].select(
        F.col("o_orderdate").alias("commitDate"),
        F.array(f1, f2, f3).alias("filesChanged"),
    )
    return CQ.commit_activity_per_component(commits, "30 days", 1000)


COMMIT_ACTIVITY_SQL = """
WITH files AS (
  SELECT o_orderdate AS commitDate,
         'flink-' || (o_orderkey % 7) AS component,
         CAST((o_orderkey * 7) % 100 AS BIGINT) AS lines
  FROM orders
  UNION ALL
  SELECT o_orderdate, 'docs', CAST((o_orderkey * 11) % 100 AS BIGINT) FROM orders
  UNION ALL
  SELECT o_orderdate,
         CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE 'tools' END,
         CAST((o_orderkey * 13) % 100 AS BIGINT)
  FROM orders
), w AS (
  SELECT make_timestamp((epoch_us(commitDate) // 2592000000000) * 2592000000000) AS window_start,
         component, lines
  FROM files
)
SELECT window_start, window_start + INTERVAL 30 DAY AS window_end, component,
       CAST(sum(lines) AS BIGINT) AS lines_changed
FROM w GROUP BY window_start, component
HAVING sum(lines) > 1000
"""


#: shared synthesized-Jira-email construction (Spark side mirrors this)
_JIRA_BODIES = [
    "          Components: Tests",
    "          Components: Tests, Formats (JSON, Avro, Parquet, ORC, SequenceFile)",
    "          Components: API / DataStream, Runtime",
    "          Components: Connectors / Kafka",
    "Nothing to see here",
]
_JIRA_COMPONENT_LISTS = [
    ["Tests"],
    ["Tests", "Formats (JSON, Avro, Parquet, ORC, SequenceFile)"],
    ["API / DataStream", "Runtime"],
    ["Connectors / Kafka"],
    [],
]
_JIRA_ACTIONS = ["Created", "Updated", "Closed", "Commented"]


def _synth_jira_emails(t) -> DataFrame:
    d = F.col("doc_id")
    ts = F.expr(
        "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, CAST(doc_id % 2160 AS INT), 0, 0)"
    )
    from_raw = F.when(
        d % 3 == 0,
        F.concat(F.lit('"Author '), (d % 7).cast("string"), F.lit(' (Jira)" <jira@apache.org>')),
    ).otherwise(F.concat(F.lit('"User" <u'), d.cast("string"), F.lit("@example.com>")))
    action = d % 4
    subject = F.concat(
        F.lit("[jira] ["),
        F.when(action == 0, _JIRA_ACTIONS[0])
        .when(action == 1, _JIRA_ACTIONS[1])
        .when(action == 2, _JIRA_ACTIONS[2])
        .otherwise(_JIRA_ACTIONS[3]),
        F.lit("] (FLINK-"),
        (10000 + d).cast("string"),
        F.lit(") Fix "),
        F.col("source"),
    )
    body_idx = d % 5
    body = F.when(body_idx == 0, _JIRA_BODIES[0])
    for i in range(1, 4):
        body = body.when(body_idx == i, _JIRA_BODIES[i])
    body = body.otherwise(_JIRA_BODIES[4])
    return t["documents"].select(
        ts.alias("date"),
        from_raw.alias("fromRaw"),
        subject.alias("subject"),
        body.alias("textBody"),
    )


def jira_tickets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jira tickets created per component per 30-day window, over emails
    synthesized from ``documents`` — exercises IsJiraTicket +
    GetJiraTicketAction + GetJiraTicketComponents + explode + tumble +
    HAVING (README.md:255-267) end-to-end with real regexes."""
    t = load_tables(spark, sf_dir)
    emails = _synth_jira_emails(t)
    return CQ.jira_tickets_per_component(emails, "30 days", "Created", 2)


def _jira_sql_components_case() -> str:
    cases = []
    for i, comps in enumerate(_JIRA_COMPONENT_LISTS):
        lit = "[" + ", ".join("'" + c.replace("'", "''") + "'" for c in comps) + "]"
        cases.append(f"WHEN {i} THEN {lit}::VARCHAR[]")
    return "CASE (doc_id % 5) " + " ".join(cases) + " END"


JIRA_TICKETS_SQL = f"""
WITH mails AS (
  SELECT TIMESTAMP '2024-01-01 00:00:00' + (doc_id % 2160) * INTERVAL 1 HOUR AS date,
         (doc_id % 3 = 0) AS is_jira,
         CASE (doc_id % 4) WHEN 0 THEN 'Created' WHEN 1 THEN 'Updated'
                           WHEN 2 THEN 'Closed' ELSE 'Commented' END AS action,
         {_jira_sql_components_case()} AS comps
  FROM documents
), exploded AS (
  SELECT make_timestamp((epoch_us(date) // 2592000000000) * 2592000000000) AS window_start,
         unnest(comps) AS component
  FROM mails WHERE is_jira AND action = 'Created'
)
SELECT window_start, window_start + INTERVAL 30 DAY AS window_end, component,
       count(*) AS created_tickets
FROM exploded GROUP BY window_start, component
HAVING count(*) > 2
"""


def jira_authors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tickets per Jira author — exercises GetJiraTicketFrom (FROM-field
    author extraction, ref GetJiraTicketFrom.java:12-26) and
    GetJiraTicketNumber (subject FLINK-id, ref GetJiraTicketNumber.java:
    9-23) with COUNT(DISTINCT) over the extracted ids.  The author group
    keeps the reference's greedy trailing space."""
    from lab_flink_repository_analytics_spark.functions.scalar import (
        get_jira_ticket_from,
        get_jira_ticket_number,
        is_jira_ticket,
    )

    t = load_tables(spark, sf_dir)
    emails = _synth_jira_emails(t)
    return (
        emails.filter(is_jira_ticket(F.col("fromRaw")))
        .select(
            get_jira_ticket_from(F.col("fromRaw")).alias("author"),
            get_jira_ticket_number(F.col("subject")).alias("ticket"),
        )
        .groupBy("author")
        .agg(
            F.countDistinct("ticket").alias("tickets"),
            F.count(F.lit(1)).alias("messages"),
        )
    )


JIRA_AUTHORS_SQL = """
SELECT 'Author ' || (doc_id % 7) || ' ' AS author,
       count(DISTINCT 'FLINK-' || (10000 + doc_id)) AS tickets,
       count(*) AS messages
FROM documents WHERE doc_id % 3 = 0
GROUP BY 1
"""


def expanded_ticket_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExpandJiraTicketComponents2 as a graded query: LEFT JOIN LATERAL
    expansion of each email body's component list into (component,
    componentCount) rows — a body with no components keeps its row with
    NULLs (ref ExpandJiraTicketComponents2.java:14-40,
    ExpandJiraTicketComponentsITCase.java:57-91) — then a per-component
    rollup so the output is small and hash-stable at any SF."""
    from lab_flink_repository_analytics_spark.functions.table import (
        expand_jira_ticket_components2,
    )

    t = load_tables(spark, sf_dir)
    emails = _synth_jira_emails(t)
    exploded = emails.select(
        expand_jira_ticket_components2(F.col("textBody"), outer=True).alias("e")
    ).select(
        F.col("e.component").alias("component"),
        F.col("e.componentCount").alias("cc"),
    )
    return exploded.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cc").alias("total_cc"),
    )


EXPANDED_TICKET_COMPONENTS_SQL = f"""
WITH mails AS (
  SELECT {_jira_sql_components_case()} AS comps FROM documents
), expanded AS (
  -- LEFT JOIN LATERAL ON TRUE: empty list still yields one NULL row
  SELECT unnest(CASE WHEN len(comps) = 0 THEN [NULL]::VARCHAR[] ELSE comps END) AS component,
         CASE WHEN len(comps) = 0 THEN NULL ELSE len(comps) END AS cc
  FROM mails
)
SELECT component, count(*) AS n_rows, CAST(sum(cc) AS BIGINT) AS total_cc
FROM expanded GROUP BY component
"""


def aliases_company(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetEmailAliasesAndCompany over people synthesized from events:
    per user, all email aliases + current company + company-since
    (ref GetEmailAliasesAndCompany.java; SURVEY.md §2.D composite).

    The engine aggregate returns a real ARRAY (as the reference does);
    this graded projection serializes it with ``to_json`` so row-level
    canonicalizers that sort on scalar columns can grade it."""
    t = load_tables(spark, sf_dir)
    u = F.col("user_id")
    email = F.concat(
        F.lit("u"),
        u.cast("string"),
        F.lit("@"),
        F.when(F.col("event_type") == "error", F.lit("gmail.com"))
        .when(F.col("event_type") == "signup", F.concat(F.lit("corp"), (u % 3).cast("string"), F.lit(".com")))
        .when(F.col("event_type") == "purchase", F.lit("data-artisans.com"))
        .when(F.col("event_type") == "view", F.lit("Apache.ORG"))
        .otherwise(F.concat(F.lit("shop"), (u % 2).cast("string"), F.lit(".io"))),
    )
    return (
        AGG.email_profiles_df(
            t["events"].select("user_id", email.alias("email"), "ts"),
            person="user_id",
            email="email",
            ts="ts",
        )
        .select(
            "user_id",
            F.to_json("aliases").alias("aliases"),
            F.col("company"),
            F.col("companySince"),
        )
    )


_EXCLUDES_SQL = "[" + ", ".join(f"'{d}'" for d in AGG.COMPANY_EXCLUDES) + "]"

ALIASES_COMPANY_SQL = f"""
WITH base AS (
  SELECT user_id,
         'u' || user_id || '@' ||
         CASE event_type
           WHEN 'error' THEN 'gmail.com'
           WHEN 'signup' THEN 'corp' || (user_id % 3) || '.com'
           WHEN 'purchase' THEN 'data-artisans.com'
           WHEN 'view' THEN 'Apache.ORG'
           ELSE 'shop' || (user_id % 2) || '.io'
         END AS email,
         ts
  FROM events
), firsts AS (
  SELECT user_id, email, min(ts) AS fts FROM base GROUP BY 1, 2
), al AS (
  SELECT user_id, list(email ORDER BY fts, email) AS aliases FROM firsts GROUP BY 1
), nn AS (
  SELECT user_id, ts, email, regexp_extract(email, '@([^@]+)$', 1) AS domain
  FROM base
  WHERE regexp_extract(email, '@([^@]+)$', 1) <> ''
    AND NOT list_contains({_EXCLUDES_SQL}, lower(regexp_extract(email, '@([^@]+)$', 1)))
), ch AS (
  SELECT *, lag(domain) OVER (PARTITION BY user_id ORDER BY ts, email) AS pd FROM nn
), res AS (
  SELECT user_id,
         last(domain ORDER BY ts, email) FILTER (WHERE pd IS NULL OR domain <> pd) AS company,
         max(ts) FILTER (WHERE pd IS NULL OR domain <> pd) AS companySince
  FROM ch GROUP BY user_id
)
SELECT a.user_id, to_json(a.aliases)::VARCHAR AS aliases,
       regexp_replace(r.company, '(data-artisans|da-platform).com', 'ververica.com') AS company,
       r.companySince
FROM al a LEFT JOIN res r ON a.user_id = r.user_id
"""


def obfuscated_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Obfuscate scalar over synthesized emails (ref Obfuscate.java:15-51):
    md5-short local part, domain preserved, then grouped activity."""
    t = load_tables(spark, sf_dir)
    u = F.col("user_id")
    email = F.concat(
        F.lit("u"), u.cast("string"), F.lit("@mail"), (u % 4).cast("string"), F.lit(".com")
    )
    from lab_flink_repository_analytics_spark.functions.scalar import obfuscate

    return (
        t["events"]
        .select(obfuscate(email).alias("obf_email"))
        .groupBy("obf_email")
        .agg(F.count(F.lit(1)).alias("n"))
    )


OBFUSCATED_USERS_SQL = """
SELECT concat(substr(md5('u' || user_id), 1, 6), '@mail', (user_id % 4), '.com') AS obf_email,
       count(*) AS n
FROM events GROUP BY 1
"""


def normalized_threads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NormalizeEmailThread over synthesized Re:/AW:-prefixed subjects
    (ref NormalizeEmailThread.java; PatternUtils.java:16-17)."""
    t = load_tables(spark, sf_dir)
    d = F.col("doc_id")
    subject = (
        F.when(d % 3 == 0, F.concat(F.lit("Re: topic "), F.col("lang")))
        .when(d % 3 == 1, F.concat(F.lit("AW: re: topic "), F.col("lang")))
        .otherwise(F.concat(F.lit("  topic "), F.col("lang"), F.lit("  ")))
    )
    from lab_flink_repository_analytics_spark.functions.scalar import (
        normalize_email_thread,
    )

    return (
        t["documents"]
        .select(normalize_email_thread(subject).alias("thread"))
        .groupBy("thread")
        .agg(F.count(F.lit(1)).alias("messages"))
    )


NORMALIZED_THREADS_SQL = """
SELECT 'topic ' || lang AS thread, count(*) AS messages
FROM documents GROUP BY 1
"""


def repeated_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArrayRepeat + explode (ref ArrayRepeat.java:8-29): each nation name
    repeated (key % 3 + 1) times, then re-counted."""
    t = load_tables(spark, sf_dir)
    from lab_flink_repository_analytics_spark.functions.scalar import (
        array_repeat_nullsafe,
    )

    reps = (F.col("n_nationkey") % 3 + 1).cast("int")
    return (
        t["nation"]
        .select(F.explode(array_repeat_nullsafe(F.col("n_name"), reps)).alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


REPEATED_LABELS_SQL = """
SELECT n_name AS name, count(*) AS n
FROM nation, LATERAL (SELECT unnest(generate_series(1, n_nationkey % 3 + 1)) AS r) g
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# 4. Training-data-pipeline operators (documents / embeddings)


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary: md5 fingerprint → keeper id + copy count."""
    t = load_tables(spark, sf_dir)
    return DD.exact_dedup_summary(t["documents"])


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS copies
FROM documents GROUP BY 1
"""


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode/UNNEST surface at corpus scale: token frequencies."""
    from lab_flink_repository_analytics_spark.session import rebalance

    t = load_tables(spark, sf_dir)
    return (
        rebalance(t["documents"])
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


WORD_COUNTS_SQL = """
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics (token counts, ratios)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", TX.quality_metrics("text").alias("q")
    ).select("doc_id", "q.*")


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


TEXT_QUALITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
)
SELECT doc_id,
  CAST(len(t) AS INT) AS n_tokens,
  CAST(length(text) AS INT) AS n_chars,
  CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS avg_token_len,
  CAST(len(list_filter(t, x -> list_contains({_sql_list(TX.STOPWORDS_EN)}, x))) AS DOUBLE) / len(t) AS stopword_ratio,
  CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_ratio
FROM toks
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language-ID heuristic per document."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", "lang", TX.lang_scores("text").alias("s")
    ).select("doc_id", "lang", "s.*")


LANG_ID_SQL = f"""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
hits AS (
  SELECT doc_id, lang,
    CAST(len(list_filter(t, x -> list_contains({_sql_list(TX.STOPWORDS_EN)}, x))) AS INT) AS en_hits,
    CAST(len(list_filter(t, x -> list_contains({_sql_list(TX.MARKERS_DE)}, x))) AS INT) AS de_hits,
    CAST(len(list_filter(t, x -> list_contains({_sql_list(TX.MARKERS_ES)}, x))) AS INT) AS es_hits
  FROM toks
)
SELECT doc_id, lang, en_hits, de_hits, es_hits,
  CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
       WHEN de_hits >= es_hits AND de_hits > 0 THEN 'de'
       WHEN es_hits > 0 THEN 'es'
       ELSE 'unknown' END AS predicted_lang
FROM hits
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprints (dedup key / provenance)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select("doc_id", TX.fingerprint("text").alias("fp"))


DOC_FINGERPRINTS_SQL = r"""
SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
FROM documents
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (8 portable md5-based permutations).

    Graded projection serializes the ARRAY<BIGINT> signature with
    ``to_json`` (engine surface ``DD.minhash_signatures_df`` still
    returns the real array)."""
    t = load_tables(spark, sf_dir)
    return DD.minhash_signatures_df(t["documents"]).select(
        "doc_id", F.to_json("sig").alias("sig")
    )


def _minhash_sql() -> str:
    perms = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {DD.MINHASH_P}))"
        for a, b in zip(DD.MINHASH_A, DD.MINHASH_B)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         ELSE [text] END AS shingles
  FROM toks
), hashed AS (
  SELECT doc_id,
    list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
  FROM sh
)
SELECT doc_id, [{perms}] AS sig FROM hashed
"""


_MINHASH_RAW_SQL = _minhash_sql()

# graded twin: JSON-serialized signature (see minhash_signatures docstring)
MINHASH_SQL = f"""
WITH raw AS ({_MINHASH_RAW_SQL.strip()})
SELECT doc_id, to_json(sig)::VARCHAR AS sig FROM raw
"""


def _near_dup_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared MinHash-LSH candidate pairs over the full documents
    table: the one (shingle → signature → banded self-join → distinct)
    build of the registry, read by near_dup_pairs, near_dup_source_matrix,
    lsh_dedup_eval and the connected-components cluster family.  Eagerly
    checkpointed — a pure function of the read-only documents table, the
    same derived_state pattern as the cluster labels it feeds."""
    from lab_flink_repository_analytics_spark.session import derived_state

    def build():
        docs = load_tables(spark, sf_dir)["documents"]
        return DD.near_dup_candidates(docs).localCheckpoint(eager=True)

    return derived_state(spark, "near_dup_candidate_pairs", sf_dir, build)


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (banded signature join)."""
    return _near_dup_candidate_pairs(spark, sf_dir)


#: the banding CTE of every near-dup oracle: 4 bands x 2 rows of ``sigs``
_BANDED_SQL = """banded AS (
  SELECT doc_id AS id, b AS band, sig[2*b+1] AS s1, sig[2*b+2] AS s2
  FROM sigs, unnest([0, 1, 2, 3]) AS u(b)
)"""

NEAR_DUP_SQL = f"""
WITH sigs AS ({_MINHASH_RAW_SQL.strip()}),
{_BANDED_SQL}
SELECT l.id AS id_a, r.id AS id_b
FROM banded l JOIN banded r
  ON l.band = r.band AND l.s1 = r.s1 AND l.s2 = r.s2 AND l.id < r.id
GROUP BY 1, 2
"""


def near_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate-pair counts rolled up by (source, source) —
    the document-level complement of ``source_gram_overlap``'s gram-set
    view: which source pairs actually produce near-duplicate documents.

    Scale shape: reads the session-shared candidate pairs (never
    all-pairs); the source lookup is two doc-keyed equi-joins; output is
    #source²-bounded."""
    pairs = _near_dup_candidate_pairs(spark, sf_dir)
    src = load_tables(spark, sf_dir)["documents"].select("doc_id", "source")
    return (
        pairs.join(src.toDF("id_a", "sa"), "id_a")
        .join(src.toDF("id_b", "sb"), "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


NEAR_DUP_SOURCE_MATRIX_SQL = f"""
WITH nd AS ({NEAR_DUP_SQL.strip()}),
src AS (SELECT doc_id, source FROM documents)
SELECT least(a.source, b.source) AS source_a,
       greatest(a.source, b.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM nd JOIN src a ON nd.id_a = a.doc_id
        JOIN src b ON nd.id_b = b.doc_id
GROUP BY 1, 2
"""


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (token-level)."""
    t = load_tables(spark, sf_dir)
    return DD.simhash_signatures_df(t["documents"])


SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
), hashed AS (
  SELECT doc_id, list_transform(t, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
  FROM toks
), bits AS (
  SELECT doc_id,
    list_transform(generate_series(0, 31),
      i -> CASE WHEN list_sum(list_transform(hs,
             h -> CASE WHEN (h // power(2, i)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END)) > 0
           THEN power(2, i)::BIGINT ELSE 0 END) AS bvals
  FROM hashed
)
SELECT doc_id, CAST(list_sum(bvals) AS BIGINT) AS simhash FROM bits
"""


def jaccard_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (token) Jaccard within (source, lang) blocks."""
    t = load_tables(spark, sf_dir)
    return DD.ngram_jaccard_pairs(t["documents"], ["source", "lang"])


JACCARD_SQL = """
SELECT l.doc_id AS id_a, r.doc_id AS id_b,
       CAST(len(list_intersect(list_distinct(string_split(l.text, ' ')),
                               list_distinct(string_split(r.text, ' ')))) AS DOUBLE)
       / len(list_distinct(list_concat(string_split(l.text, ' '),
                                       string_split(r.text, ' ')))) AS jaccard
FROM documents l JOIN documents r
  ON l.source = r.source AND l.lang = r.lang AND l.doc_id < r.doc_id
"""


# --- shared DuckDB float-policy fragments for the similarity oracles ---
# ONE definition of the dot/norm/cosine expression shape: the fold order
# must match the Spark side everywhere, so every oracle builds from these.


def _dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"


# Width contract of the `embeddings` table: every driver-generated
# embeddings.parquet (sf0.001 → sf10 and the /tmp/scale replicas) carries
# uniform 64-wide vectors.  Queries take the width from this contract so
# building their DataFrame stays pure plan construction (no probe job);
# every vector kernel takes it as a required `dim`, and rows violating it
# are dropped by the pre-join width filter in
# `dedup.embedding_near_dup_pairs`.
EMBEDDING_DIM = 64


def _dot_split_sql(a: str, b: str, dim: int = EMBEDDING_DIM, parts: int = 8) -> str:
    """Explicit per-term dot product in the SPLIT-PARTIALS order of
    ``similarity.flat_dot(..., parts=8)``: ``parts`` consecutive
    left-associated partial sums, combined left-associatively.  Spelled
    out term-by-term (1-based DuckDB indexing) rather than via
    ``list_sum`` so the oracle's IEEE addition order is pinned by SQL's
    own left-associative ``+`` — no reliance on list_sum internals."""
    chunk = -(-dim // parts)
    groups = []
    for start in range(0, dim, chunk):
        terms = [
            f"{a}[{i + 1}]*{b}[{i + 1}]" for i in range(start, min(start + chunk, dim))
        ]
        groups.append("(" + " + ".join(terms) + ")")
    return "(" + " + ".join(groups) + ")"


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _cos_sql(a: str, b: str) -> str:
    return f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})"


def _cos_split_sql(a: str, b: str) -> str:
    """Cosine in the SPLIT-PARTIALS order of the width-pinned Spark
    scoring path (similarity._staged_cosine / semdedup's pair scan —
    ``flat_dot(parts=COSINE_SPLIT_PARTS)`` for the pair dot AND both
    norms): the oracle twin of every ``dim=EMBEDDING_DIM`` cosine site.
    The fold-order ``_cos_sql`` stays for the assignment cosines: the
    Arrow assignment kernel (similarity._arrow_assignments) evaluates
    them as the parts=1 chain, bit-identical to the fold."""
    return (
        f"{_dot_split_sql(a, b)} / "
        f"(sqrt({_dot_split_sql(a, a)}) * sqrt({_dot_split_sql(b, b)}))"
    )


_RANKED_TAIL_SQL = """
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(score, 6) AS cos_sim
FROM ranked WHERE rank <= 10
"""


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors (vec_id < 5)."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return SIM.brute_force_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=10, dim=EMBEDDING_DIM
    )


ANN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cos_split_sql("qv", "cv")} AS score
  FROM q, c WHERE query_id <> neighbor_id
), {_RANKED_TAIL_SQL}
"""


def largest_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LargestStringArrayAgg surface (ref LargestStringArrayAggFunction
    .java:12-39): per (source, lang), the token array with the greatest
    cardinality; ties keep the earliest doc (strictly-greater replaces)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select("source", "lang", F.split("text", " ").alias("t"), "doc_id")
        .groupBy("source", "lang")
        .agg(AGG.largest_array_agg("t", F.col("doc_id")).alias("arr"))
        .select(
            "source", "lang", F.to_json("arr").alias("largest_tokens")
        )
    )


LARGEST_DOC_TOKENS_SQL = """
WITH toks AS (SELECT source, lang, doc_id, string_split(text, ' ') AS t FROM documents),
r AS (
  SELECT source, lang, t,
         row_number() OVER (PARTITION BY source, lang ORDER BY len(t) DESC, doc_id) AS rn
  FROM toks
)
SELECT source, lang, to_json(t)::VARCHAR AS largest_tokens FROM r WHERE rn = 1
"""


def last_props_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LastValueStringArrayAgg surface (ref LastValueStringArrayAggFunction
    .java:12-39): last non-null array value per user in event order —
    error events mask to NULL and must not reset the state."""
    t = load_tables(spark, sf_dir)
    arr = F.when(
        F.col("event_type") != "error",
        F.array(F.col("event_type"), F.get_json_object("props", "$.k")),
    )
    return (
        t["events"]
        .select("user_id", arr.alias("a"), "event_id")
        .groupBy("user_id")
        .agg(AGG.last_value_array_agg("a", "event_id").alias("arr"))
        .select("user_id", F.to_json("arr").alias("last_props"))
    )


LAST_PROPS_ARRAY_SQL = """
SELECT user_id,
       to_json(last(a ORDER BY event_id) FILTER (WHERE a IS NOT NULL))::VARCHAR AS last_props
FROM (
  SELECT user_id, event_id,
         CASE WHEN event_type <> 'error'
              THEN [event_type, json_extract_string(props, '$.k')] END AS a
  FROM events
) GROUP BY user_id
"""


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label.

    The width comes from the :data:`EMBEDDING_DIM` table contract, so
    building this DataFrame is pure plan construction — no probe job
    fires before the first action (round-9 verdict task 2; previously a
    one-row ``.first()`` probe ran eagerly, and — advisor note — its
    pick-an-arbitrary-row width silently defined which rows survived on
    ragged data).  Contract semantics: any row whose width is not
    EMBEDDING_DIM is dropped pre-join with all its pairs; driver-generated
    data is uniformly 64-wide, so the filter is a no-op there."""
    t = load_tables(spark, sf_dir)
    return DD.embedding_near_dup_pairs(
        t["embeddings"], ["label"], threshold=0.3, dim=EMBEDDING_DIM
    )


EMBEDDING_NEAR_DUP_SQL = f"""
WITH e0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
            WHERE len(embedding) = {EMBEDDING_DIM}),
e AS (SELECT vec_id, label, v, sqrt({_dot_split_sql("v", "v")}) AS nrm FROM e0),
scored AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         round({_dot_split_sql("l.v", "r.v")} / (l.nrm * r.nrm), 6) AS cos_sim
  FROM e l JOIN e r ON l.label = r.label AND l.vec_id < r.vec_id
)
SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.3
"""


ANN_LSH_NBITS = 4


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the scale path: each query scans
    only its hyperplane bucket, ~1/2^nbits of the candidates)."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    return SIM.lsh_topk(
        emb.filter(F.col("vec_id") < 5),
        emb,
        k=10,
        nbits=ANN_LSH_NBITS,
        dim=EMBEDDING_DIM,
    )


def _lsh_bucket_sql(v: str, nbits: int) -> str:
    """DuckDB expression reproducing similarity.lsh_bucket bit-for-bit
    (same ±1 hyperplane rule, 0-based dim index)."""
    terms = []
    for b in range(nbits):
        sign = f"CASE WHEN ((i-1)*{2 * b + 3} + {b * 7}) % 4 < 2 THEN 1.0 ELSE -1.0 END"
        proj = (
            f"list_sum(list_transform(generate_series(1, len({v})), "
            f"i -> {v}[i] * ({sign})))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
eb AS (SELECT vec_id, v, {_lsh_bucket_sql("v", ANN_LSH_NBITS)} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < 5),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id, {_cos_split_sql("qv", "c.v")} AS score
  FROM q JOIN eb c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
), {_RANKED_TAIL_SQL}
"""


def subword_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counts vs whitespace counts per doc."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        TX.token_count("text").alias("ws_tokens"),
        TX.bpe_ish_token_count("text").alias("subword_tokens"),
    )


SUBWORD_TOKEN_SQL = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS INT) AS subword_tokens
FROM documents
"""


WINNOW_K, WINNOW_W = 3, 4


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprint set per document.

    Graded projection serializes the sorted ARRAY<BIGINT> fingerprint
    set with ``to_json`` (engine surface returns the real array)."""
    t = load_tables(spark, sf_dir)
    return TX.winnow_fingerprints_df(
        t["documents"], k=WINNOW_K, w=WINNOW_W
    ).select("doc_id", F.to_json("fps").alias("fps"))


WINNOWING_SQL = f"""
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, text, len(t) AS n,
    list_transform(generate_series(1, len(t) - {WINNOW_K - 1}),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS grams
  FROM toks
), hs AS (
  SELECT doc_id, text, n,
    list_transform(grams, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT) AS h
  FROM sh
), sel AS (
  SELECT doc_id,
    CASE WHEN n < {WINNOW_K} THEN [('0x' || substr(md5(text), 1, 8))::BIGINT]
         WHEN len(h) < {WINNOW_W} THEN [list_min(h)]
         ELSE list_transform(generate_series(1, len(h) - {WINNOW_W - 1}),
              i -> list_min(h[i:i+{WINNOW_W - 1}]))
    END AS wins
  FROM hs
)
SELECT doc_id, to_json(list_sort(list_distinct(wins)))::VARCHAR AS fps FROM sel
"""


IVF_NLISTS, IVF_NPROBE = 16, 2


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (deterministic sampled coarse quantizer,
    nprobe=2 of 16 lists — each query scans ~1/8 of the candidates)."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    cents = SIM.sampled_centroids(emb, IVF_NLISTS)
    return SIM.ivf_topk(
        emb.filter(F.col("vec_id") < 5),
        emb,
        cents,
        k=10,
        nprobe=IVF_NPROBE,
        dim=EMBEDDING_DIM,
    )


ANN_IVF_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {IVF_NLISTS}),
pairs AS (
  SELECT e.vec_id, e.v, c.cid, c.cv, {_cos_sql("e.v", "c.cv")} AS cs
  FROM e, c
), asg AS (
  SELECT vec_id, v, cid, cs,
         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
  FROM pairs
), cand AS (SELECT vec_id AS neighbor_id, v AS cv2, cid FROM asg WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, v AS qv, cid FROM asg
           WHERE rn <= {IVF_NPROBE} AND vec_id < 5),
scored AS (
  SELECT query_id, neighbor_id, {_cos_split_sql("qv", "cv2")} AS score
  FROM probes JOIN cand USING (cid) WHERE query_id <> neighbor_id
), {_RANKED_TAIL_SQL}
"""


SEMDEDUP_TAU = 0.3
#: target members per SemDeDup cluster: the quantizer grows with the
#: corpus (nlists = max(16, n // target)) so the quadratic intra-cluster
#: pair scan stays BOUNDED per cluster at any scale — the SemDeDup recipe
#: itself, and the fix for the fixed-16 quadratic term BENCH_SF1.md
#: flagged.  At the driver's sf0.001-0.1 sizes the floor of 16 is active,
#: so graded results are unchanged; the 10× rehearsal exercises the
#: growth path.
SEMDEDUP_TARGET_CLUSTER = 512


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (datapipe/similarity.py::
    semdedup): corpus-scaled coarse quantizer (max(16, n/512) lists), drop
    any vector with a lower-id cluster-mate at cosine ≥ 0.3; output
    (vec_id, cluster_id, keep)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n_lists = max(IVF_NLISTS, emb.count() // SEMDEDUP_TARGET_CLUSTER)
    cents = SIM.sampled_centroids(emb, n_lists)
    return SIM.semdedup(emb, cents, SEMDEDUP_TAU, dim=EMBEDDING_DIM)


#: the oracle twin of datapipe/similarity.py::hierarchical_assignments —
#: the same two-level routing procedure (supers = cid-prefix, supers map
#: to themselves, (cos DESC, id ASC) everywhere); n_super = 1 below the
#: HIERARCHICAL_MIN_LISTS gate reduces both engines to the flat argmax
_NLISTS_SQL = f"greatest({IVF_NLISTS}, count(*) // {SEMDEDUP_TARGET_CLUSTER})"
SEMDEDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
par AS (
  SELECT {_NLISTS_SQL} AS n_lists,
         CASE WHEN {_NLISTS_SQL} > {SIM.HIERARCHICAL_MIN_LISTS}
              THEN CAST(floor(sqrt({_NLISTS_SQL})) AS BIGINT)
              ELSE 1 END AS n_super
  FROM e),
c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id
      LIMIT (SELECT n_lists FROM par)),
s AS (SELECT cid AS sid, cv AS sv FROM c ORDER BY cid
      LIMIT (SELECT n_super FROM par)),
c2s AS (
  SELECT cid, sid FROM (
    SELECT c.cid, s.sid,
           row_number() OVER (PARTITION BY c.cid
                              ORDER BY {_cos_sql("c.cv", "s.sv")} DESC, s.sid) AS rn
    FROM c, s WHERE c.cid NOT IN (SELECT sid FROM s)) WHERE rn = 1
  UNION ALL
  SELECT sid, sid FROM s),
v2s AS (
  SELECT vec_id, sid FROM (
    SELECT e.vec_id, s.sid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql("e.v", "s.sv")} DESC, s.sid) AS rn
    FROM e, s) WHERE rn = 1),
a1 AS (
  SELECT vec_id, v, cid AS cluster_id FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql("e.v", "c.cv")} DESC, c.cid) AS rn
    FROM e JOIN v2s USING (vec_id)
           JOIN c2s ON c2s.sid = v2s.sid
           JOIN c ON c.cid = c2s.cid) WHERE rn = 1),
dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM a1 lo JOIN a1 hi ON lo.cluster_id = hi.cluster_id AND lo.vec_id < hi.vec_id
  WHERE round({_cos_split_sql("lo.v", "hi.v")}, 6) >= {SEMDEDUP_TAU}
)
SELECT a1.vec_id, a1.cluster_id,
       (d.vec_id IS NULL) AS keep
FROM a1 LEFT JOIN dropped d ON a1.vec_id = d.vec_id
"""


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle sample covariance of the embedding dims
    (datapipe/similarity.py::covariance_matrix) — the X^T X building
    block of distributed PCA, exact fixed-point moments (BIGINT limbs on
    a 2^-50 grid, summed per Arrow batch in one ``mapInArrow`` pass, no
    dim² row expansion); NULL where fewer than two rows cover a pair."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return SIM.covariance_matrix(emb)


EMBEDDING_COVARIANCE_SQL = """
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.i, b.j, v[a.i] * v[b.j] AS p
  FROM e,
       unnest(generate_series(1, len(v))) AS a(i),
       unnest(generate_series(1, len(v))) AS b(j)
  WHERE a.i <= b.j
),
m AS (
  SELECT i, j, sum(CAST(p AS DECIMAL(30,15))) AS sxy, count(*) AS n
  FROM pairs GROUP BY 1, 2
),
d AS (
  SELECT i, sum(CAST(v[i] AS DECIMAL(30,15))) AS sx
  FROM e, unnest(generate_series(1, len(v))) AS a(i) GROUP BY 1
)
SELECT m.i, m.j,
       round((CAST(sxy AS DOUBLE) - CAST(d1.sx AS DOUBLE) * CAST(d2.sx AS DOUBLE) / n)
             / (n - 1), 6) AS cov
FROM m JOIN d d1 ON m.i = d1.i JOIN d d2 ON m.j = d2.i
"""


def label_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise cosine similarity within each label
    (datapipe/similarity.py::mean_pairwise_cosine) — the per-group corpus
    redundancy/diversity signal a SemDeDup-style curation pass reads
    before deciding how aggressively to deduplicate a source.  O(N·d) via
    the moments identity Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u_i‖², never an
    all-pairs join.  Width from the :data:`EMBEDDING_DIM` table contract
    → the fixed-width single-aggregation path (one HashAggregate, no
    posexplode, no join; bit-identical by decimal exactness)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return SIM.mean_pairwise_cosine(emb, group_col="label", dim=EMBEDDING_DIM)


# Twin of the Spark decimal-moments plan: per-dim component sums of the
# unit-normalized vectors as DECIMAL(30,15) (exact, order-independent),
# squared in double and re-summed as DECIMAL(38,10), minus the per-row
# self-dot rollup; same contributing-row filter (non-NULL label/vector,
# norm > 0) and the same left-to-right list_sum fold as _dot_sql.
LABEL_REDUNDANCY_SQL = """
WITH e0 AS (
  SELECT label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
),
e AS (
  SELECT label, v,
         sqrt(list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * v[i]))) AS nrm
  FROM e0
),
u AS (
  SELECT label AS grp, list_transform(v, x -> x / nrm) AS u
  FROM e WHERE nrm > 0
),
dims AS (
  SELECT grp, a.i AS d, sum(CAST(u[a.i] AS DECIMAL(30,15))) AS s
  FROM u, unnest(generate_series(1, len(u))) AS a(i)
  GROUP BY 1, 2
),
gsum AS (
  SELECT grp,
         sum(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) AS DECIMAL(38,10))) AS sumsq
  FROM dims GROUP BY 1
),
rowagg AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_vectors,
         sum(CAST(list_sum(list_transform(generate_series(1, len(u)), i -> u[i] * u[i]))
                  AS DECIMAL(30,15))) AS ssum
  FROM u GROUP BY 1
)
SELECT r.grp AS label, r.n_vectors,
       CASE WHEN r.n_vectors > 1 THEN
         round((CAST(g.sumsq AS DOUBLE) - CAST(r.ssum AS DOUBLE))
               / (r.n_vectors * (r.n_vectors - 1)), 6)
       END AS mean_cos
FROM rowagg r JOIN gsum g ON r.grp = g.grp
"""


def windowed_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch windowed dedup (datapipe/dedup.py::windowed_dedup): first
    event per (user, type) per 1h tumbling window, ties broken by id —
    the batch twin of streaming dropDuplicatesWithinWatermark."""
    ev = load_tables(spark, sf_dir)["events"]
    return DD.windowed_dedup(
        ev, ["user_id", "event_type"], "ts", "1 hour", order_col="event_id"
    ).select("event_id", "user_id", "event_type", "ts")


WINDOWED_EVENT_DEDUP_SQL = """
SELECT event_id, user_id, event_type, ts FROM (
  SELECT event_id, user_id, event_type, ts,
         row_number() OVER (
           PARTITION BY time_bucket(INTERVAL '1 hour', ts), user_id, event_type
           ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality harness: per-query recall@10 of the LSH-bucketed
    index against the brute-force cosine ground truth — the evaluation
    loop every approximate index needs before it replaces exact search.

    Scale shape: both sides reuse the existing operators (broadcast query
    set, bucket-confined candidate scan); the recall join moves only the
    two top-k result sets (#queries × k rows each), never vectors.
    Output: (query_id, n_true, n_hits, recall)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.filter(F.col("vec_id") < 5)
    bf = SIM.brute_force_topk(q, emb, k=10, dim=EMBEDDING_DIM).select(
        "query_id", "neighbor_id"
    )
    lsh = SIM.lsh_topk(q, emb, k=10, nbits=ANN_LSH_NBITS, dim=EMBEDDING_DIM).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.count("hit").cast("bigint").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_true",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_true"), 6
            ).alias("recall"),
        )
    )


def _ann_recall_sql() -> str:
    rank = (
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY score DESC, neighbor_id) AS rank"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
bscored AS (
  SELECT query_id, c.vec_id AS neighbor_id, {_cos_split_sql("qv", "c.v")} AS score
  FROM q, e c WHERE query_id <> c.vec_id
),
b AS (SELECT query_id, neighbor_id FROM
      (SELECT query_id, neighbor_id, {rank} FROM bscored) WHERE rank <= 10),
eb AS (SELECT vec_id, v, {_lsh_bucket_sql("v", ANN_LSH_NBITS)} AS bucket FROM e),
ql AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < 5),
lscored AS (
  SELECT query_id, c.vec_id AS neighbor_id, {_cos_split_sql("qv", "c.v")} AS score
  FROM ql JOIN eb c ON ql.bucket = c.bucket AND ql.query_id <> c.vec_id
),
l AS (SELECT query_id, neighbor_id, 1 AS hit FROM
      (SELECT query_id, neighbor_id, {rank} FROM lscored) WHERE rank <= 10)
SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(l.hit) AS BIGINT) AS n_hits,
       round(CAST(count(l.hit) AS DOUBLE) / count(*), 6) AS recall
FROM b LEFT JOIN l ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
GROUP BY 1
"""


def leakage_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-safe train/valid/test split: the split key is the doc's
    duplicate-CLUSTER id (connected components over the MinHash-LSH
    candidate graph), so a near-duplicate can never sit in train while
    its twin sits in test — the benchmark-leakage mode a plain per-doc
    id-hash split cannot prevent.  Composition of datapipe/graph.py
    connected components + datapipe/sampling.py deterministic_split;
    whole clusters move between splits atomically by construction.

    Output: (split, n_docs, n_clusters).  The cluster labels are shared
    with dedup_clusters via the session memo, and the counts read the
    labeled table directly (one row per doc by construction — no join
    back onto documents is needed for counting)."""
    from lab_flink_repository_analytics_spark.datapipe import sampling

    labels = _dedup_cluster_labels(spark, sf_dir)
    return (
        sampling.deterministic_split(labels, "cluster_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        )
    )


def _leakage_split_sql() -> str:
    return f"""
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
FROM (
  SELECT cluster_id,
         CASE WHEN b < 8000 THEN 'train'
              WHEN b < 9000 THEN 'valid'
              ELSE 'test' END AS split
  FROM (
    SELECT cluster_id,
           ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
    FROM ({_dedup_clusters_sql()}) cl
  )
) GROUP BY 1
"""


DEDUP_EVAL_TAU = 0.5

#: eval-universe bound: the harness's exact ground truth is
#: DEFINITIONALLY quadratic in block size (that quadratic is what the
#: LSH index exists to avoid), so precision/recall is estimated on a
#: deterministic sub-universe — the lowest-doc_id prefix of each
#: (source, lang) block.  500 never binds at the graded scale factors
#: (sf0.1 blocks are 250 docs), so all graded hashes are unchanged; at
#: the 10×/100× replicas it keeps the truth computation
#: ~C(500,2)·#blocks instead of C(25k,2)·#blocks (the round-7 mid-tier
#: rehearsal measured the uncapped form 10× super-linear at sf1 and
#: effectively unbounded at sf10 — a sampled-universe estimate is the
#: statistically sound quality harness at scale).
DEDUP_EVAL_MAX_BLOCK = 500


def lsh_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-index quality harness: precision/recall of the MinHash-LSH
    candidate generator against exact token-Jaccard ≥ 0.5 ground truth,
    measured within a bounded (source, lang) blocked universe (the
    lowest-``DEDUP_EVAL_MAX_BLOCK`` doc_ids per block — see the constant
    for why exact truth must be sampled at scale).  The dedup twin of
    :func:`ann_recall_eval`.

    Scale shape: the universe cap makes truth O(#blocks · cap²)
    regardless of corpus size; candidates are the session-shared index
    output restricted to the same universe; the evaluation is one
    full-outer join of the two pair sets and a scalar rollup.  Output:
    one row (n_true, n_candidates, n_hits, prec, rec)."""
    docs_all = load_tables(spark, sf_dir)["documents"]
    wu = Window.partitionBy("source", "lang").orderBy("doc_id")
    docs = (
        docs_all.withColumn("_rn", F.row_number().over(wu))
        .filter(F.col("_rn") <= DEDUP_EVAL_MAX_BLOCK)
        .drop("_rn")
        # the cap window emits one partition per (source, lang) block —
        # spread before the truth side's tokenize + block self-join so its
        # parallelism follows the session, not the block count (measured
        # at sf0.1: run_s 1.6–2.4 s with this, 3.7–4.1 s without)
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    )
    truth = DD.ngram_jaccard_pairs(
        docs, ["source", "lang"], min_jaccard=DEDUP_EVAL_TAU
    ).select("id_a", "id_b", F.lit(1).alias("t"))
    attrs = docs.select("doc_id", "source", "lang")
    a = attrs.toDF("id_a", "sa", "la")
    b = attrs.toDF("id_b", "sb", "lb")
    # signatures are per-document and banding is pairwise, so restricting
    # the shared pairs to the universe gives the universe's own LSH pairs
    cand = (
        _near_dup_candidate_pairs(spark, sf_dir)
        .join(a, "id_a")
        .join(b, "id_b")
        .filter((F.col("sa") == F.col("sb")) & (F.col("la") == F.col("lb")))
        .select("id_a", "id_b", F.lit(1).alias("c"))
    )
    j = truth.join(cand, ["id_a", "id_b"], "full_outer")
    return (
        j.agg(
            F.count("t").cast("bigint").alias("n_true"),
            F.count("c").cast("bigint").alias("n_candidates"),
            F.count(F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            F.when(
                F.col("n_candidates") > 0,
                F.round(
                    F.col("n_hits").cast("double") / F.col("n_candidates"), 6
                ),
            ).alias("prec"),
            F.when(
                F.col("n_true") > 0,
                F.round(F.col("n_hits").cast("double") / F.col("n_true"), 6),
            ).alias("rec"),
        )
    )


def _lsh_dedup_eval_sql() -> str:
    # same bounded universe as the Spark side: lowest-doc_id prefix of
    # each (source, lang) block; the minhash/jaccard fragments are the
    # shared oracles re-rooted onto docs_u
    minhash_u = _MINHASH_RAW_SQL.replace("FROM documents", "FROM docs_u")
    jaccard_u = JACCARD_SQL.replace(
        "FROM documents l JOIN documents r", "FROM docs_u l JOIN docs_u r"
    )
    return f"""
WITH docs_u AS (
  SELECT doc_id, text, source, lang FROM (
    SELECT doc_id, text, source, lang,
           row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn <= {DEDUP_EVAL_MAX_BLOCK}
),
sigs AS ({minhash_u.strip()}),
{_BANDED_SQL},
cand0 AS (
  SELECT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.s1 = r.s1 AND l.s2 = r.s2 AND l.id < r.id
  GROUP BY 1, 2
),
cand AS (
  SELECT c.id_a, c.id_b
  FROM cand0 c
  JOIN docs_u l ON l.doc_id = c.id_a
  JOIN docs_u r ON r.doc_id = c.id_b
  WHERE l.source = r.source AND l.lang = r.lang
),
truth AS (
  SELECT id_a, id_b FROM ({jaccard_u.strip()})
  WHERE jaccard >= {DEDUP_EVAL_TAU}
),
j AS (
  SELECT t.id_a AS ta, c.id_a AS ca
  FROM truth t FULL JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
),
counts AS (
  SELECT CAST(count(ta) AS BIGINT) AS n_true,
         CAST(count(ca) AS BIGINT) AS n_candidates,
         CAST(count(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL THEN 1 END)
              AS BIGINT) AS n_hits
  FROM j
)
SELECT n_true, n_candidates, n_hits,
       CASE WHEN n_candidates > 0
            THEN round(CAST(n_hits AS DOUBLE) / n_candidates, 6) END AS prec,
       CASE WHEN n_true > 0
            THEN round(CAST(n_hits AS DOUBLE) / n_true, 6) END AS rec
FROM counts
"""


KMEANS_K, KMEANS_ITERS = 8, 2


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means as a first-class operator
    (datapipe/similarity.py::kmeans_lloyd_df): k=8, 2 iterations,
    lowest-id init, exact-decimal centroid means — deterministic enough
    that the DuckDB oracle unrolls the same two iterations in SQL."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return SIM.kmeans_lloyd_df(emb, k=KMEANS_K, iters=KMEANS_ITERS)


def _kmeans_sql() -> str:
    def assign(src: str, cents: str, out: str) -> str:
        return f"""
p_{out} AS (
  SELECT e.vec_id, e.v, c.cid, {_cos_sql("e.v", "c.cv")} AS cs
  FROM {src} e, {cents} c
), r_{out} AS (
  SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
  FROM p_{out}
), {out} AS (SELECT vec_id, v, cid FROM r_{out} WHERE rn = 1)"""

    def update(asg: str, prev: str, out: str) -> str:
        return f"""
m_{out} AS (
  SELECT cid, pos,
         round(CAST(sum(CAST(CAST(v[pos] AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
               / count(*), 6) AS m
  FROM {asg}, unnest(generate_series(1, len(v))) AS u(pos)
  GROUP BY 1, 2
), l_{out} AS (
  SELECT cid, list(m ORDER BY pos) AS cv FROM m_{out} GROUP BY 1
), {out} AS (
  -- empty clusters keep their previous centroid
  SELECT p.cid, coalesce(l.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN l_{out} l ON p.cid = l.cid
)"""

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {KMEANS_K}),
{assign("e", "c0", "a1").lstrip()},
{update("a1", "c0", "c1").lstrip()},
{assign("e", "c1", "a2").lstrip()}
SELECT vec_id, cid AS cluster_id FROM a2
"""


KMEANS_SQL = _kmeans_sql()


HARD_NEG_K = 5


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives (datapipe/similarity.py::hard_negatives):
    per query vector (vec_id < 5), the 5 most-similar DIFFERENT-label
    candidates — the near-boundary negatives a contrastive trainer mines."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return SIM.hard_negatives(
        emb.filter(F.col("vec_id") < 5), emb, k=HARD_NEG_K, dim=EMBEDDING_DIM
    )


HARD_NEG_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT query_id, c.vec_id AS neg_id, {_cos_split_sql("qv", "c.v")} AS score
  FROM q JOIN e c ON q.qlabel <> c.label
), ranked AS (
  SELECT query_id, neg_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neg_id) AS rank
  FROM scored
)
SELECT query_id, neg_id, CAST(rank AS INT) AS rank, round(score, 6) AS cos_sim
FROM ranked WHERE rank <= {HARD_NEG_K}
"""


def changelog_net_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog-mode surface (ref ListAggITCase112.java:50-62, 'I,UA,UB,D'
    values source): events replayed as an un-keyed changelog — every event
    inserts its (user, type) row, every 7th also retracts one instance —
    then materialized to the net multiset and counted."""
    from lab_flink_repository_analytics_spark import changelog as CL

    t = load_tables(spark, sf_dir)
    base = t["events"].select("user_id", "event_type", "event_id")
    adds = base.select(F.lit("+I").alias("kind"), "user_id", "event_type")
    retracts = (
        base.filter(F.col("event_id") % 7 == 0)
        .select(F.lit("-U").alias("kind"), "user_id", "event_type")
    )
    ch = adds.unionByName(retracts)
    # the count per (user, type) over the materialized multiset IS the net
    # multiplicity — materialize_multiset_counts skips the explode back to
    # changelog volume + the second aggregation pass (round-10, guide §2.4;
    # pinned ≡ explode-then-count by test_changelog.py)
    return CL.materialize_multiset_counts(ch).select(
        "user_id", "event_type", F.col("_net").alias("n")
    )


CHANGELOG_NET_SQL = """
SELECT user_id, event_type,
       CAST(count(*) - count(*) FILTER (WHERE event_id % 7 = 0) AS BIGINT) AS n
FROM events GROUP BY user_id, event_type
HAVING count(*) - count(*) FILTER (WHERE event_id % 7 = 0) > 0
"""


def changelog_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-keyed changelog surface (ref LastNonNullValueAggFunction
    ITCase.java:88-92, PRIMARY KEY upsert source): events as per-user
    upserts in event order; an 'error' event deletes the key."""
    from lab_flink_repository_analytics_spark import changelog as CL

    t = load_tables(spark, sf_dir)
    ch = t["events"].select(
        F.when(F.col("event_type") == "error", F.lit("-D"))
        .otherwise(F.lit("+U"))
        .alias("kind"),
        "user_id",
        F.col("value").alias("v"),
        F.col("event_id").alias("pos"),
    )
    return CL.materialize_upserts(ch, ["user_id"], "pos")


CHANGELOG_UPSERT_SQL = """
WITH last AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT user_id, value AS v FROM last WHERE rn = 1 AND event_type <> 'error'
"""


def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (temporal-join extension; not in the reference — the
    union+carry-forward strategy of datapipe/joins.py::asof_join): every
    purchase event picks up the user's latest view event at-or-before it.
    Oracle is DuckDB's native ASOF LEFT JOIN."""
    from lab_flink_repository_analytics_spark.datapipe.joins import asof_join

    ev = load_tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    return asof_join(
        purchases, views, on="user_id", payload=["view_value"], suffix="view_"
    ).select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        F.col("view_ts"),
        F.col("view_view_value").alias("view_value"),
    )


ASOF_PURCHASE_VIEW_SQL = """
SELECT l.event_id, l.user_id, l.ts, l.value AS purchase_value,
       r.ts AS view_ts, r.value AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def interval_click_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (Flink interval-join semantics via the bucketed
    equi-join of datapipe/joins.py::interval_count): for every error event,
    how many clicks the same user made in the preceding 10 minutes
    (left-outer — errors with no clicks count 0)."""
    from lab_flink_repository_analytics_spark.datapipe.joins import (
        interval_count,
    )

    ev = load_tables(spark, sf_dir)["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return interval_count(
        errors,
        clicks,
        on="user_id",
        lower_seconds=-600.0,
        upper_seconds=0.0,
        bucket_seconds=600.0,
        count_alias="clicks_before",
    )


INTERVAL_CLICK_CONTEXT_SQL = """
SELECT l.event_id, l.user_id, l.ts, count(r.ts) AS clicks_before
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') l
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 10 MINUTE AND r.ts <= l.ts
GROUP BY 1, 2, 3
"""


def rollup_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time-bucket rollup — GROUP BY ROLLUP(year, month) over
    order revenue in one pass (Catalyst Expand → single hash exchange
    computing all grouping sets; the hypertable continuous-aggregate
    pattern without a second scan).  grouping_id disambiguates levels."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].select(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.col("o_totalprice"),
    )
    return (
        o.rollup("y", "m")
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("orders"),
            F.grouping_id().alias("lvl"),
        )
    )


ROLLUP_ORDER_REVENUE_SQL = """
SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       count(*) AS orders,
       GROUPING(year(o_orderdate), month(o_orderdate)) AS lvl
FROM orders
GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
"""


def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark ``percentile``
    ≙ DuckDB ``quantile_cont`` — both lower+(upper-lower)·frac; rounded to
    6dp to absorb last-bit fp differences).  Exact percentile sorts within
    each group — at 100 TB the approx_percentile sketch (t-digest, fixed
    memory, mergeable map-side) is the drop-in scale path."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.95), 6).alias("p95"),
        F.round(F.percentile("value", 0.99), 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


EVENT_VALUE_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n
FROM events GROUP BY event_type
"""


def top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via ranking window — the latest 3 events per user
    (ties broken by event_id).  Single hash exchange on user_id + per-key
    sort; Spark pushes a per-partition rank limit (WindowGroupLimit) so
    the sort never materializes more than N rows per key at scale."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id", "event_type", "value")
    )


TOP_EVENTS_PER_USER_SQL = """
SELECT user_id, rn, event_id, event_type, value
FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn <= 3
"""


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot — per-user event counts fanned into one column per type,
    written as direct conditional aggregation rather than ``.pivot()``:
    with an explicit value list the built-in pivot still plans TWO hash
    exchanges (pre-agg on (key,value) + pivotfirst on key), while the
    conditional-agg form is ONE exchange with map-side partials — at
    100 TB that second shuffle is pure waste.  Oracle is the equivalent
    ANSI ``FILTER`` form."""
    ev = load_tables(spark, sf_dir)["events"]
    kinds = ["click", "error", "purchase", "signup", "view"]
    return ev.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == k, F.lit(1))).alias(k)
            for k in kinds
        ]
    )


EVENT_TYPE_PIVOT_SQL = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'error')    AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'view')     AS view
FROM events GROUP BY user_id
"""


def salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware aggregation: events has only 5 event_type keys — at
    100 TB every one of them is a hot key that would collapse onto 5
    reducers.  ``salted_count_sum`` fans each key over 32 salt buckets in
    the expensive phase and combines exact DECIMAL partials in a tiny
    phase 2; the result is bit-exact vs the plain GROUP BY (which is the
    oracle)."""
    from lab_flink_repository_analytics_spark.datapipe import skew

    ev = load_tables(spark, sf_dir)["events"]
    return skew.salted_count_sum(
        ev.select("event_type", "value"),
        ["event_type"],
        "value",
        salt_buckets=32,
        count_alias="n",
        sum_alias="total_value",
    )


SALTED_EVENT_ROLLUP_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


def _dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared duplicate-cluster labels (doc_id, cluster_id): the
    iterative CC run (one join+agg+checkpoint+checksum per round) feeds
    BOTH dedup_clusters and the leakage-safe split; session.derived_state
    replaces the concurrent-pool duplicate runs with one build, pinned by
    an eager localCheckpoint independent of persist slots."""
    from lab_flink_repository_analytics_spark.session import derived_state

    def build():
        from lab_flink_repository_analytics_spark.datapipe import graph

        docs = load_tables(spark, sf_dir)["documents"]
        pairs = _near_dup_candidate_pairs(spark, sf_dir)
        labels = graph.connected_components(
            pairs,
            src="id_a",
            dst="id_b",
            nodes=docs.select("doc_id"),
            node_col="doc_id",
        ).select(
            F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
        )
        return labels.localCheckpoint(eager=True)

    return derived_state(spark, "dedup_cluster_labels", sf_dir, build)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: connected components over the
    MinHash-LSH candidate graph (datapipe/graph.py — iterative min-label
    propagation, one join+agg per round, lineage cut per round), every
    document labeled with the min doc_id of its component (singletons
    label themselves).  Oracle: DuckDB recursive CTE computing the same
    transitive closure.  Labels shared with the leakage-safe split via
    the session memo."""
    return _dedup_cluster_labels(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE sigs AS ({_MINHASH_RAW_SQL.strip()}),
{_BANDED_SQL},
pairs AS (
  SELECT l.id AS id_a, r.id AS id_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.s1 = r.s1 AND l.s2 = r.s2 AND l.id < r.id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node
"""


def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-duplicate curation: within each near-duplicate cluster
    (the session-shared connected-component labels behind dedup_clusters)
    keep the highest-quality document — quality = type-token ratio, ties
    broken by token count then min doc_id, a total order — and report
    what pruning the rest would discard.  This is the pass a curation
    pipeline runs AFTER clustering: dedup_clusters says what is
    duplicated, this says what to keep.

    Plan: one doc_id-keyed shuffle join (labels × per-doc quality — both
    corpus-sized, never broadcast) and one cluster_id hash aggregation;
    the argmax is a struct MAX (partial/final combine, no per-cluster
    window, no sort), so a pathological million-doc cluster still
    aggregates tree-wise instead of serializing into one task's window.
    Output: (cluster_id, keep_id, n_docs, tokens_dropped)."""
    labels = _dedup_cluster_labels(spark, sf_dir)
    docs = load_tables(spark, sf_dir)["documents"]
    q = docs.select("doc_id", TX.quality_metrics("text").alias("q")).select(
        "doc_id",
        F.col("q.n_tokens").alias("n_tokens"),
        F.col("q.distinct_ratio").alias("dr"),
    )
    scored = labels.join(q, "doc_id")
    # MAX over (quality, size, -id): deterministic argmax as a plain
    # aggregate — both engines compute dr with identical operand order,
    # so the float compare is bit-identical
    best = F.max(
        F.struct(
            F.col("dr").alias("s"),
            F.col("n_tokens").alias("nt"),
            (-F.col("doc_id")).alias("neg_id"),
        )
    ).alias("best")
    return (
        scored.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("tot"), best)
        .select(
            "cluster_id",
            (-F.col("best.neg_id")).alias("keep_id"),
            "n_docs",
            (F.col("tot") - F.col("best.nt")).cast("long").alias("tokens_dropped"),
        )
    )


def _cluster_representatives_sql() -> str:
    return f"""
WITH q AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS dr
  FROM documents
), scored AS (
  SELECT cl.cluster_id, q.doc_id, q.n_tokens, q.dr
  FROM ({_dedup_clusters_sql()}) cl JOIN q USING (doc_id)
), ranked AS (
  SELECT cluster_id, doc_id, n_tokens,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY dr DESC, n_tokens DESC, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY cluster_id) AS n_docs,
         sum(n_tokens) OVER (PARTITION BY cluster_id) AS tot
  FROM scored
)
SELECT cluster_id, doc_id AS keep_id, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(tot - n_tokens AS BIGINT) AS tokens_dropped
FROM ranked WHERE rk = 1
"""


def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: ``parse_json``
    once, then typed path extraction (``variant_get``) — the shredded
    binary encoding beats per-access JSON string re-parsing
    (get_json_object) when several paths are read, and is the engine's
    answer to schemaless columns at scale.  Oracle extracts the same path
    with DuckDB's JSON functions."""
    ev = load_tables(spark, sf_dir)["events"]
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select(k.alias("k"), "user_id")
        .groupBy(F.pmod(F.col("k"), F.lit(10)).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
    )


EVENT_PROPS_VARIANT_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       count(*) AS n, count(DISTINCT user_id) AS users
FROM events GROUP BY 1
"""


def late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (TPC-H Q4 shape on this schema): orders in 1996-H1 with
    at least one line shipped >90 days after the order date, counted by
    priority.  ``left_semi`` keeps one probe row per match group — no
    duplicate explosion, no post-join dedup; plans as a shuffled hash
    semi-join (or broadcast when the build side is small)."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


LATE_ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers that never placed an URGENT-priority order,
    counted per market segment.  ``left_anti`` is the dual of the
    semi-join — same single shuffle on the key, NULL-safe by construction
    (unlike NOT IN, which a single NULL poisons)."""
    t = load_tables(spark, sf_dir)
    quiet = t["customer"].join(
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    return quiet.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("quiet_customers")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_mktsegment, count(*) AS quiet_customers
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment
"""


def train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split of documents (datapipe/sampling.py)
    counted per (split, lang).  Membership is a pure md5-bucket function
    of doc_id — stable across engines/re-shards — so the oracle recomputes
    the exact assignment in DuckDB."""
    from lab_flink_repository_analytics_spark.datapipe import sampling

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        sampling.deterministic_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


TRAIN_TEST_SPLIT_SQL = """
WITH b AS (
  SELECT lang,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
           AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'valid'
            ELSE 'test' END AS split,
       lang, count(*) AS n
FROM b GROUP BY 1, 2
"""


def funnel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY §2.E marks them absent in the reference —
    completing the built-in surface): INTERSECT finds users who both
    clicked and purchased, EXCEPT finds users who viewed but never
    purchased; both tagged and unioned.  Spark plans INTERSECT/EXCEPT as
    aggregated semi/anti joins — no quadratic set comparison."""
    ev = load_tables(spark, sf_dir)["events"]

    def users_of(kind: str) -> DataFrame:
        return ev.filter(F.col("event_type") == kind).select("user_id").distinct()

    both = (
        users_of("click")
        .intersect(users_of("purchase"))
        .select("user_id", F.lit("click_and_purchase").alias("relation"))
    )
    window_shoppers = (
        users_of("view")
        .exceptAll(users_of("purchase"))
        .select("user_id", F.lit("view_no_purchase").alias("relation"))
    )
    return both.unionByName(window_shoppers)


FUNNEL_SET_OPS_SQL = """
SELECT user_id, 'click_and_purchase' AS relation FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase'
)
UNION ALL
SELECT user_id, 'view_no_purchase' AS relation FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
)
"""


def running_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames: per-customer running spend (cumulative DECIMAL sum
    over an explicit ROWS frame), order sequence number, and gap in days
    since the previous order (lag).  One hash-partition-by-customer
    exchange feeds all three window functions — Catalyst computes them in
    a single Window operator because they share partitioning + ordering."""
    from pyspark.sql import Window

    orders = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.expr(f"CAST(o_totalprice AS {DEC})"))
        .over(wcum)
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
        F.coalesce(
            F.datediff(
                F.to_date("o_orderdate"),
                F.to_date(F.lag("o_orderdate").over(w)),
            ),
            F.lit(-1),
        ).alias("days_since_prev"),
    )


RUNNING_CUSTOMER_REVENUE_SQL = f"""
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(sum(CAST(o_totalprice AS {DEC})) OVER wcum AS DOUBLE) AS running_spend,
  row_number() OVER w AS order_seq,
  COALESCE(date_diff('day',
      CAST(lag(o_orderdate) OVER w AS DATE),
      CAST(o_orderdate AS DATE)), -1) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
  wcum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document
    (datapipe/text.py::repetition_metrics_df): top-word fraction and
    duplicate-bigram fraction.  The bigram half reads the session-shared
    doc-bigram multiplicity table also consumed by bigram_lm_scores
    (round-11): one corpus bigram explode per session instead of two."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TX.repetition_metrics_df(
        docs, doc_bi=AX._doc_bigrams(spark, sf_dir)["df"]
    )


NGRAM_REPETITION_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wc AS (
  SELECT doc_id, word, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS word FROM toks) GROUP BY 1, 2
),
ws AS (
  SELECT doc_id, max(c) AS top_word_cnt, CAST(sum(c) AS BIGINT) AS n_tokens
  FROM wc GROUP BY doc_id
),
bc AS (
  SELECT doc_id, bg, count(*) AS c
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(t) >= 2
                  THEN list_transform(generate_series(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1])
                  ELSE CAST([] AS VARCHAR[]) END) AS bg
    FROM toks
  ) GROUP BY 1, 2
),
bs AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         count(*) AS n_distinct_bigrams
  FROM bc GROUP BY doc_id
)
SELECT ws.doc_id AS doc_id, n_tokens, top_word_cnt,
  CAST(top_word_cnt AS DOUBLE) / n_tokens AS top_word_fraction,
  COALESCE(n_bigrams, 0) AS n_bigrams,
  COALESCE(n_distinct_bigrams, 0) AS n_distinct_bigrams,
  CASE WHEN COALESCE(n_bigrams, 0) > 0
       THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
       ELSE 0.0 END AS dup_bigram_fraction
FROM ws LEFT JOIN bs USING (doc_id)
"""


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination (datapipe/decontaminate.py): 5-gram overlap of every
    training document against a deterministic eval slice
    (doc_id % 97 == 0 plays the benchmark set).  The eval grams broadcast;
    the training side never shuffles its full exploded size."""
    from lab_flink_repository_analytics_spark.datapipe import decontaminate

    docs = load_tables(spark, sf_dir)["documents"]
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate.ngram_overlap(train, eval_set, n=5)


BENCHMARK_CONTAMINATION_SQL = """
WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 5
         THEN list_distinct(list_transform(generate_series(1, len(t) - 4),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                   t[i+3] || ' ' || t[i+4]))
         ELSE [text] END AS gs
  FROM toks
),
ev AS (SELECT DISTINCT unnest(gs) AS g FROM sh WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id, unnest(gs) AS g FROM sh WHERE doc_id % 97 <> 0)
SELECT tr.doc_id AS doc_id,
  count(*) AS n_grams,
  count(ev.g) AS n_contaminated,
  CAST(count(ev.g) AS DOUBLE) / count(*) AS contamination_ratio
FROM tr LEFT JOIN ev ON tr.g = ev.g
GROUP BY tr.doc_id
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (TPC-H Q17): revenue from lineitems
    whose quantity is below 20% of their part's average, per brand.  The
    correlated subquery is decorrelated by hand into a pre-aggregated
    self-join on l_partkey (exactly what Catalyst's decorrelation would
    plan) — the two lineitem branches share one scan via AQE exchange
    reuse, and the 2k-row part dim is broadcast."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    avg_q = li.groupBy("l_partkey").agg(
        (
            F.sum(F.expr(f"CAST(l_quantity AS {DEC})")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(avg_q, "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            (
                F.sum(F.expr(f"CAST(l_extendedprice AS {DEC})")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


SMALL_QUANTITY_REVENUE_SQL = f"""
SELECT p_brand,
  CAST(sum(CAST(l_extendedprice AS {DEC})) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
WHERE l1.l_quantity < (
  SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS {DEC})) AS DOUBLE) / count(*))
  FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
)
GROUP BY p_brand
"""


def sliding_window_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (HOP) windows — Flink's third window kind alongside TUMBLE
    and SESSION (the reference engine supports HOP even though its
    documented queries never use it): 1-day windows sliding every 6 hours
    over the events stream.  Spark expands each row to duration/slide = 4
    window copies before one partial+final aggregation."""
    ev = load_tables(spark, sf_dir)["events"]
    w = F.window("ts", "1 day", "6 hours")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.expr(f"CAST(value AS {DEC})")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "events",
            "total_value",
        )
    )


SLIDING_WINDOW_SQL = f"""
WITH e AS (
  SELECT event_type, value,
    make_timestamp((epoch_us(ts) // 21600000000 - k) * 21600000000)
      AS window_start
  FROM events, unnest([0, 1, 2, 3]) AS u(k)
)
SELECT window_start, window_start + INTERVAL 1 DAY AS window_end, event_type,
  count(*) AS events,
  CAST(sum(CAST(value AS {DEC})) AS DOUBLE) AS total_value
FROM e GROUP BY 1, 2, 3
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pool vector aggregation (datapipe/similarity.py::group_centroids):
    the per-label centroid of the embedding column.  Sums run in DECIMAL so
    they are exact and order-independent across any partitioning."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    # graded projection: serialize the DOUBLE[] centroid as fixed-point
    # decimal strings (to_json formats doubles differently in Spark vs
    # DuckDB — 1.0E-6 vs 0.000001 — so a decimal cast is the stable form)
    return SIM.group_centroids(emb, ["label"], dim=EMBEDDING_DIM).select(
        "label",
        F.expr(
            "array_join(transform(centroid,"
            " x -> cast(cast(x as decimal(20,6)) as string)), ',')"
        ).alias("centroid"),
        "n_vectors",
    )


LABEL_CENTROIDS_SQL = """
WITH ex AS (
  SELECT label, pos, embedding[pos] AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(pos)
),
per AS (
  SELECT label, pos,
    round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE)
          / count(*), 6) AS v,
    count(*) AS n
  FROM ex GROUP BY 1, 2
)
SELECT label,
       array_to_string(list_transform(list(v ORDER BY pos),
                       x -> CAST(x::DECIMAL(20,6) AS VARCHAR)), ',') AS centroid,
       CAST(max(n) AS BIGINT) AS n_vectors
FROM per GROUP BY label
"""


def curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation pipeline (datapipe/curation.py):
    quality → repetition → exact-dup keeper → decontamination, first
    failing rule attributed, counted per (lang, outcome)."""
    from lab_flink_repository_analytics_spark.datapipe import curation

    docs = load_tables(spark, sf_dir)["documents"]
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    return curation.curation_summary(docs, eval_set)


CURATION_SUMMARY_SQL = """
WITH toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
q AS (
  SELECT doc_id, len(t) AS n_tokens,
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_ratio
  FROM toks
),
bstat AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb, count(*) AS nd
  FROM (
    SELECT doc_id, bg, count(*) AS c
    FROM (
      SELECT doc_id,
             unnest(CASE WHEN len(t) >= 2
                    THEN list_transform(generate_series(1, len(t) - 1),
                                        i -> t[i] || ' ' || t[i+1])
                    ELSE CAST([] AS VARCHAR[]) END) AS bg
      FROM toks
    ) GROUP BY 1, 2
  ) GROUP BY doc_id
),
rep AS (
  SELECT d.doc_id,
    CASE WHEN COALESCE(nb, 0) > 0
         THEN 1.0 - CAST(nd AS DOUBLE) / nb ELSE 0.0 END AS dup_bigram_fraction
  FROM documents d LEFT JOIN bstat ON d.doc_id = bstat.doc_id
),
keeper AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
  FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 5
         THEN list_distinct(list_transform(generate_series(1, len(t) - 4),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                   t[i+3] || ' ' || t[i+4]))
         ELSE [text] END AS gs
  FROM toks
),
ev AS (SELECT DISTINCT unnest(gs) AS g FROM sh WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id, unnest(gs) AS g FROM sh WHERE doc_id % 97 <> 0),
cont AS (
  SELECT tr.doc_id, CAST(count(ev.g) AS DOUBLE) / count(*) AS contamination_ratio
  FROM tr LEFT JOIN ev ON tr.g = ev.g
  GROUP BY tr.doc_id
),
labeled AS (
  SELECT d.lang,
    CASE WHEN q.n_tokens < 5 OR q.distinct_ratio < 0.3 THEN 'quality'
         WHEN rep.dup_bigram_fraction > 0.9 THEN 'repetition'
         WHEN d.doc_id <> keeper.keep_id THEN 'duplicate'
         WHEN COALESCE(cont.contamination_ratio, 0.0) > 0.2 THEN 'contaminated'
         ELSE 'kept' END AS outcome
  FROM documents d
  JOIN q ON d.doc_id = q.doc_id
  JOIN rep ON d.doc_id = rep.doc_id
  JOIN keeper ON d.doc_id = keeper.doc_id
  LEFT JOIN cont ON d.doc_id = cont.doc_id
)
SELECT lang, outcome, count(*) AS n FROM labeled GROUP BY 1, 2
"""


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (datapipe/text.py::redact_pii / pii_counts) over
    deterministic PII-bearing text synthesized from the customer table
    (emails for everyone, phones for every 3rd key, IPs for every 4th),
    summarized per market segment.  The whole scrub is a codegen
    regexp_replace chain — no Python in the hot path."""
    c = load_tables(spark, sf_dir)["customer"]
    k = F.col("c_custkey")
    text = F.concat(
        F.lit("contact "),
        F.col("c_name"),
        F.lit(" at user"),
        k.cast("string"),
        F.lit("@corp"),
        (k % 5).cast("string"),
        F.lit(".example.com"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit(" or call +1 555 00"), (k % 100).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            k % 4 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (k % 256).cast("string"),
                F.lit("."),
                (k % 7).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    red = c.select(
        "c_mktsegment",
        TX.pii_counts(text).alias("pc"),
        TX.redact_pii(text).alias("clean"),
    )
    return red.groupBy("c_mktsegment").agg(
        F.sum("pc.n_emails").alias("emails"),
        F.sum("pc.n_phones").alias("phones"),
        F.sum("pc.n_ips").alias("ips"),
        F.count(F.when(F.col("clean").contains("<EMAIL>"), 1)).alias(
            "docs_redacted"
        ),
    )


PII_REDACTION_SQL = r"""
WITH t AS (
  SELECT c_mktsegment,
    'contact ' || c_name || ' at user' || c_custkey || '@corp' ||
    (c_custkey % 5) || '.example.com' ||
    (CASE WHEN c_custkey % 3 = 0
          THEN ' or call +1 555 00' || (c_custkey % 100) ELSE '' END) ||
    (CASE WHEN c_custkey % 4 = 0
          THEN ' from 10.0.' || (c_custkey % 256) || '.' || (c_custkey % 7)
          ELSE '' END) AS text
  FROM customer
),
m AS (
  SELECT c_mktsegment,
    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
    len(regexp_extract_all(text, '\+[0-9][0-9 ()-]{6,}[0-9]')) AS n_phones,
    len(regexp_extract_all(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
    contains(
      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '<EMAIL>') AS redacted
  FROM t
)
SELECT c_mktsegment,
  CAST(sum(n_emails) AS BIGINT) AS emails,
  CAST(sum(n_phones) AS BIGINT) AS phones,
  CAST(sum(n_ips) AS BIGINT) AS ips,
  CAST(sum(CASE WHEN redacted THEN 1 ELSE 0 END) AS BIGINT) AS docs_redacted
FROM m GROUP BY c_mktsegment
"""


def funnel_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence detection (Flink SQL offers MATCH_RECOGNIZE / CEP for
    this; the reference never uses it — we express the same ordered
    view→click→purchase pattern relationally): first view per user, first
    click strictly after it, first purchase strictly after that, plus a
    7-day completion bound.  Three shuffles on user_id; AQE reuses the
    events scan."""
    ev = load_tables(spark, sf_dir)["events"]

    def first_after(kind: str, prev: DataFrame, prev_ts: str, out_ts: str) -> DataFrame:
        carry = [c for c in prev.columns if c != "user_id"]
        return (
            ev.filter(F.col("event_type") == kind)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(
                F.min("ts").alias(out_ts),
                *[F.min(c).alias(c) for c in carry],  # constants per user
            )
        )

    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = first_after("click", views, "t_view", "t_click")
    purchases = first_after("purchase", clicks, "t_click", "t_purchase")
    staged = views.join(clicks.select("user_id", "t_click"), "user_id", "left").join(
        purchases.select(
            "user_id", "t_purchase", F.col("t_view").alias("t_first_view")
        ),
        "user_id",
        "left",
    )
    return staged.agg(
        F.count("t_view").alias("n_viewers"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
        F.count(
            F.when(
                F.col("t_purchase")
                <= F.col("t_first_view") + F.expr("INTERVAL 7 DAYS"),
                1,
            )
        ).alias("n_completed_within_7d"),
    )


FUNNEL_SEQUENCE_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click, min(v.t_view) AS t_view
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase, min(c.t_view) AS t_view
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT count(v.t_view) AS n_viewers,
  count(c.t_click) AS n_clicked_after_view,
  count(p.t_purchase) AS n_purchased_after_click,
  count(CASE WHEN p.t_purchase <= p.t_view + INTERVAL 7 DAY THEN 1 END)
    AS n_completed_within_7d
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""


def word_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (datapipe/sketches.py):
    depth×width counter grid over the token stream, point-estimated for
    every distinct word and joined against the exact count.  The grid is
    ≤ depth×width cells regardless of corpus size — the mergeable
    fixed-state answer to "how often does each token appear in 100 TB"."""
    from lab_flink_repository_analytics_spark.datapipe import sketches as SK

    from lab_flink_repository_analytics_spark.session import (
        persist_bounded,
        rebalance,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    # fold the token stream to (item, cnt) FIRST: the rollup is the exact
    # counts column anyway, doubles as the distinct probe set, and feeds
    # the sketch through cms_build_weighted — so the md5 grid hashing and
    # the persisted intermediate are vocabulary-sized, not corpus-sized
    # (cell sums are identical either way; see cms_build_weighted)
    counts = persist_bounded(
        rebalance(docs)
        .select(F.explode(F.split("text", " ")).alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt")),
        "suite.cms.counts",
    )
    sketch = SK.cms_build_weighted(counts, weight="cnt")
    est = SK.cms_estimate(sketch, counts.select("item"))
    return est.join(counts, "item").select(
        F.col("item").alias("word"), "est", "cnt"
    )


WORD_FREQ_CMS_SQL = """
WITH ex AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents),
cells AS (
  SELECT d, ('0x' || substr(md5(d || ':' || item), 1, 8))::BIGINT % 256 AS bucket,
         count(*) AS c
  FROM ex, unnest([0, 1, 2, 3]) AS u(d) GROUP BY 1, 2
),
q AS (SELECT DISTINCT item FROM ex),
probes AS (
  SELECT item, d,
         ('0x' || substr(md5(d || ':' || item), 1, 8))::BIGINT % 256 AS bucket
  FROM q, unnest([0, 1, 2, 3]) AS u(d)
),
est AS (
  SELECT item, min(COALESCE(c, 0)) AS est
  FROM probes LEFT JOIN cells USING (d, bucket) GROUP BY item
),
tru AS (SELECT item, count(*) AS cnt FROM ex GROUP BY item)
SELECT est.item AS word, est, cnt FROM est JOIN tru ON est.item = tru.item
"""


def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted data mixing (datapipe/sampling.py::weighted_sample):
    each document is kept with probability equal to its type-token ratio,
    decided by the stable id-hash — reproducible across engines/re-shards.
    Output: per-language totals vs kept counts."""
    from lab_flink_repository_analytics_spark.datapipe import sampling

    docs = load_tables(spark, sf_dir)["documents"]
    scored = docs.select(
        "doc_id", "lang", TX.quality_metrics("text").alias("q")
    ).select("doc_id", "lang", F.col("q.distinct_ratio").alias("w"))
    kept = (
        sampling.weighted_sample(scored, "doc_id", "w")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    total = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return total.join(kept, "lang", "left").select(
        "lang", "n_total", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
    )


QUALITY_WEIGHTED_SAMPLE_SQL = """
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
s AS (
  SELECT doc_id, lang,
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS w
  FROM toks
),
k AS (
  SELECT lang, count(*) AS n_kept FROM s
  WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000)
        < w * 10000
  GROUP BY lang
),
tot AS (SELECT lang, count(*) AS n_total FROM s GROUP BY lang)
SELECT tot.lang AS lang, n_total, COALESCE(n_kept, 0) AS n_kept
FROM tot LEFT JOIN k ON tot.lang = k.lang
"""


def click_purchase_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (completing the join-type surface — §2.E notes the
    reference has no two-table joins at all): per-user click totals vs
    purchase totals, keeping users who only ever did one of the two, with
    a match-status tag.  One shuffle per side on user_id; the join reuses
    that partitioning."""
    ev = load_tables(spark, sf_dir)["events"]

    def totals(kind: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == kind)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias(f"n_{alias}"),
                F.sum(F.expr(f"CAST(value AS {DEC})"))
                .cast("double")
                .alias(f"{alias}_value"),
            )
        )

    c = totals("click", "clicks")
    p = totals("purchase", "purchases")
    joined = c.join(p, "user_id", "full_outer")
    status = (
        F.when(F.col("n_clicks").isNull(), F.lit("purchase_only"))
        .when(F.col("n_purchases").isNull(), F.lit("click_only"))
        .otherwise(F.lit("both"))
    )
    return joined.select(
        "user_id",
        F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("clicks_value", F.lit(0.0)).alias("clicks_value"),
        F.coalesce("purchases_value", F.lit(0.0)).alias("purchases_value"),
        status.alias("status"),
    )


CLICK_PURCHASE_RECONCILIATION_SQL = f"""
WITH c AS (
  SELECT user_id, count(*) AS n_clicks,
         CAST(sum(CAST(value AS {DEC})) AS DOUBLE) AS clicks_value
  FROM events WHERE event_type = 'click' GROUP BY user_id
),
p AS (
  SELECT user_id, count(*) AS n_purchases,
         CAST(sum(CAST(value AS {DEC})) AS DOUBLE) AS purchases_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
  COALESCE(n_clicks, 0) AS n_clicks,
  COALESCE(n_purchases, 0) AS n_purchases,
  COALESCE(clicks_value, 0.0) AS clicks_value,
  COALESCE(purchases_value, 0.0) AS purchases_value,
  CASE WHEN c.user_id IS NULL THEN 'purchase_only'
       WHEN p.user_id IS NULL THEN 'click_only'
       ELSE 'both' END AS status
FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (datapipe/text.py::chunk_documents): 64-token
    windows every 56 tokens (8-token overlap), tail clipped.  Row-local —
    no shuffle; work is proportional to emitted chunks."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TX.chunk_documents(docs, chunk_tokens=64, overlap=8)


DOC_CHUNKS_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
ex AS (
  SELECT doc_id, t, len(t) AS n, unnest(generate_series(0, len(t) - 1, 56)) AS s
  FROM toks
)
SELECT doc_id,
  CAST(s / 56 AS INT) AS chunk_index,
  CAST(least(64, n - s) AS INT) AS n_chunk_tokens,
  array_to_string(t[s + 1 : s + 64], ' ') AS chunk
FROM ex
"""


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents (per language shard, in
    doc_id order) and cut every 256 tokens — each doc's bin is
    floor(exclusive-cumulative-token-offset / 256), the deterministic
    concat-then-split packing every trainer uses.  One window cumsum per
    shard; per-bin rollup reuses the same partitioning."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir)["documents"]
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sized = docs.select(
        "doc_id", "lang", TX.token_count("text").alias("n_tokens")
    ).withColumn("offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    binned = sized.withColumn(
        "bin", F.floor(F.col("offset") / F.lit(256)).cast("bigint")
    )
    return binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SEQUENCE_PACKING_SQL = """
WITH sized AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents
),
off AS (
  SELECT doc_id, lang, n_tokens,
    COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
  FROM sized
)
SELECT lang, CAST(floor(o / 256) AS BIGINT) AS bin,
  count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM off GROUP BY 1, 2
"""


def salted_user_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe join (datapipe/skew.py::salted_join): purchases joined to
    the customer dim through an 8-way salt fan-out (hot users spread over
    8 reducers; dim replicated 8×), rolled up per market segment.  Row-
    identical to the plain join — the oracle IS the plain join."""
    from lab_flink_repository_analytics_spark.datapipe import skew

    t = load_tables(spark, sf_dir)
    ev = t["events"].filter(F.col("event_type") == "purchase")
    cust = t["customer"].select("c_custkey", "c_mktsegment")
    j = skew.salted_join(ev, cust, "user_id", "c_custkey", salt_buckets=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("purchases"),
        F.sum(F.expr(f"CAST(value AS {DEC})")).cast("double").alias("total_value"),
    )


SALTED_USER_PURCHASES_SQL = f"""
SELECT c_mktsegment, count(*) AS purchases,
  CAST(sum(CAST(value AS {DEC})) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY c_mktsegment
"""


def value_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation (datapipe/sketches.py histogram
    family): p50/p90/p99 of event value per event_type from a 128-bin
    fixed histogram over [0, 600) — bin counts merge across shards/periods
    unlike exact percentiles."""
    from lab_flink_repository_analytics_spark.datapipe import sketches as SK

    ev = load_tables(spark, sf_dir)["events"]
    hist = SK.value_histogram(ev, "value", ["event_type"], 0.0, 600.0)
    return SK.histogram_quantiles(
        hist, ["event_type"], [0.5, 0.9, 0.99], 0.0, 600.0
    )


VALUE_QUANTILE_HIST_SQL = """
WITH h AS (
  SELECT event_type,
         least(greatest(CAST(floor((value - 0.0) / 600.0 * 128) AS BIGINT), 0), 127)
           AS bin,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, c,
    sum(c) OVER (PARTITION BY event_type ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY event_type) AS total
  FROM h
)
SELECT event_type,
  0.0 + (min(CASE WHEN cum >= 0.5 * total THEN bin END) + 1) * (600.0 / 128)
    AS p50_est,
  0.0 + (min(CASE WHEN cum >= 0.9 * total THEN bin END) + 1) * (600.0 / 128)
    AS p90_est,
  0.0 + (min(CASE WHEN cum >= 0.99 * total THEN bin END) + 1) * (600.0 / 128)
    AS p99_est
FROM cum GROUP BY event_type
"""


def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection (median + MAD, the data-cleaning standard
    immune to the outliers it hunts): per event_type, values farther than
    3×1.4826×MAD from the median are flagged; output is count + share.
    Two exact-percentile passes over one scan; both medians broadcast back
    onto the rows."""
    ev = load_tables(spark, sf_dir)["events"]
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = (
        with_med.select("event_type", F.abs(F.col("value") - F.col("med")).alias("dev"))
        .groupBy("event_type")
        .agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    )
    flagged = with_med.join(F.broadcast(mad), "event_type").select(
        "event_type",
        (
            F.abs(F.col("value") - F.col("med"))
            > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
        ).alias("is_outlier"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).alias("n_outliers"),
        (
            F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("outlier_share"),
    )


VALUE_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY 1
),
flagged AS (
  SELECT e.event_type,
         abs(e.value - m.med) > 3.0 * 1.4826 * d.mad AS is_outlier
  FROM events e
  JOIN med m ON e.event_type = m.event_type
  JOIN mad d ON e.event_type = d.event_type
)
SELECT event_type, count(*) AS n,
  CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
    AS outlier_share
FROM flagged GROUP BY event_type
"""


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (non-hierarchical combos — rollup's general
    form), exercised through the ``spark.sql`` surface over the registered
    views: totals by priority, by status, and grand total in ONE pass —
    Catalyst plans a single Expand + one aggregation, not three scans.
    ``grouping()`` flags disambiguate real NULLs from subtotal rows."""
    # table loading is lazy per-table: touch `orders` so its view exists
    load_tables(spark, sf_dir)["orders"]
    return spark.sql(
        f"""
        SELECT o_orderpriority, o_orderstatus,
               grouping(o_orderpriority) AS g_priority,
               grouping(o_orderstatus) AS g_status,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


GROUPING_SETS_ORDERS_SQL = f"""
SELECT o_orderpriority, o_orderstatus,
       grouping(o_orderpriority) AS g_priority,
       grouping(o_orderstatus) AS g_status,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


# ---------------------------------------------------------------------------
# registry

#: The driver grades exactly the FIRST 50 entries of ``queries()``.  Every
#: reference-parity operator from SURVEY.md §2 must keep its graded surface
#: inside that window — extensions may only occupy what's left.  Pinned by
#: tests/test_suite_plan_audit.py::test_graded_prefix_covers_section2.
GRADED_WINDOW = 50
SECTION2_PARITY: frozenset[str] = frozenset(
    {
        # §2.C DataStream pipeline + §2.D scalar/table functions
        "commit_activity",        # ComponentExtractor/keyBy/timeWindow/agg
        "jira_tickets",           # IsJiraTicket/GetJiraTicketAction/Components
        "jira_authors",           # GetJiraTicketNumber/GetJiraTicketFrom
        "normalized_threads",     # NormalizeEmailThread
        "expanded_ticket_components",  # ExpandJiraTicketComponents (lateral)
        "repeated_labels",        # ArrayRepeat + CROSS JOIN UNNEST
        "obfuscated_users",       # Obfuscate
        "aliases_company",        # GetEmailAliasesAndCompany
        # §2.D aggregate functions
        "nations_per_region",     # ArrayListAgg / LISTAGG(DISTINCT)
        "last_event_value",       # LastNonNullValueAgg
        "last_props_array",       # LastValueStringArrayAgg
        "largest_doc_tokens",     # LargestStringArrayAgg
        # §2.E built-in SQL surface
        "users_per_day",          # 1d tumbling window
        "event_type_activity",    # 30d tumbling window
        "quiet_sessions",         # session windows + SESSION_END + HAVING
        "word_counts",            # CROSS JOIN UNNEST
        "event_json_props",       # JSON access
        "changelog_upsert_state",  # PK upsert source
        "changelog_net_counts",   # changelog modes / RowKind netting
    }
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "top_brands_by_revenue": top_brands_by_revenue,
        "users_per_day": users_per_day,
        "quiet_sessions": quiet_sessions,
        "event_type_activity": event_type_activity,
        "event_json_props": event_json_props,
        "last_event_value": last_event_value,
        "nations_per_region": nations_per_region,
        "commit_activity": commit_activity,
        "jira_tickets": jira_tickets,
        "jira_authors": jira_authors,
        "expanded_ticket_components": expanded_ticket_components,
        "aliases_company": aliases_company,
        "obfuscated_users": obfuscated_users,
        "normalized_threads": normalized_threads,
        "repeated_labels": repeated_labels,
        "dedup_exact": dedup_exact,
        "word_counts": word_counts,
        "text_quality": text_quality,
        "lang_id": lang_id,
        "doc_fingerprints": doc_fingerprints,
        "minhash_signatures": minhash_signatures,
        "near_dup_pairs": near_dup_pairs,
        "near_dup_source_matrix": near_dup_source_matrix,
        "simhash_fingerprints": simhash_fingerprints,
        "jaccard_blocked_pairs": jaccard_blocked_pairs,
        "ann_cosine_topk": ann_cosine_topk,
        "largest_doc_tokens": largest_doc_tokens,
        "last_props_array": last_props_array,
        "embedding_near_dup": embedding_near_dup,
        "ann_lsh_topk": ann_lsh_topk,
        "changelog_net_counts": changelog_net_counts,
        "changelog_upsert_state": changelog_upsert_state,
        "asof_purchase_view": asof_purchase_view,
        "interval_click_context": interval_click_context,
        "rollup_order_revenue": rollup_order_revenue,
        "event_value_percentiles": event_value_percentiles,
        "top_events_per_user": top_events_per_user,
        "event_type_pivot": event_type_pivot,
        "salted_event_rollup": salted_event_rollup,
        "dedup_clusters": dedup_clusters,
        "cluster_representatives": cluster_representatives,
        "event_props_variant": event_props_variant,
        "late_order_priority": late_order_priority,
        "customers_without_orders": customers_without_orders,
        "train_test_split_counts": train_test_split_counts,
        "funnel_set_ops": funnel_set_ops,
        "subword_token_counts": subword_token_counts,
        "winnowing_fingerprints": winnowing_fingerprints,
        "ann_ivf_topk": ann_ivf_topk,
        "running_customer_revenue": running_customer_revenue,
        "ngram_repetition": ngram_repetition,
        "benchmark_contamination": benchmark_contamination,
        "small_quantity_revenue": small_quantity_revenue,
        "sliding_window_activity": sliding_window_activity,
        "label_centroids": label_centroids,
        "curation_summary": curation_summary,
        "pii_redaction": pii_redaction,
        "funnel_sequence": funnel_sequence,
        "word_freq_cms": word_freq_cms,
        "quality_weighted_sample": quality_weighted_sample,
        "click_purchase_reconciliation": click_purchase_reconciliation,
        "doc_chunks": doc_chunks,
        "sequence_packing": sequence_packing,
        "salted_user_purchases": salted_user_purchases,
        "value_quantile_hist": value_quantile_hist,
        "value_outliers": value_outliers,
        "grouping_sets_orders": grouping_sets_orders,
        "semantic_dedup": semantic_dedup,
        "hard_negative_mining": hard_negative_mining,
        "kmeans_clusters": kmeans_clusters,
        "embedding_covariance": embedding_covariance,
        "label_redundancy": label_redundancy,
        "windowed_event_dedup": windowed_event_dedup,
        "ann_recall_eval": ann_recall_eval,
        "leakage_safe_split_counts": leakage_safe_split_counts,
        "lsh_dedup_eval": lsh_dedup_eval,
        **TPCH.QUERIES,
        **AX.QUERIES,
    }


#: oracles NOT rewritten by :func:`_materialize_ctes` — DuckDB disallows
#: the MATERIALIZED hint inside WITH RECURSIVE lists, and a SQL-standard
#: ``WINDOW w AS (...)`` clause matches the same ``name AS (`` shape
_NO_CTE_MATERIALIZE = {
    "cluster_representatives",
    "dedup_clusters",
    "leakage_safe_split_counts",
    "month_spine_revenue",
    "running_customer_revenue",
    "user_value_streaks",
}

_CTE_DEF_RE = None


def _materialize_ctes(name: str, sql: str) -> str:
    """Add DuckDB's ``AS MATERIALIZED`` hint to every CTE definition.

    Purely an evaluation-strategy hint — results are identical.  Without
    it DuckDB 1.0 INLINES every CTE reference, so the unrolled iterative
    oracles (PageRank pr0→pr3, BPE rounds r0→r3) whose levels each
    reference the previous level twice re-evaluate the base subtree
    2^depth times: invisible at the driver's sf0.01, but the sf1 scale
    replica turned the pagerank oracle from 39 s (materialized) into
    hours (inlined).  The hint keeps the oracle cost linear in the CTE
    chain, which is what the handwritten SQL visually promises.
    """
    global _CTE_DEF_RE
    if name in _NO_CTE_MATERIALIZE or "MATERIALIZED" in sql:
        return sql
    if _CTE_DEF_RE is None:
        import re

        _CTE_DEF_RE = re.compile(r"\b(\w+)(\s+AS\s*\()", re.IGNORECASE)
    return _CTE_DEF_RE.sub(lambda m: m.group(1) + " AS MATERIALIZED (", sql)


def oracle_sql() -> dict[str, str]:
    raw = _oracle_sql_raw()
    return {k: _materialize_ctes(k, v) for k, v in raw.items()}


def _oracle_sql_raw() -> dict[str, str]:
    return {
        "q1_pricing_summary": Q1_SQL,
        "q3_shipping_priority": Q3_SQL,
        "q5_local_supplier_volume": Q5_SQL,
        "top_brands_by_revenue": TOP_BRANDS_SQL,
        "users_per_day": USERS_PER_DAY_SQL,
        "quiet_sessions": QUIET_SESSIONS_SQL,
        "event_type_activity": EVENT_TYPE_ACTIVITY_SQL,
        "event_json_props": EVENT_JSON_SQL,
        "last_event_value": LAST_EVENT_VALUE_SQL,
        "nations_per_region": NATIONS_PER_REGION_SQL,
        "commit_activity": COMMIT_ACTIVITY_SQL,
        "jira_tickets": JIRA_TICKETS_SQL,
        "jira_authors": JIRA_AUTHORS_SQL,
        "expanded_ticket_components": EXPANDED_TICKET_COMPONENTS_SQL,
        "aliases_company": ALIASES_COMPANY_SQL,
        "obfuscated_users": OBFUSCATED_USERS_SQL,
        "normalized_threads": NORMALIZED_THREADS_SQL,
        "repeated_labels": REPEATED_LABELS_SQL,
        "dedup_exact": DEDUP_EXACT_SQL,
        "word_counts": WORD_COUNTS_SQL,
        "text_quality": TEXT_QUALITY_SQL,
        "lang_id": LANG_ID_SQL,
        "doc_fingerprints": DOC_FINGERPRINTS_SQL,
        "minhash_signatures": MINHASH_SQL,
        "near_dup_pairs": NEAR_DUP_SQL,
        "near_dup_source_matrix": NEAR_DUP_SOURCE_MATRIX_SQL,
        "simhash_fingerprints": SIMHASH_SQL,
        "jaccard_blocked_pairs": JACCARD_SQL,
        "ann_cosine_topk": ANN_SQL,
        "largest_doc_tokens": LARGEST_DOC_TOKENS_SQL,
        "last_props_array": LAST_PROPS_ARRAY_SQL,
        "embedding_near_dup": EMBEDDING_NEAR_DUP_SQL,
        "ann_lsh_topk": ANN_LSH_SQL,
        "changelog_net_counts": CHANGELOG_NET_SQL,
        "changelog_upsert_state": CHANGELOG_UPSERT_SQL,
        "asof_purchase_view": ASOF_PURCHASE_VIEW_SQL,
        "interval_click_context": INTERVAL_CLICK_CONTEXT_SQL,
        "rollup_order_revenue": ROLLUP_ORDER_REVENUE_SQL,
        "event_value_percentiles": EVENT_VALUE_PERCENTILES_SQL,
        "top_events_per_user": TOP_EVENTS_PER_USER_SQL,
        "event_type_pivot": EVENT_TYPE_PIVOT_SQL,
        "salted_event_rollup": SALTED_EVENT_ROLLUP_SQL,
        "dedup_clusters": _dedup_clusters_sql(),
        "cluster_representatives": _cluster_representatives_sql(),
        "event_props_variant": EVENT_PROPS_VARIANT_SQL,
        "late_order_priority": LATE_ORDER_PRIORITY_SQL,
        "customers_without_orders": CUSTOMERS_WITHOUT_ORDERS_SQL,
        "train_test_split_counts": TRAIN_TEST_SPLIT_SQL,
        "funnel_set_ops": FUNNEL_SET_OPS_SQL,
        "subword_token_counts": SUBWORD_TOKEN_SQL,
        "winnowing_fingerprints": WINNOWING_SQL,
        "ann_ivf_topk": ANN_IVF_SQL,
        "running_customer_revenue": RUNNING_CUSTOMER_REVENUE_SQL,
        "ngram_repetition": NGRAM_REPETITION_SQL,
        "benchmark_contamination": BENCHMARK_CONTAMINATION_SQL,
        "small_quantity_revenue": SMALL_QUANTITY_REVENUE_SQL,
        "sliding_window_activity": SLIDING_WINDOW_SQL,
        "label_centroids": LABEL_CENTROIDS_SQL,
        "curation_summary": CURATION_SUMMARY_SQL,
        "pii_redaction": PII_REDACTION_SQL,
        "funnel_sequence": FUNNEL_SEQUENCE_SQL,
        "word_freq_cms": WORD_FREQ_CMS_SQL,
        "quality_weighted_sample": QUALITY_WEIGHTED_SAMPLE_SQL,
        "click_purchase_reconciliation": CLICK_PURCHASE_RECONCILIATION_SQL,
        "doc_chunks": DOC_CHUNKS_SQL,
        "sequence_packing": SEQUENCE_PACKING_SQL,
        "salted_user_purchases": SALTED_USER_PURCHASES_SQL,
        "value_quantile_hist": VALUE_QUANTILE_HIST_SQL,
        "value_outliers": VALUE_OUTLIERS_SQL,
        "grouping_sets_orders": GROUPING_SETS_ORDERS_SQL,
        "semantic_dedup": SEMDEDUP_SQL,
        "hard_negative_mining": HARD_NEG_SQL,
        "kmeans_clusters": KMEANS_SQL,
        "embedding_covariance": EMBEDDING_COVARIANCE_SQL,
        "label_redundancy": LABEL_REDUNDANCY_SQL,
        "windowed_event_dedup": WINDOWED_EVENT_DEDUP_SQL,
        "ann_recall_eval": _ann_recall_sql(),
        "leakage_safe_split_counts": _leakage_split_sql(),
        "lsh_dedup_eval": _lsh_dedup_eval_sql(),
        **TPCH.ORACLES,
        **AX.ORACLES,
    }

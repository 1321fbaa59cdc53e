"""Temporal joins the reference engine lacks: as-of join and interval
(range) join, built as shuffle-friendly compositions of DataFrame ops.

The naive formulation of both is a non-equi join — Catalyst can only run
that as BroadcastNestedLoopJoin, which is O(|L|·|R|) and falls over at
scale.  Both operators here reduce to ONE hash exchange on the join key:

- ``asof_join``: union the probe and build sides, then one window pass per
  key carries the latest build row forward (``last(..., ignorenulls)`` over
  rows-unbounded-preceding).  No row amplification, no range explosion; a
  skewed key degrades to an external sort within its partition, never a
  cross product.  This is the standard log-structured as-of strategy
  (kdb/Pandas ``merge_asof`` semantics, DuckDB ``ASOF JOIN`` semantics).
- ``interval_count``: bucketize time; the probe side explodes to the
  ceil(window/bucket)+1 buckets its interval covers, the build side keeps
  its single home bucket, and the join becomes an equi-join on
  (key, bucket) + an exact residual filter.  Each qualifying (probe, build)
  pair appears exactly once (the build row has one home bucket), so no
  dedup pass is needed.  Amplification is bounded and chosen via
  ``bucket_seconds`` — the Flink interval-join / Spark range-join-hint
  trade-off, expressed with plain operators.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_time: str = "ts",
    right_time: str = "ts",
    payload: Sequence[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "r_",
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the latest right row with
    ``right.time <= left.time`` and equal key(s) (backward as-of; ties
    match — DuckDB ``ASOF LEFT JOIN ... ON l.k = r.k AND l.t >= r.t``).
    ``direction='forward'`` instead attaches the EARLIEST right row with
    ``right.time >= left.time`` (same single-exchange plan, mirrored
    ordering); ``'nearest'`` runs both and keeps the smaller time gap
    (ties prefer the backward match, like Pandas ``merge_asof``).

    Left rows keep all their columns; the matched right payload columns are
    appended as ``{suffix}{col}`` plus ``{suffix}{right_time}`` (all NULL
    when no right row qualifies).  ``tolerance_seconds`` additionally
    nulls matches older than the given horizon, like Pandas
    ``merge_asof(tolerance=...)``.

    Plan shape: Union → single hashpartitioning(key) Exchange → per-key
    sort → Window → Filter.  No build-side broadcast requirement, no
    nested-loop join, no row amplification.
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = list(payload) if payload is not None else [
        c for c in right.columns if c not in keys and c != right_time
    ]

    pay_struct = F.struct(
        F.col(right_time).alias("__rt"),
        *[F.col(c).alias(c) for c in payload],
    )
    r2 = right.select(
        *[F.col(k) for k in keys],
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        pay_struct.alias("__p"),
    )
    pay_type = r2.schema["__p"].dataType
    l2 = left.select(
        *[F.col(k) for k in keys],
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(pay_type).alias("__p"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__row"),
    )
    r2 = r2.withColumn("__row", F.lit(None).cast(l2.schema["__row"].dataType))

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction: {direction!r}")

    # right rows sort before left rows at equal timestamps → ties match in
    # both directions.  Backward scans time ascending carrying the newest
    # right row seen; forward scans descending carrying the earliest
    # right row ≥ the current position.  Same exchange either way.
    unioned = l2.unionByName(r2)
    frame = (Window.unboundedPreceding, Window.currentRow)
    wb = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").asc(), F.col("__side"))
        .rowsBetween(*frame)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").desc(), F.col("__side"))
        .rowsBetween(*frame)
    )

    def _within_tol(m, gap):
        if tolerance_seconds is None:
            return m
        return F.when(gap <= F.lit(float(tolerance_seconds)), m)

    lt = F.col("__t").cast("double")
    if direction in ("backward", "nearest"):
        unioned = unioned.withColumn("__mb", F.last("__p", ignorenulls=True).over(wb))
    if direction in ("forward", "nearest"):
        unioned = unioned.withColumn("__mf", F.last("__p", ignorenulls=True).over(wf))
    carried = unioned.filter(F.col("__side") == 1)

    if direction == "backward":
        m = _within_tol(F.col("__mb"), lt - F.col("__mb.__rt").cast("double"))
    elif direction == "forward":
        m = _within_tol(F.col("__mf"), F.col("__mf.__rt").cast("double") - lt)
    else:
        gap_b = lt - F.col("__mb.__rt").cast("double")
        gap_f = F.col("__mf.__rt").cast("double") - lt
        mb = _within_tol(F.col("__mb"), gap_b)
        mf = _within_tol(F.col("__mf"), gap_f)
        # ties prefer the backward match (Pandas merge_asof convention)
        m = (
            F.when(mb.isNull(), mf)
            .when(mf.isNull(), mb)
            .when(gap_b <= gap_f, mb)
            .otherwise(mf)
        )
    carried = carried.withColumn("__m", m)
    return carried.select(
        F.col("__row.*"),
        F.col("__m.__rt").alias(f"{suffix}{right_time}"),
        *[F.col(f"__m.{c}").alias(f"{suffix}{c}") for c in payload],
    )


def interval_count(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_time: str = "ts",
    right_time: str = "ts",
    lower_seconds: float = 0.0,
    upper_seconds: float = 0.0,
    bucket_seconds: float = 600.0,
    count_alias: str = "matches",
) -> DataFrame:
    """Per LEFT row, the number of right rows with
    ``left.t + lower <= right.t <= left.t + upper`` and equal key(s) —
    left-outer semantics (rows with no match keep count 0).

    A bucketed left equi-join + ``count(right_time)`` grouped by the left
    row: exploded copies that miss contribute NULLs which ``count``
    ignores, so no collapse pass is needed and every original left row
    yields exactly one output row.
    """
    keys = [on] if isinstance(on, str) else list(on)
    lt = F.col(left_time).cast("double")
    l2 = left.withColumn(
        "__lb",
        F.explode(
            F.sequence(
                F.floor((lt + F.lit(lower_seconds)) / bucket_seconds),
                F.floor((lt + F.lit(upper_seconds)) / bucket_seconds),
            )
        ),
    )
    r2 = right.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.floor(F.col(right_time).cast("double") / bucket_seconds).alias(
            "__rb"
        ),
        F.col(right_time).alias("__rt"),
    )
    cond = F.col("__lb") == F.col("__rb")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__k_{k}"))
    rt = F.col("__rt").cast("double")
    residual = (rt >= lt + F.lit(lower_seconds)) & (rt <= lt + F.lit(upper_seconds))
    pairs = l2.join(r2, cond & residual, "left")
    return pairs.groupBy(*[F.col(c) for c in left.columns]).agg(
        F.count(F.col("__rt")).alias(count_alias)
    )


def scd2_intervals(
    dim: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Materialize a slowly-changing-dimension (SCD type 2) table from a
    per-key change stream: each version row gains ``[valid_from,
    valid_to)`` with ``valid_to = next version's timestamp`` (NULL = still
    current).  The Flink analog is the versioned table behind ``FOR
    SYSTEM_TIME AS OF`` temporal joins; the batch artifact is the standard
    warehouse SCD2 dimension.

    One key-partitioned window (lead) — no global sort, no shuffle beyond
    the key exchange.  Joining facts then needs only an equi-join on the
    key plus the range residual (see :func:`temporal_join`), or
    :func:`asof_join` when the dimension never deletes.
    """
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col))
    return dim.withColumn(valid_from, F.col(ts_col)).withColumn(
        valid_to, F.lead(ts_col).over(w)
    )


def temporal_join(
    facts: DataFrame,
    dim_scd2: DataFrame,
    on: str | Sequence[str],
    fact_time: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Join each fact row to the dimension version valid at its event time
    (``FOR SYSTEM_TIME AS OF fact.ts``): equi-join on the key + the
    validity-range residual ``valid_from <= t < coalesce(valid_to, ∞)``.
    Inner semantics — facts before the key's first version (or with no
    key) drop out; use :func:`asof_join` for the left-preserving variant.

    By construction a fact matches AT MOST ONE version (intervals per key
    are disjoint), so no dedup pass.  The join is keyed — one hash
    exchange per side; per-key amplification is the key's version count
    (bounded by change frequency, not data volume).
    """
    on = [on] if isinstance(on, str) else list(on)
    t = F.col(fact_time)
    cond = (t >= F.col(valid_from)) & (
        F.col(valid_to).isNull() | (t < F.col(valid_to))
    )
    return facts.join(dim_scd2, on=on, how="inner").filter(cond)

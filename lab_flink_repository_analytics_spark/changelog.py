"""Changelog / retraction materialization (SURVEY.md §7 hard-part 1).

The reference's sources can be declared ``'changelog-mode' = 'I,UA,UB,D'``
(ListAggITCase112.java:50-62) and its aggregates implement ``retract()``;
Flink's planner then emits retraction streams.  Spark batch has no row
kinds — the engine-level equivalence chosen here is **final-state**: a
changelog is first materialized to its net row set, then any query runs on
that (what the reference's tests net out to after folding their asserted
UB/UA/D sequences).

Two materializations cover the reference's two source declarations:

* :func:`materialize_multiset` — un-keyed changelog (the values-connector
  case): ``+1`` for I/UA, ``-1`` for UB/D per row *value*; rows with
  positive net count survive with that multiplicity.  One hash aggregation
  on the value columns — shuffle ∝ distinct rows, scale-safe.
* :func:`materialize_upserts` — primary-keyed changelog
  (LastNonNullValueAggFunctionITCase.java:88-92, ``PRIMARY KEY (f0)``):
  last row per key in changelog order wins; keys whose last kind is D
  disappear.  ``max_by`` per key — O(1) state per key.

Streaming note: the live equivalent is output-mode ``update``/``complete``
(Spark emits upserts, not retractions; ``streaming/jobs.py`` upserts its
windowed state by key); these batch materializations exist so
changelog-shaped inputs can be replayed and cross-checked against
final-state oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Flink RowKind short strings as they appear in changelog dumps.
INSERT, UPDATE_BEFORE, UPDATE_AFTER, DELETE = "+I", "-U", "+U", "-D"

#: hard input bound for :func:`replay_changelog` — the prefix-replay
#: parity mode collects every step's delta driver-side and must never be
#: reached on production-sized data by accident (ITCase fixtures are
#: tens of rows; 10k leaves generous headroom while staying far under
#: anything data-scale)
MAX_REPLAY_ROWS = 10_000

_ADDS = (INSERT, UPDATE_AFTER, "I", "UA")
_RETRACTS = (UPDATE_BEFORE, DELETE, "U", "UB", "D")


def _sign(kind_col: F.Column) -> F.Column:
    return (
        F.when(kind_col.isin(*_ADDS), F.lit(1))
        .when(kind_col.isin(*_RETRACTS), F.lit(-1))
        .otherwise(F.lit(0))
    )


def materialize_multiset(df: DataFrame, kind_col: str = "kind") -> DataFrame:
    """Net row multiset of an un-keyed changelog.

    Each surviving row value is emitted ``count(adds) - count(retracts)``
    times (0 or negative → dropped, matching Flink's multiset retraction).
    """
    value_cols = [c for c in df.columns if c != kind_col]
    net = materialize_multiset_counts(df, kind_col)
    return net.select(
        *value_cols,
        F.explode(F.array_repeat(F.lit(1), F.col("_net").cast("int"))).alias("_i"),
    ).drop("_i")


def materialize_multiset_counts(
    df: DataFrame, kind_col: str = "kind"
) -> DataFrame:
    """Net multiset of an un-keyed changelog as ``(value_cols..., _net)``
    — the multiplicity column instead of exploded rows.

    Equivalent to counting :func:`materialize_multiset` grouped by the
    value columns (``_net`` IS that count), minus the explode that
    amplifies back to changelog volume and the second aggregation pass
    that re-collapses it.  Use it whenever the consumer re-groups by the
    full value tuple; keep :func:`materialize_multiset` when downstream
    needs actual rows (joins, projections, per-row scoring).

    ``_net`` is a RESERVED output column name: a changelog whose value
    columns already include ``_net`` would collide with the multiplicity
    alias (ambiguous column), so it is rejected up front.
    """
    value_cols = [c for c in df.columns if c != kind_col]
    if "_net" in value_cols:
        raise ValueError(
            "materialize_multiset_counts: '_net' is reserved for the "
            "multiplicity column; rename the input column"
        )
    return (
        df.groupBy(*value_cols)
        .agg(F.sum(_sign(F.col(kind_col))).alias("_net"))
        .filter(F.col("_net") > 0)
    )


def materialize_upserts(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    kind_col: str = "kind",
) -> DataFrame:
    """Final state of a primary-keyed changelog: last row per key wins,
    keys ending in DELETE vanish.  ``order_col`` is the changelog position
    (offset / ingest sequence) — batch's explicit stand-in for arrival
    order, per the engine's determinism rule (SURVEY.md §7.2).
    """
    value_cols = [c for c in df.columns if c not in (kind_col, order_col)]
    last = df.groupBy(*key_cols).agg(
        F.max_by(
            F.struct(F.col(kind_col).alias("k"), *[F.col(c) for c in value_cols if c not in key_cols]),
            F.col(order_col),
        ).alias("_last")
    )
    alive = last.filter(~F.col("_last.k").isin(DELETE, "D"))
    return alive.select(
        *key_cols,
        *[F.col(f"_last.{c}").alias(c) for c in value_cols if c not in key_cols],
    )


# ---------------------------------------------------------------------------
# RowKind emission (changelog parity / debug mode)
#
# The reference's ITCases assert the EMITTED changelog of a continuous
# aggregate, not just its final state (ListAggITCase112.java:85-97 asserts
# the +I/-D/-U/+U sequence).  Flink's planner derives those kinds from keyed
# state transitions; the Spark-side equivalent is a state DIFF between two
# materializations of the same keyed query:
#
#   key only in new            → +I new-row
#   key only in prev           → -D prev-row
#   key in both, value changed → -U prev-row, +U new-row
#
# `replay_changelog` folds a changelog input prefix-by-prefix through a
# query and concatenates the per-step diffs — exactly Flink's emission for
# a parallelism-1 continuous query.  It is a PARITY/DEBUG mode: O(steps)
# query materializations with a driver-side loop over step boundaries.  The
# per-step diff itself is one full-outer hash join on the group key —
# distributed and scale-safe — so diffing two production snapshots
# (yesterday's vs today's rollup) at 100 TB is fine; only the
# row-at-a-time *replay* is test-sized by construction.


def changelog_deltas(
    prev: DataFrame | None, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """RowKind delta rows turning keyed state ``prev`` into ``new``.

    Output = ``kind`` (+I/-D/-U/+U) followed by the input columns.  With
    ``prev=None`` every row of ``new`` is ``+I`` (first emission).
    """
    value_cols = [c for c in new.columns if c not in key_cols]
    if prev is None:
        # same (kind, *key_cols, *value_cols) order as the diff branch —
        # callers consuming positional tuples (replay_changelog) must see
        # one stable column order across every emission
        return new.select(F.lit(INSERT).alias("kind"), *key_cols, *value_cols)
    p = prev.select(*key_cols, F.struct(*value_cols).alias("_pv"))
    n = new.select(*key_cols, F.struct(*value_cols).alias("_nv"))
    j = p.join(n, on=list(key_cols), how="full_outer")
    empty = F.array().cast(
        "array<struct<kind:string,v:struct<"
        + ",".join(f"{c}:{new.schema[c].dataType.simpleString()}" for c in value_cols)
        + ">>>"
    )
    deltas = (
        F.when(
            F.col("_pv").isNull(),
            F.array(F.struct(F.lit(INSERT).alias("kind"), F.col("_nv").alias("v"))),
        )
        .when(
            F.col("_nv").isNull(),
            F.array(F.struct(F.lit(DELETE).alias("kind"), F.col("_pv").alias("v"))),
        )
        .when(
            ~F.col("_pv").eqNullSafe(F.col("_nv")),
            F.array(
                F.struct(F.lit(UPDATE_BEFORE).alias("kind"), F.col("_pv").alias("v")),
                F.struct(F.lit(UPDATE_AFTER).alias("kind"), F.col("_nv").alias("v")),
            ),
        )
        .otherwise(empty)
    )
    out = j.select(*key_cols, F.explode(deltas).alias("_d"))
    return out.select(
        F.col("_d.kind").alias("kind"),
        *key_cols,
        *[F.col(f"_d.v.{c}").alias(c) for c in value_cols],
    )


def replay_changelog(
    df: DataFrame,
    query_fn,
    key_cols: list[str],
    order_col: str = "pos",
    batch_size: int = 1,
) -> list[tuple[str, tuple]]:
    """Replay a changelog input through ``query_fn`` and return the emitted
    RowKind stream — the engine's parity mode for the reference's ITCase
    fixtures (ListAggITCase112.java:70-109 asserts these exact sequences).

    ``df`` must carry ``order_col`` (changelog position); ``query_fn``
    maps an input-prefix DataFrame → keyed result DataFrame.  Returns
    ``[(kind, row_tuple), ...]`` in emission order (order within one step's
    diff is unspecified, matching the reference's containsInAnyOrder).

    DEBUG/PARITY MODE ONLY — this replays the input prefix-by-prefix and
    collects every step's delta to the driver, which is O(steps × result)
    driver work by construction.  A hard input bound (``MAX_REPLAY_ROWS``)
    makes reaching it on production-sized data an immediate error instead
    of a silent driver melt; the at-scale changelog path is
    :func:`changelog_deltas` + ``io.sinks.apply_changelog``, which stay
    distributed end to end.
    """
    n_in = df.count()
    if n_in > MAX_REPLAY_ROWS:
        raise ValueError(
            f"replay_changelog is an ITCase-parity/debug mode: input has "
            f"{n_in} rows > MAX_REPLAY_ROWS={MAX_REPLAY_ROWS}. Use "
            "changelog_deltas/apply_changelog for production-sized data."
        )
    positions = sorted(
        r[0] for r in df.select(order_col).distinct().collect()
    )
    steps = [
        positions[i + batch_size - 1] if i + batch_size - 1 < len(positions) else positions[-1]
        for i in range(0, len(positions), batch_size)
    ]
    prev = None
    emitted: list[tuple[str, tuple]] = []
    for end in steps:
        cur = query_fn(df.filter(F.col(order_col) <= F.lit(end)))
        delta = changelog_deltas(prev, cur, key_cols)
        for r in delta.collect():
            emitted.append((r["kind"], tuple(r)[1:]))
        # cache the frontier so the next diff doesn't recompute it twice
        prev = cur.localCheckpoint(eager=True)
    return emitted

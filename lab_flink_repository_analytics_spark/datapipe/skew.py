"""Skew-aware aggregation: salted two-phase groupBy.

A hot grouping key concentrates its entire input on one reducer — the
classic cause of the one-straggler-task stage at 100 TB.  AQE's skew-join
splitting fixes skewed JOINS but a skewed AGGREGATION key still lands on
one partition after the exchange.  The fix is salting: aggregate on
(key, salt) first so the hot key fans out over ``salt_buckets`` reducers,
then combine the partials per key in a second (tiny) aggregation.

Only decomposable (algebraic) aggregates can be salted — sum/count/min/
max/avg-as-sum+count — because phase 2 must combine phase-1 partials.
``salted_agg`` takes the partial and final expression builders explicitly,
so the caller states the decomposition; helpers cover the common cases.

Note Spark's own map-side partial aggregation already handles skew when
the MAP side sees repeated keys (partial_sum before the exchange).  Salting
matters when partials stay large anyway: high-cardinality payloads
(collect_list/count-distinct-style state) or when upstream operators
(explode, joins) re-inflate rows after the last partial agg.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int, col_name: str = "__salt") -> DataFrame:
    """Deterministic per-row salt in [0, buckets): a hash of the whole row
    (monotonically_increasing_id is partition-stable but not content-stable
    across retries — content hashing keeps re-runs idempotent)."""
    return df.withColumn(
        col_name,
        F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(buckets)),
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_exprs: Sequence[Column],
    final_exprs: Sequence[Column],
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase aggregation over ``keys`` with a salt fan-out.

    Phase 1 groups by (keys…, salt) computing ``partial_exprs`` (each must
    be aliased); phase 2 groups by keys and combines the partials with
    ``final_exprs`` (referencing the phase-1 aliases).  The hot key's rows
    spread over ``salt_buckets`` reducers in the expensive phase; phase 2
    only sees |keys|×buckets rows.
    """
    salted = with_salt(df, salt_buckets)
    phase1 = salted.groupBy(*keys, "__salt").agg(*partial_exprs)
    return phase1.groupBy(*keys).agg(*final_exprs)


def salted_count_sum(
    df: DataFrame,
    keys: Sequence[str],
    sum_col: str,
    salt_buckets: int = 32,
    count_alias: str = "n",
    sum_alias: str = "total",
    sum_type: str = "DECIMAL(18,6)",
) -> DataFrame:
    """count(*) + exact decimal sum per key, salted.  The decimal partial
    sums make the two-phase combine order-independent (bit-exact vs a
    single-phase aggregation), so correctness is unchanged by the fan-out.
    """
    return salted_agg(
        df,
        keys,
        [
            F.count(F.lit(1)).alias("__pc"),
            F.sum(F.col(sum_col).cast(sum_type)).alias("__ps"),
        ],
        [
            F.sum("__pc").alias(count_alias),
            F.sum("__ps").cast("double").alias(sum_alias),
        ],
        salt_buckets,
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the (possibly hot-keyed) fact side and
    replicate the dim side ``salt_buckets``× so each hot key's rows spread
    over ``salt_buckets`` reducers instead of one straggler task.

    Result is row-identical to ``facts.join(dim, fact_key == dim_key,
    how)`` — the salt only changes the partitioning.  Use when the dim is
    too big to broadcast but small enough to replicate S×; AQE's skew-join
    splitting is the config-only alternative when it fires (it needs
    sort-merge join + statistics), this form is deterministic by
    construction.  ``how`` supports inner / left.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner or left joins")
    salted = with_salt(facts, salt_buckets)
    replicated = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(s) for s in range(salt_buckets)]))
    )
    cond = (F.col(fact_key) == F.col(dim_key)) & (
        salted["__salt"] == replicated["__salt"]
    )
    out = salted.join(replicated, cond, how)
    return out.drop(salted["__salt"]).drop(replicated["__salt"])

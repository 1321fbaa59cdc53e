"""Dataset splitting and sampling for training pipelines.

``deterministic_split`` assigns every row to a named split from a hash of
its id — stable across runs, engines, partitionings, and re-shards, unlike
``randomSplit`` (which is seed- and partition-layout-dependent).  The hash
is the repo's engine-portable md5 convention
(``conv(substr(md5(id),1,8),16,10)``), so a DuckDB oracle reproduces the
assignment bit-for-bit and downstream engines (or a plain SQL warehouse)
can recompute membership without Spark.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: hash buckets for split assignment — fractions resolve to 1/10000ths
SPLIT_BUCKETS = 10_000


def split_bucket(id_col: Column | str) -> Column:
    """Stable bucket in [0, SPLIT_BUCKETS) from the md5 of the id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")
    return F.pmod(h, F.lit(SPLIT_BUCKETS))


def deterministic_split(
    df: DataFrame,
    id_col: str,
    splits: Sequence[tuple[str, float]] = (("train", 0.8), ("valid", 0.1), ("test", 0.1)),
    split_alias: str = "split",
) -> DataFrame:
    """Append a ``split`` column assigning each row by hash bucket.

    ``splits`` is an ordered (name, fraction) list; fractions must sum to
    1.0 (±1 bucket of rounding goes to the last split).  Pure expression —
    no shuffle, no sampling state; membership is a function of the id
    alone, so adding or re-sharding data never reassigns existing rows.
    """
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1.0, got {total}")
    bucket = split_bucket(id_col)
    edge = 0
    expr = None
    for name, frac in splits[:-1]:
        edge += int(round(frac * SPLIT_BUCKETS))
        cond = bucket < F.lit(edge)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_alias, expr)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: Column | str,
) -> DataFrame:
    """Keep each row with probability = its weight in [0, 1], decided by
    the same stable id-hash as :func:`deterministic_split` — the
    quality-weighted data-mixing primitive (keep high-quality documents
    with higher probability, reproducibly).

    Membership is a pure function of (id, weight): re-runs, engines, and
    re-shards agree; weights ≥ 1 always keep, ≤ 0 always drop.  One scan,
    no shuffle, no RNG state.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    keep = split_bucket(id_col) < (w * F.lit(SPLIT_BUCKETS))
    return df.filter(keep)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    target_shares: Mapping[str, float],
) -> DataFrame:
    """Downsample each group so the SURVIVING corpus approaches the target
    mixture proportions — the data-mixing step of an LLM training pipeline
    (e.g. "the blend should be 50% web, 30% code, 20% books").

    Construction: the bottleneck group is the one whose available mass is
    smallest relative to its target share; it is kept whole, and every
    other group is thinned to ``target_share × total_kept`` rows via the
    stable id-hash (no RNG, reshard-safe).  Groups missing from
    ``target_shares`` are dropped.

    Cost: ONE count aggregation over ``group_col`` (collected —
    #groups-sized driver state, like every quota computation) + one
    hash-filter scan.  No data shuffle.
    """
    counts = {
        r["g"]: r["n"]
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    groups = [g for g in counts if g in target_shares and target_shares[g] > 0]
    if not groups:
        return df.filter(F.lit(False))
    # total kept is limited by the scarcest group: total ≤ n_g / share_g
    total_kept = min(counts[g] / target_shares[g] for g in groups)
    rate_when = None
    for g in groups:
        rate = min(1.0, (target_shares[g] * total_kept) / counts[g])
        cond = F.col(group_col) == F.lit(g)
        rate_when = (
            F.when(cond, F.lit(rate))
            if rate_when is None
            else rate_when.when(cond, F.lit(rate))
        )
    rate_col = rate_when.otherwise(F.lit(0.0))
    return df.filter(split_bucket(id_col) < (rate_col * F.lit(SPLIT_BUCKETS)))

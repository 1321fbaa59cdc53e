"""Mergeable distinct-count sketches (Apache DataSketches HLL, built into
Spark 3.5+ as ``hll_sketch_agg`` / ``hll_union_agg``).

Why this exists: exact COUNT(DISTINCT) re-shuffles raw values every time a
rollup is recomputed, and cannot be maintained incrementally — at 100 TB
the daily-to-monthly-to-total distinct-user rollup either re-scans history
or keeps sketches.  An HLL sketch is a few KB per group, mergeable
map-side (partial aggregation works), unions in O(registers), and lands in
a parquet BINARY column, so coarser periods are computed from the stored
fine-period sketches without touching raw data again.

No DuckDB oracle: sketch binaries are implementation-defined (DataSketches
vs DuckDB's own HLL), so parity is pinned by pytest invariants instead —
merge-consistency (union of daily sketches == sketch of the union) and
estimate accuracy vs exact counts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: log2(registers) — 12 ⇒ 4096 registers ≈ 1.6% relative standard error,
#: the DataSketches default trade-off for KB-scale state per group.
DEFAULT_LG_K = 12


def distinct_sketches(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lg_k: int = DEFAULT_LG_K,
    sketch_alias: str = "sketch",
) -> DataFrame:
    """Per-key HLL sketch of ``col`` — the storable/mergeable unit.  One
    hash exchange with map-side partial sketches (hll_sketch_agg is an
    algebraic aggregate)."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias(sketch_alias)
    )


def rollup_sketches(
    sketches: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "sketch",
    estimate_alias: str = "distinct_est",
) -> DataFrame:
    """Merge finer-grained sketches up to ``keys`` and estimate — no
    re-scan of raw data; input is the (tiny) sketch table."""
    grouped = (
        sketches.groupBy(*keys) if keys else sketches.groupBy()
    )
    return grouped.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias(
            estimate_alias
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable frequency estimation (Cormode & Muthukrishnan,
# "An improved data stream summary: the count-min sketch", J.Alg. 2005).
# depth×width counter grid, item counted at one hashed bucket per row;
# estimate = min over rows.  The grid is a tiny DataFrame of (d, bucket, c)
# cells — mergeable by summing cells, so per-period sketches roll up
# without re-scanning raw data, exactly like the HLL path above.  Hashes
# are the engine-wide md5 rule, so a DuckDB oracle reproduces estimates
# bit-exactly.

CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket(col: Column | str, d: int) -> Column:
    from lab_flink_repository_analytics_spark.datapipe.text import md5_hash32

    c = F.col(col) if isinstance(col, str) else col
    return md5_hash32(F.concat(F.lit(str(d)), F.lit(":"), c)) % CMS_WIDTH


def cms_build(items: DataFrame, col: str = "item") -> DataFrame:
    """(d, bucket, c) counter cells from an item stream.  One explode to
    depth copies + one hash aggregation; the result has at most
    depth × width rows regardless of input size."""
    rows = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _cms_bucket(col, d).alias("bucket")
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("cell")
    )
    return rows.groupBy("cell.d", "cell.bucket").agg(
        F.count(F.lit(1)).alias("c")
    )


def cms_build_weighted(
    counts: DataFrame, col: str = "item", weight: str = "c"
) -> DataFrame:
    """(d, bucket, c) counter cells from PRE-AGGREGATED (item, count)
    rows — algebraically identical to :func:`cms_build` on the expanded
    stream (every cell is a sum, so summing per-item counts at each
    hashed bucket lands the same totals), but each DISTINCT item is
    md5-hashed once per depth instead of once per occurrence: the hash
    work drops from depth×corpus to depth×vocabulary (sublinear in the
    corpus by Heaps' law), which is what the hot path should pay when a
    (item, count) rollup already exists.  ``c`` is cast to the same
    non-null BIGINT ``cms_build`` produces."""
    rows = counts.select(
        F.col(weight).alias("_w"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _cms_bucket(col, d).alias("bucket")
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    )
    return rows.groupBy("cell.d", "cell.bucket").agg(
        F.coalesce(F.sum("_w"), F.lit(0)).cast("bigint").alias("c")
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union counter grids by summing cells (the mergeability property)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "bucket").agg(F.sum("c").alias("c"))


def cms_estimate(sketch: DataFrame, queries: DataFrame, col: str = "item") -> DataFrame:
    """Point estimates for ``queries``: min over depth rows of the hashed
    cell counts (over-estimates only, never under).  The sketch side is at
    most depth×width cells → broadcast."""
    probes = queries.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _cms_bucket(col, d).alias("bucket")
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select(col, "cell.d", "cell.bucket")
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantiles: the simplest mergeable quantile sketch.
# Bin counts sum across shards/periods (unlike exact percentiles, which
# need the raw data every time); estimates are deterministic (bin upper
# edge), so a DuckDB oracle reproduces them bit-exactly.  Error is bounded
# by the bin width — the classic trade against t-digest/KLL, which buy
# adaptive precision at the cost of engine-specific binaries.

HIST_BINS = 128


def value_histogram(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    lo: float,
    hi: float,
    bins: int = HIST_BINS,
) -> DataFrame:
    """(keys…, bin, c) counter rows; values outside [lo, hi) clamp into
    the edge bins.  One hash aggregation; at most |keys|×bins rows out."""
    v = F.col(value_col)
    raw = F.floor((v - F.lit(lo)) / F.lit(hi - lo) * F.lit(bins))
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))
    return df.groupBy(*keys, bin_.alias("bin")).agg(F.count(F.lit(1)).alias("c"))


def histogram_quantiles(
    hist: DataFrame,
    keys: Sequence[str],
    qs: Sequence[float],
    lo: float,
    hi: float,
    bins: int = HIST_BINS,
) -> DataFrame:
    """Quantile estimates from a histogram: for each q, the upper edge of
    the first bin whose cumulative count reaches q×total.  One window
    cumsum per key; the final reduction reuses its partitioning."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(*keys)
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "total", F.sum("c").over(wt)
    )
    step = (hi - lo) / bins
    aggs = [
        (
            F.lit(lo)
            + (
                F.min(
                    F.when(F.col("cum") >= F.lit(q) * F.col("total"), F.col("bin"))
                )
                + 1
            )
            * F.lit(step)
        ).alias(f"p{int(q * 100)}_est")
        for q in qs
    ]
    return cum.groupBy(*keys).agg(*aggs)

"""Mergeable sketches with deterministic, engine-portable estimates.

A sketch summarizes a stream in a small table whose cells SUM across
shards and periods, so coarser rollups come from the stored fine-period
sketches without re-scanning raw data: a count-min frequency grid and
fixed-bin histogram quantiles.  Both hash or bin by the engine-wide
rules, so a DuckDB oracle reproduces every estimate bit-exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Count-min sketch: mergeable frequency estimation (Cormode & Muthukrishnan,
# "An improved data stream summary: the count-min sketch", J.Alg. 2005).
# depth×width counter grid, item counted at one hashed bucket per row;
# estimate = min over rows.  The grid is a tiny DataFrame of (d, bucket, c)
# cells — mergeable by summing cells, so per-period sketches roll up
# without re-scanning raw data.  Hashes are the engine-wide md5 rule, so
# a DuckDB oracle reproduces estimates bit-exactly.

CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_bucket(col: Column | str, d: int) -> Column:
    from lab_flink_repository_analytics_spark.datapipe.text import md5_hash32

    c = F.col(col) if isinstance(col, str) else col
    return md5_hash32(F.concat(F.lit(str(d)), F.lit(":"), c)) % CMS_WIDTH


def cms_build_weighted(
    counts: DataFrame, col: str = "item", weight: str = "c"
) -> DataFrame:
    """(d, bucket, c) counter cells from PRE-AGGREGATED (item, count)
    rows: each cell is the sum of the counts of the items hashing to it —
    the grid the per-occurrence stream would build, but each DISTINCT
    item is md5-hashed once per depth instead of once per occurrence, so
    the hash work is depth×vocabulary (sublinear in the corpus by Heaps'
    law).  ``c`` is a non-null BIGINT."""
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

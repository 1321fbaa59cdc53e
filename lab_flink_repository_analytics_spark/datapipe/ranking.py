"""Distributed EXACT global ranking — row_number / ntile without the
single-partition window.

``Window.orderBy(...)`` with no partition key moves every row to ONE
partition (Spark warns exactly this); at 100 TB that executor dies.  The
classic scale-safe construction used here:

1. ``repartitionByRange(order_cols)`` — one total-order range shuffle
   (sampled boundaries, same machinery as a global sort);
2. per-partition row counts — ONE tiny driver collect of ~#partitions
   scalars (the same bounded-driver-state pattern as
   ``datapipe/graph.py``'s convergence checksum);
3. global row_number = partition offset (a broadcast map of cumulative
   counts) + intra-partition row position, read straight out of
   ``monotonically_increasing_id``'s low 33 bits over the sorted cached
   partitions — a pure projection, so the range exchange is the ONLY
   exchange in the whole construction.  (``with_global_running_max``
   still needs a prefix scan, which Catalyst expresses as
   ``Window.partitionBy(__pid)`` — that adds a second, hash-on-pid
   exchange that moves each partition wholesale; two exchanges total,
   stated honestly in its docstring.)

Cache lifetime: the ranged intermediate for each helper is persisted in
a single module slot — call N+1 releases call N's handle, and
``session.release_persist_slots()`` drops everything (long-lived
sessions / bench loops).  If blocks are evicted before the caller materializes, the
recompute is safe: the range sampler is fixed-seed over deterministic
input, so partition ids, sort order, and record positions reproduce
exactly.

``exact_ntile`` then derives SQL-exact NTILE(n) bucket ids from the global
rank and total count N with pure integer arithmetic: the first ``N mod n``
buckets get ``ceil(N/n)`` rows, the rest ``floor(N/n)`` — bit-identical to
the single-partition form, verified against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _persist_bounded(df: DataFrame, slot: str) -> DataFrame:
    """One outstanding cached range-shuffle output per helper — see
    ``session.persist_bounded`` (shared slot registry)."""
    from lab_flink_repository_analytics_spark.session import persist_bounded

    return persist_bounded(df, f"ranking.{slot}")


def with_global_row_number(
    df: DataFrame,
    order_cols: list,
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Attach an exact global 1-based row number ordered by ``order_cols``.

    Returns ``(df_with_rank, total_count)``.  ``order_cols`` must be a
    total order (append a tie-breaker key) for the rank to be
    deterministic.  Cost: one range shuffle (the ONLY exchange) + one
    #partitions-sized driver collect; the rank itself is a projection —
    ``monotonically_increasing_id`` puts the record number within each
    sorted partition in its low 33 bits, so no window, no second
    shuffle, no single-partition stage at any scale.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    ranged = _persist_bounded(ranged, "row_number")
    # tiny: one row per shuffle partition
    counts = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_expr = F.element_at(
        F.create_map(
            *[x for pid in sorted(offsets) for x in (F.lit(pid), F.lit(offsets[pid]))]
        ),
        F.col("__pid"),
    ) if offsets else F.lit(0)
    # row position within the (already sorted, cached) partition: the low
    # 33 bits of monotonically_increasing_id — evaluated in the same
    # projection as spark_partition_id, over the same cached iterators,
    # so the two are consistent by construction and NO second exchange
    # (the previous Window.partitionBy("__pid") form forced a full
    # hash-on-pid reshuffle that RangePartitioning does not satisfy)
    pos = F.monotonically_increasing_id() - F.shiftleft(
        F.col("__pid").cast("long"), 33
    )
    out = ranged.withColumn(out_col, (pos + F.lit(1) + off_expr).cast("long")).drop(
        "__pid"
    )
    return out, total


def with_global_running_max(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "running_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive prefix maximum over a global ordering —
    ``max(value) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING TO -1)``
    without the single-partition window.

    Same skeleton as :func:`with_global_row_number` — range shuffle plus
    a #partitions-sized driver collect of each partition's total max,
    prefix-combined into a per-partition carry-in.  Unlike row_number,
    the intra-partition prefix scan genuinely needs a window, and
    ``Window.partitionBy(__pid)`` requires hashpartitioning(__pid) which
    range partitioning does not satisfy — so this costs TWO exchanges
    (range + hash-on-pid; the second moves each partition wholesale).
    Rows with no strictly-earlier row get NULL (matching the window form).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    ranged = _persist_bounded(
        df.repartitionByRange(num_partitions, *cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        "running_max",
    )
    # per-partition total max — tiny collect, one row per partition
    part_max = {
        r["__pid"]: r["m"]
        for r in ranged.groupBy("__pid").agg(F.max(value_col).alias("m")).collect()
    }
    carry, run = {}, None
    for pid in sorted(part_max):
        carry[pid] = run  # max over all EARLIER partitions
        m = part_max[pid]
        if m is not None and (run is None or m > run):
            run = m
    entries = [
        x
        for pid in sorted(carry)
        if carry[pid] is not None
        for x in (F.lit(pid), F.lit(carry[pid]))
    ]
    # try_element_at: leading partitions have no carry-in (absent key →
    # NULL, where plain element_at would throw under ANSI)
    carry_expr = (
        F.try_element_at(F.create_map(*entries), F.col("__pid"))
        if entries
        else F.lit(None).cast(df.schema[value_col].dataType)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.max(value_col).over(w)
    # greatest() skips NULLs, so carry-in NULL + local NULL → NULL
    return ranged.withColumn(out_col, F.greatest(local, carry_expr)).drop("__pid")


def with_grouped_running_sum(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
    totals_out: dict | None = None,
) -> DataFrame:
    """Inclusive per-group prefix sum —
    ``sum(value) OVER (PARTITION BY group ORDER BY … ROWS UNBOUNDED
    PRECEDING TO CURRENT ROW)`` — without ever putting one group in one
    window partition.

    ``Window.partitionBy(group)`` serializes a dominant group (60% of a
    100 TB corpus from one source) into a single task's sort.  Here the
    data is RANGE-partitioned on (group, order), so a huge group spans
    partitions and every task's sort is bounded by the partition size;
    the cross-partition carry-in is a per-(partition, group) partial-sum
    table — ≤ #partitions + #groups rows, since groups are contiguous
    under the range order — collected to the driver and prefix-combined
    (the :func:`with_global_running_max` skeleton, keyed per group).
    Costs two exchanges (range + hash-on-(pid, group) for the local
    window); values must be exactly summable (integers/decimals) for the
    split to be bit-identical to the single-window form.  NULL group
    keys are the caller's problem — filter or coalesce them first.
    """
    gcols = [F.col(c) if isinstance(c, str) else c for c in group_cols]
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    ranged = _persist_bounded(
        df.repartitionByRange(num_partitions, *gcols, *ocols).withColumn(
            "__pid", F.spark_partition_id()
        ),
        "grouped_running_sum",
    )
    key = F.concat_ws(
        "\x1f", F.col("__pid").cast("string"), *[g.cast("string") for g in gcols]
    )
    # per-(partition, group) totals — tiny collect (contiguity bound)
    parts = (
        ranged.groupBy(F.col("__pid"), key.alias("__k"), *gcols)
        .agg(F.sum(value_col).alias("s"))
        .collect()
    )
    run: dict = {}
    carry: dict = {}
    for r in sorted(parts, key=lambda r: (r["__k"].split("\x1f", 1)[1], r["__pid"])):
        gkey = r["__k"].split("\x1f", 1)[1]
        prev = run.get(gkey)
        if prev is not None:
            carry[r["__k"]] = prev
        run[gkey] = (prev or 0) + r["s"]
    if totals_out is not None and all(isinstance(c, str) for c in group_cols):
        # per-group grand totals fall out of the partials this collect
        # already paid for (exact integer/decimal sums — the same values
        # any regrouping of the partials produces); callers that need
        # group totals (quota_fill's Hamilton quotas) read them from here
        # instead of re-scanning the input.  Keyed by the typed group
        # value (tuple for composite groups).
        for r in parts:
            tkey = (
                r[group_cols[0]]
                if len(group_cols) == 1
                else tuple(r[c] for c in group_cols)
            )
            totals_out[tkey] = totals_out.get(tkey, 0) + r["s"]
    entries = [x for k in sorted(carry) for x in (F.lit(k), F.lit(carry[k]))]
    carry_expr = (
        F.coalesce(
            F.try_element_at(F.create_map(*entries), key), F.lit(0)
        )
        if entries
        else F.lit(0)
    )
    w = (
        Window.partitionBy("__pid", *gcols)
        .orderBy(*ocols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranged.withColumn(
        out_col, F.sum(value_col).over(w) + carry_expr
    ).drop("__pid")


def exact_ntile(
    df: DataFrame,
    n_buckets: int,
    order_cols: list,
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """SQL-exact ``NTILE(n) OVER (ORDER BY ...)`` without a global window.

    Bucket sizes follow the standard: with ``q = N div n`` and
    ``r = N mod n``, buckets ``1..r`` hold ``q+1`` rows, buckets
    ``r+1..n`` hold ``q``.
    """
    ranked, total = with_global_row_number(
        df, order_cols, out_col="__rn", num_partitions=num_partitions
    )
    q, r = divmod(total, n_buckets)
    head = r * (q + 1)  # rows living in the q+1-sized buckets
    rn = F.col("__rn")
    if q == 0:
        bucket = rn  # fewer rows than buckets: one row per bucket
    else:
        # integer-exact ceil divisions (float floor would wobble past 2^53)
        bucket = F.when(
            rn <= F.lit(head), F.expr(f"(__rn + {q}) div {q + 1}")
        ).otherwise(F.expr(f"{r} + ((__rn - {head} + {q - 1}) div {q})"))
    return ranked.withColumn(out_col, bucket.cast("int")).drop("__rn")

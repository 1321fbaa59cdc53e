"""Mergeable sketches (datapipe/sketches.py): the count-min grid, the
histogram quantiles and the PSI drift built on them."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_cms_overestimates_and_merges(spark):
    from lab_flink_repository_analytics_spark.datapipe import sketches as SK
    from pyspark.sql import functions as F

    items = spark.createDataFrame(
        [(w,) for w in ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + ["d"]], "item: string"
    )
    counts = items.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
    full = SK.cms_build_weighted(counts, weight="cnt")
    est = {r["item"]: r["est"] for r in SK.cms_estimate(full, counts).collect()}
    true = {r["item"]: r["cnt"] for r in counts.collect()}
    for w, t in true.items():
        assert est[w] >= t  # CMS never under-estimates
    # the grids of two halves sum cell by cell to the grid of the whole
    h1 = SK.cms_build_weighted(counts.filter(F.col("item").isin("a", "b")), weight="cnt")
    h2 = SK.cms_build_weighted(counts.filter(~F.col("item").isin("a", "b")), weight="cnt")
    merged = h1.unionByName(h2).groupBy("d", "bucket").agg(F.sum("c").alias("c"))
    est_m = {r["item"]: r["est"] for r in SK.cms_estimate(merged, counts).collect()}
    assert est_m == est


def test_cms_build_weighted_matches_stream_build(spark):
    """cms_build_weighted over a (item, cnt) rollup must land, per depth
    row d, each item's count at bucket md5_32("d:item") mod width — the
    grid the per-occurrence stream gives — with a non-null bigint c."""
    import hashlib

    from lab_flink_repository_analytics_spark.datapipe import sketches as SK

    counts = {"a": 5, "b": 3, "c": 2, "d": 1}
    df = spark.createDataFrame(list(counts.items()), "item: string, cnt: bigint")
    want = {}
    for item, n in counts.items():
        for d in range(SK.CMS_DEPTH):
            h = int(hashlib.md5(f"{d}:{item}".encode()).hexdigest()[:8], 16)
            cell = (d, h % SK.CMS_WIDTH)
            want[cell] = want.get(cell, 0) + n
    weighted = SK.cms_build_weighted(df, weight="cnt")
    assert {(r["d"], r["bucket"]): r["c"] for r in weighted.collect()} == want
    [c_field] = [f for f in weighted.schema.fields if f.name == "c"]
    assert c_field.dataType.simpleString() == "bigint"
    assert not c_field.nullable


def test_histogram_quantiles_merge_and_accuracy(spark):
    from lab_flink_repository_analytics_spark.datapipe import sketches as SK
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.lit("k").alias("g"), F.col("id").cast("double").alias("v")
    )
    hist = SK.value_histogram(df, "v", ["g"], 0.0, 1000.0, bins=100)
    est = SK.histogram_quantiles(hist, ["g"], [0.5, 0.9], 0.0, 1000.0, bins=100).collect()[0]
    # uniform 0..999 → true p50=499.5, p90=899.1; bin width 10 bounds error
    assert abs(est["p50_est"] - 500.0) <= 10.0
    assert abs(est["p90_est"] - 900.0) <= 10.0
    # mergeable: the bin counts of two half-histograms sum to the
    # histogram of the whole stream (a fixed bin grid, unlike percentiles)
    halves = {}
    for part in (df.filter("v < 500"), df.filter("v >= 500")):
        for r in SK.value_histogram(part, "v", ["g"], 0.0, 1000.0, bins=100).collect():
            halves[r["bin"]] = halves.get(r["bin"], 0) + r["c"]
    assert halves == {r["bin"]: r["c"] for r in hist.collect()}
    # out-of-range values clamp into edge bins instead of vanishing
    oob = spark.createDataFrame([("k", -5.0), ("k", 5000.0)], "g: string, v: double")
    hb = SK.value_histogram(oob, "v", ["g"], 0.0, 1000.0, bins=100)
    bins = sorted(r["bin"] for r in hb.collect())
    assert bins == [0, 99]


def test_histogram_sketch_drives_approx_ntile(spark, sf_dir):
    """The documented NTILE-at-scale swap (customer_revenue_quartiles
    docstring): histogram-sketch quantile boundaries bucket customers into
    near-equi-depth quartiles without the global sort.  Buckets must land
    within a few percent of n/4 each — the sketch's bin-resolution bound."""
    from pyspark.sql import functions as F

    from lab_flink_repository_analytics_spark.datapipe import sketches as SK
    from lab_flink_repository_analytics_spark.session import load_tables

    per_cust = (
        load_tables(spark, sf_dir)["orders"]
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    lo, hi = 0.0, float(
        per_cust.agg(F.max("revenue")).collect()[0][0]
    ) + 1.0
    hist = SK.value_histogram(
        per_cust.withColumn("g", F.lit("all")), "revenue", ["g"], lo, hi, bins=512
    )
    qdf = SK.histogram_quantiles(hist, ["g"], [0.25, 0.5, 0.75], lo, hi, bins=512)
    row = qdf.collect()[0]
    b1, b2, b3 = row["p25_est"], row["p50_est"], row["p75_est"]
    assert b1 <= b2 <= b3
    bucketed = per_cust.withColumn(
        "bucket",
        F.when(F.col("revenue") <= b1, 1)
        .when(F.col("revenue") <= b2, 2)
        .when(F.col("revenue") <= b3, 3)
        .otherwise(4),
    )
    counts = {
        r["bucket"]: r["n"]
        for r in bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = sum(counts.values())
    for b in (1, 2, 3, 4):
        # within 5% of perfect equi-depth (sketch edge resolution)
        assert abs(counts.get(b, 0) - n / 4) <= 0.05 * n, counts


def test_psi_drift_zero_shift_and_symmetry(spark):
    from lab_flink_repository_analytics_spark.datapipe import drift, sketches

    rows_a = [("k", float(i % 10)) for i in range(200)]
    rows_b = [("k", float((i % 10) + 5)) for i in range(300)]  # shifted
    a = sketches.value_histogram(
        spark.createDataFrame(rows_a, "g string, v double"), "v", ["g"], 0.0, 20.0, 10
    )
    b = sketches.value_histogram(
        spark.createDataFrame(rows_b, "g string, v double"), "v", ["g"], 0.0, 20.0, 10
    )
    same = drift.psi_drift(a, a, ["g"], 10).collect()[0]
    assert same["psi"] == 0.0 and same["n_a"] == same["n_b"] == 200
    ab = drift.psi_drift(a, b, ["g"], 10).collect()[0]
    ba = drift.psi_drift(b, a, ["g"], 10).collect()[0]
    # a 5-bin shift is a major drift; PSI is symmetric by construction
    assert ab["psi"] > 0.25
    assert ab["psi"] == ba["psi"]


def test_psi_drift_key_only_in_one_side(spark):
    from lab_flink_repository_analytics_spark.datapipe import drift, sketches

    a = sketches.value_histogram(
        spark.createDataFrame([("x", 1.0), ("y", 2.0)], "g string, v double"),
        "v", ["g"], 0.0, 10.0, 5,
    )
    b = sketches.value_histogram(
        spark.createDataFrame([("x", 1.0)], "g string, v double"),
        "v", ["g"], 0.0, 10.0, 5,
    )
    out = {r["g"]: r for r in drift.psi_drift(a, b, ["g"], 5).collect()}
    # a key absent from one snapshot still scores (all-smoothed side)
    assert set(out) == {"x", "y"}
    assert out["y"]["n_b"] == 0 and out["y"]["psi"] >= 0.0

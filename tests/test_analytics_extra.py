"""Pins for queries/analytics_extra.py — plan shapes + semantic invariants.

Value correctness vs DuckDB is tools/check_correctness.py's job; here we pin
the scale-relevant plan properties and a few closed-form invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.queries import analytics_extra as AX


def _formatted(df, spark) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_streaks_single_user_exchange(spark, sf_dir):
    # both window passes and both re-aggregations ride ONE user_id shuffle:
    # hashpartitioning(user_id) satisfies the (user_id, grp) clustering.
    plan = AX.user_value_streaks(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_streaks_values(spark):
    # hand-checkable sequence: values 1,2,3 then 1,2 → longest run 3
    rows = [
        (1, "2024-01-01 00:00:0%d" % i, i, float(v))
        for i, v in enumerate([1, 2, 3, 1, 2])
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, event_id long, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    df.createOrReplaceTempView("_streak_probe")
    from lab_flink_repository_analytics_spark.queries.analytics_extra import (
        user_value_streaks,
    )
    import lab_flink_repository_analytics_spark.session as S

    orig = S.load_tables
    try:
        S.load_tables = lambda spark_, sf_dir_: {"events": df}
        AX.load_tables = S.load_tables
        out = {r["user_id"]: r for r in user_value_streaks(spark, "x").collect()}
    finally:
        S.load_tables = orig
        AX.load_tables = orig
    assert out[1]["longest_run"] == 3
    assert out[1]["n_events"] == 5


def test_tfidf_window_group_limit(spark, sf_dir):
    # the per-doc top-3 must prune below the window sort (WindowGroupLimit),
    # not materialize full per-doc rankings through the exchange.
    plan = _formatted(AX.tfidf_top_terms(spark, sf_dir), spark)
    assert "WindowGroupLimit" in plan, plan


def test_tfidf_scores_nonnegative(spark, sf_dir):
    rows = AX.tfidf_top_terms(spark, sf_dir).limit(200).collect()
    assert rows and all(r["score"] >= 0.0 for r in rows)
    assert all(1 <= r["rnk"] <= 3 for r in rows)


def test_tfidf_bm25_share_doc_term_tf(spark, sf_dir):
    """tfidf and bm25 must consume the SAME session-shared (doc, term, tf)
    table — one corpus explode per session, not one per query (the
    derived_state memo returns the identical persisted DataFrame)."""
    from lab_flink_repository_analytics_spark.session import reset_derived_state

    reset_derived_state()
    try:
        first = AX._doc_term_tf(spark, sf_dir)
        second = AX._doc_term_tf(spark, sf_dir)
        assert first is second
    finally:
        reset_derived_state()


def test_quartiles_partition_counts_balanced(spark, sf_dir):
    rows = {r["quartile"]: r for r in AX.customer_revenue_quartiles(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 3, 4}
    counts = [rows[q]["n_customers"] for q in (1, 2, 3, 4)]
    assert max(counts) - min(counts) <= 1  # NTILE equi-depth guarantee
    # buckets are ordered ranges
    assert rows[1]["max_revenue"] <= rows[2]["min_revenue"]
    assert rows[3]["max_revenue"] <= rows[4]["min_revenue"]


def test_triangles_closed_form(spark):
    # K4 on one order: 6 edges, 4 triangles, 12 wedges, coefficient 1.0
    li = spark.createDataFrame(
        [(1, p) for p in [10, 20, 30, 40]], "l_orderkey long, l_partkey long"
    )
    import lab_flink_repository_analytics_spark.session as S

    orig = S.load_tables
    try:
        S.load_tables = lambda spark_, sf_dir_: {"lineitem": li}
        AX.load_tables = S.load_tables
        row = AX.copurchase_triangles(spark, "x").collect()[0]
    finally:
        S.load_tables = orig
        AX.load_tables = orig
    assert row["n_edges"] == 6
    assert row["n_triangles"] == 4
    assert row["n_wedges"] == 12
    assert row["clustering_coefficient"] == 1.0


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cube_single_expand_single_agg_exchange(spark, sf_dir):
    plan = _executed(AX.cube_order_stats(spark, sf_dir))
    assert plan.count("Expand") == 1  # all 4 grouping combos in one pass
    assert plan.count("Exchange hashpartitioning") == 1


def test_unified_activity_single_exchange(spark, sf_dir):
    # both sources partial-aggregate below ONE shuffle of (day, source)
    plan = _executed(AX.unified_activity(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_per_group_sample_window_group_limit(spark, sf_dir):
    plan = _executed(AX.per_group_sample(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_event_gap_two_keyed_exchanges(spark, sf_dir):
    # lag shuffles on user_id, the percentile agg re-keys on event_type —
    # exactly two hash exchanges, nothing redundant
    plan = _executed(AX.event_gap_stats(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_fuzzy_pairs_no_cartesian(spark, sf_dir):
    plan = _executed(AX.fuzzy_name_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan  # masked-band keys the join


def test_fuzzy_blocking_not_degenerate(spark, sf_dir):
    """The masked-band blocking key must actually partition the data:
    no block may approach n (the round-2 length-only key collapsed the
    fixed-width supplier names into ONE all-pairs block)."""
    sup = AX.load_tables(spark, sf_dir)["supplier"]
    n = sup.count()
    keyed = sup.select(F.explode(AX._fuzzy_masked_keys("s_name")).alias("bk"))
    max_block = keyed.groupBy("bk").count().agg(F.max("count")).collect()[0][0]
    # deletion-neighborhood blocks = names identical except at ONE
    # position — bounded by the per-position alphabet (10 digits here),
    # an ABSOLUTE constant independent of n; the round-2 length-only key
    # produced one block = n.  (A full-alphabet block is a true near-dup
    # clique — e.g. the sf0.001 suppliers differ only in the last digit —
    # so the bound must not be relative to n.)
    assert max_block <= 16, (max_block, n)


def test_fuzzy_blocking_is_lossless(spark, sf_dir):
    """Blocked result == naive all-pairs result (exactness of the
    masked-band scheme for same-length Levenshtein ≤ 1)."""
    sup = AX.load_tables(spark, sf_dir)["supplier"]
    a = sup.select(F.col("s_suppkey").alias("k1"), F.col("s_name").alias("name1"))
    b = sup.select(F.col("s_suppkey").alias("k2"), F.col("s_name").alias("name2"))
    naive = (
        a.join(b, (F.length("name1") == F.length("name2")) & (F.col("k1") < F.col("k2")))
        .filter(F.levenshtein("name1", "name2") <= 1)
        .select("k1", "k2")
    )
    blocked = AX.fuzzy_name_pairs(spark, sf_dir).select("k1", "k2")
    assert sorted(map(tuple, blocked.collect())) == sorted(map(tuple, naive.collect()))


def test_triangles_both_physical_paths_agree(spark, sf_dir, monkeypatch):
    """The broadcast array-intersect edge-iterator (small-graph path) and
    the shuffled degree-ordered wedge join (100 TB path) are two physical
    strategies for one logical result — force each and compare."""
    small = AX.copurchase_triangles(spark, sf_dir).collect()[0]
    monkeypatch.setattr(AX, "TRIANGLES_ARRAY_PATH_MAX_EDGES", 0)
    big = AX.copurchase_triangles(spark, sf_dir).collect()[0]
    assert small.asDict() == big.asDict()
    assert small["n_triangles"] > 0


def test_mixture_token_quotas_sum_exactly_to_budget(spark, sf_dir):
    rows = AX.mixture_token_quotas(spark, sf_dir).collect()
    assert sum(r["token_quota"] for r in rows) == AX.MIX_TOKEN_BUDGET
    assert all(r["token_quota"] >= 0 for r in rows)
    # more tokens never means a smaller base allocation than a source
    # with under half the tokens (sqrt temperature is monotone)
    by_tokens = sorted(rows, key=lambda r: r["n_tokens"])
    assert by_tokens[-1]["token_quota"] >= by_tokens[0]["token_quota"]


def test_length_bucket_stats_partitions_corpus(spark, sf_dir):
    from lab_flink_repository_analytics_spark.session import load_tables

    rows = AX.length_bucket_stats(spark, sf_dir).collect()
    assert all(r["bucket"] & (r["bucket"] - 1) == 0 for r in rows)  # powers of 2
    n_docs = load_tables(spark, sf_dir)["documents"].count()
    assert sum(r["n_docs"] for r in rows) == n_docs


def test_bpe_fertility_at_least_one_token_per_word(spark, sf_dir):
    rows = AX.bpe_fertility_by_source(spark, sf_dir).collect()
    assert rows and all(r["fertility"] >= 1.0 for r in rows)
    assert all(r["n_bpe_tokens"] >= r["n_words"] for r in rows)


def test_near_dup_source_matrix_conserves_pairs(spark, sf_dir):
    from lab_flink_repository_analytics_spark.queries import suite

    total_pairs = suite.queries()["near_dup_pairs"](spark, sf_dir).count()
    rows = suite.near_dup_source_matrix(spark, sf_dir).collect()
    assert sum(r["n_pairs"] for r in rows) == total_pairs
    assert all(r["source_a"] <= r["source_b"] for r in rows)


def test_quota_fill_reaches_quota_or_exhausts_source(spark, sf_dir):
    from lab_flink_repository_analytics_spark.session import load_tables

    totals = {
        r["source"]: (r["toks"], r["docs"])
        for r in load_tables(spark, sf_dir)["documents"]
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " "))).alias("toks"),
            F.count(F.lit(1)).alias("docs"),
        )
        .collect()
    }
    rows = AX.quota_fill_counts(spark, sf_dir).collect()
    assert rows
    for r in rows:
        toks, docs = totals[r["source"]]
        if r["token_quota"] >= toks:
            # budget exceeds the source: the fill takes EVERY document
            assert (r["n_docs_selected"], r["n_tokens_selected"]) == (docs, toks), r
        else:
            # the boundary-crossing doc is included, so the selected mass
            # reaches the quota but no doc beyond the boundary is taken
            assert r["n_tokens_selected"] >= r["token_quota"], r
            assert r["n_docs_selected"] < docs, r


def test_wedge_partitions_scale_with_volume_bound(spark):
    # the wedge exchange must size itself from the graph (degree-table
    # volume bound), clamped to [session default, WEDGE_MAX_PARTITIONS]
    from lab_flink_repository_analytics_spark.queries import analytics_extra as AX

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny graph: bound under one partition budget -> session default
    deg_small = spark.createDataFrame(
        [(i, 3) for i in range(10)], "node long, deg int"
    )
    n, packable = AX._wedge_partitions(spark, deg_small, 15)
    assert n == default and packable
    # one hub of degree 1e6 with cap sqrt(2m): bound = C(min(1e6, cap), 2)
    m = 2_000_000
    deg_big = spark.createDataFrame([(0, 1_000_000)], "node long, deg int")
    n, mx = AX._wedge_partitions(spark, deg_big, m)
    import math
    cap = math.isqrt(2 * m) + 1
    bound = cap * (cap - 1) // 2
    want = -(-bound * AX.WEDGE_ROW_BYTES // AX.WEDGE_TARGET_PARTITION_BYTES)
    assert n == max(default, min(AX.WEDGE_MAX_PARTITIONS, want))
    assert packable
    # degenerate empty degree table
    deg_empty = spark.createDataFrame([], "node long, deg int")
    n, packable = AX._wedge_partitions(spark, deg_empty, 0)
    assert n == default and packable
    # a NEGATIVE node id must disable packing even when max(node) fits
    # 31 bits — (v<<32)+w collides for negative v (advisor r7)
    deg_neg = spark.createDataFrame(
        [(-1, 2), (5, 2)], "node long, deg int"
    )
    n, packable = AX._wedge_partitions(spark, deg_neg, 3)
    assert not packable
    # and a node id past 2^31 likewise
    deg_wide = spark.createDataFrame(
        [(1 << 31, 2)], "node long, deg int"
    )
    n, packable = AX._wedge_partitions(spark, deg_wide, 3)
    assert not packable

"""Physical-plan regression tests — the scale contract, not just results.

These pin the plan shapes that matter at 100 TB: filter pushdown into
parquet scans, column pruning, broadcast of dimension tables, and binary
payload pruning for metadata-only media queries.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.queries import suite


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df, spark) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _formatted(suite.q1_pricing_summary(spark, sf_dir), spark)
    assert "LessThanOrEqual(l_shipdate" in plan  # filter reached the scan
    # column pruning: only the 7 needed columns in the read schema
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read


def test_q5_broadcasts_dims(spark, sf_dir):
    plan = _formatted(suite.q5_local_supplier_volume(spark, sf_dir), spark)
    assert plan.count("BroadcastHashJoin") >= 4  # dims broadcast, no SMJ cascade
    assert "EqualTo(r_name,ASIA)" in plan  # dim filter pushed down


def test_q3_customer_filter_pushed(spark, sf_dir):
    plan = _formatted(suite.q3_shipping_priority(spark, sf_dir), spark)
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_commit_activity_single_shuffle_agg(spark, sf_dir):
    # explode must be pipelined: exactly one *hash* exchange (the window ×
    # component aggregation) — a second would mean a mis-planned pre-agg
    # shuffle.  The round-robin rebalance of the narrow local source is
    # allowed (it disappears on a wide cluster scan).
    df = suite.commit_activity(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_inline_assignment_cosines_stay_staged(spark, sf_dir):
    """Centroid assignment against a bounded quantizer is ONE Arrow pass
    over the vector scan: a MapInArrow node and no Exchange — no
    per-centroid literal chain for Janino to reject, no window shuffle."""
    from lab_flink_repository_analytics_spark.datapipe import similarity as SIM
    from lab_flink_repository_analytics_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = SIM._bounded_quantizer(SIM.sampled_centroids(emb, 16))
    plan = _plan(SIM._arrow_assignments(emb, cents, 2, "vec_id", "embedding"))
    assert "MapInArrow" in plan, plan
    assert "Exchange" not in plan, plan


def test_ann_broadcasts_queries(spark, sf_dir):
    """Above ANN_INLINE_MAX queries the query side is broadcast into the
    join with the candidates; a bounded query set scores in one
    MapInArrow pass with no join at all."""
    from lab_flink_repository_analytics_spark.datapipe import similarity as SIM
    from lab_flink_repository_analytics_spark.session import load_tables

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    dim = suite.EMBEDDING_DIM
    many = emb.orderBy("vec_id").limit(SIM.ANN_INLINE_MAX + 1)
    plan = _plan(SIM.brute_force_topk(many, emb, k=3, dim=dim))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "MapInArrow" not in plan, plan
    two = emb.filter(F.col("vec_id") < 2)
    plan = _plan(SIM.brute_force_topk(two, emb, k=3, dim=dim))
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan, plan


def test_bounded_ivf_topk_scores_probes_in_one_arrow_pass(spark, sf_dir):
    """A bounded quantizer and query set at the pinned width: the probe
    lists are the scorer's key mask, so the candidates are assigned and
    scored in one MapInArrow pass, with no probes⋈candidates join."""
    plan = _plan(suite.ann_ivf_topk(spark, sf_dir))
    assert "MapInArrow" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_top_n_per_group_has_partial_window_limit(spark, sf_dir):
    # rank-limit pushdown: a Partial WindowGroupLimit BEFORE the exchange
    # prunes each map partition to N rows per key — the difference between
    # sorting 100 TB and sorting ~N×|keys| rows
    plan = _plan(suite.top_events_per_user(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("Exchange")[-1]  # partial below the shuffle
    assert plan.count("Exchange hashpartitioning") == 1


def test_pivot_single_aggregation_no_extra_shuffle(spark, sf_dir):
    # explicit pivot values → conditional aggregation in ONE pass: a single
    # hash exchange, no values-discovery job, no per-value scan
    plan = _plan(suite.event_type_pivot(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan


def test_running_revenue_single_window_exchange(spark, sf_dir):
    """All three window functions (cumulative sum, row_number, lag) share
    partitioning+ordering → Catalyst fuses them into ONE Window operator
    fed by ONE hash exchange on o_custkey."""
    plan = _plan(suite.running_customer_revenue(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 1


def test_contamination_broadcasts_eval_grams(spark, sf_dir):
    """The eval set's distinct grams broadcast (benchmarks are small); the
    100 TB training side is never sort-merge shuffled on the gram key."""
    plan = _plan(suite.benchmark_contamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_small_quantity_revenue_no_nested_loop(spark, sf_dir):
    """Q17 decorrelated shape: part dim broadcast, correlation handled by
    an equi-join on l_partkey — no nested-loop anywhere."""
    plan = _plan(suite.small_quantity_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_sliding_window_expand_single_shuffle(spark, sf_dir):
    """HOP windows plan as Expand (4 copies/row) below ONE partial+final
    aggregation — shuffle volume is groups, not the expanded rows."""
    plan = _plan(suite.sliding_window_activity(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Exchange") == 1


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Catalyst's runtime bloom-filter join pruning: with a selective dim
    filter and a non-broadcast join, the fact side gets a
    might_contain(bloom) predicate injected below the shuffle — at 100 TB
    this is the row-level analog of partition pruning.  (Thresholds are
    lowered because the test tables are tiny; the default 10 GB
    application-side threshold only fires at real scale.)"""
    from lab_flink_repository_analytics_spark.session import load_tables

    conf = spark.conf
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = load_tables(spark, sf_dir)
        sel = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            t["lineitem"]
            .join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        assert "might_contain" in _plan(j)
    finally:
        conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
        conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
        conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_partition_pruning_on_month_partitioned_layout(spark, tmp_path):
    """The ingest layout contract: month-partitioned parquet + an equality
    filter on the partition column prunes at planning time — the scan
    touches one directory, not the dataset (at 100 TB this is the
    difference between reading a month and reading a decade)."""
    path = str(tmp_path / "bymonth")
    df = spark.createDataFrame(
        [("2021-01", 1), ("2021-01", 2), ("2021-02", 3), ("2021-03", 4)],
        "month: string, v: int",
    )
    df.write.partitionBy("month").parquet(path)
    q = spark.read.parquet(path).filter(F.col("month") == "2021-02")
    plan = _formatted(q, spark)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "month" in pf  # filter applied at the partition level
    # only one of the three month directories survives planning
    assert q.rdd.getNumPartitions() <= 2
    assert [r["v"] for r in q.collect()] == [3]


def test_triangles_scale_path_shuffles_closing_join(spark, sf_dir, monkeypatch):
    """Above the edge bound the triangle count must NOT broadcast the
    closing edge set (at 100 TB it is data-scale): the semi join stays a
    shuffled keyed join and nothing degenerates to a cartesian product."""
    from lab_flink_repository_analytics_spark.queries import analytics_extra as AX

    monkeypatch.setattr(AX, "TRIANGLES_ARRAY_PATH_MAX_EDGES", 0)
    plan = _plan(AX.copurchase_triangles(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    # the only BroadcastHashJoins allowed are the degree-table orientation
    # joins and none may build the closing LeftSemi side
    assert "BroadcastHashJoin" not in plan.split("LeftSemi")[0].splitlines()[-1]
    # round-7 shape: the closure is a SHUFFLED-HASH semi join — the wedge
    # stream (the only data-volume² artifact in the suite) is probed,
    # never sorted (the r6 sort-merge form spilled super-linearly at the
    # 100× replica, BENCH_SF10.md)
    semi_line = next(ln for ln in plan.splitlines() if "LeftSemi" in ln)
    assert "ShuffledHashJoin" in semi_line, semi_line


def test_bigram_hybrid_has_broadcast_head_and_shuffled_tail(spark, sf_dir):
    """The skew-hardened scoring join: model head broadcast map-side, tail
    through a shuffled (w1, w2)-keyed join — both shapes in ONE plan."""
    from lab_flink_repository_analytics_spark.datapipe import text as TX
    from lab_flink_repository_analytics_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    plan = _plan(TX.bigram_logprob_scores_df(docs, head_k=1))
    # head: the limited model head is an explicit broadcast build side
    assert "BroadcastHashJoin [w1" in plan
    # tail: a KEYED (w1, w2) equi-join — Catalyst may broadcast it at this
    # tiny scale and shuffle it at 100×; what must never appear is a
    # nested-loop/cartesian pairing of doc bigrams with the model
    tail_joins = [
        ln for ln in plan.splitlines()
        if "Join [w1" in ln and "LeftOuter" in ln
    ]
    assert tail_joins, plan
    assert "CartesianProduct" not in plan


def test_embedding_near_dup_cosine_stays_post_join(spark, sf_dir):
    """The 64-term unrolled cosine must stay a PLAIN expression in the
    post-join projection: not pushed into the join condition (where the
    sort-merge regime's single-method predicate codegen cannot split it
    and degrades to interpreted eval — the 100-TB regime killer), and not
    wrapped in a CASE WHEN branch (branches are unsplittable inside
    whole-stage codegen too: measured 14.3-65.7s vs 2.4s at the 10x
    replica).  The pin is an additive nondeterministic zero; this test
    guards it against optimizer changes folding it away."""
    df = suite.embedding_near_dup(spark, sf_dir)
    plan = _plan(df)
    join_lines = [
        ln for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "HashJoin" in ln
    ]
    assert join_lines, plan
    for ln in join_lines:
        # join condition must reference only ids/labels — never the
        # vector columns (the cosine would ride along with them)
        assert " v#" not in ln and "embedding#" not in ln, ln
    # threshold filter evaluated above the projection, on the alias
    assert any(
        "Filter" in ln and "cos_sim" in ln for ln in plan.splitlines()
    ), plan
    # and the projection's cosine is NOT inside a CASE WHEN branch: the
    # only CASE WHEN in the projection is the tiny additive-zero pin
    proj = [ln for ln in plan.splitlines() if "Project" in ln and "cos_sim" in ln]
    assert proj, plan
    assert "THEN 0.0" in proj[0] and "WHEN (monotonically_increasing_id" in proj[0], proj[0]


def test_embedding_covariance_one_arrow_pass_and_one_dims_build(spark, sf_dir):
    # no dim² pair Generate and no round-robin rebalance: the products
    # are summed per batch in one MapInArrow pass; the only Generate is
    # the Σx_i posexplode, and AQE runs its broadcast once for both sides
    df = suite.embedding_covariance(spark, sf_dir)
    plan = _plan(df)
    assert "MapInArrow" in plan, plan
    assert "RoundRobinPartitioning" not in plan, plan
    df.collect()
    final = _plan(df).split("Initial Plan")[0]
    assert final.count("Generate posexplode") == 1, final
    assert re.search(r"ReusedExchange \[.*\], BroadcastExchange", final), final

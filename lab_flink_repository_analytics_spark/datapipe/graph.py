"""Distributed connected components — the clustering step after
near-duplicate candidate generation (pairs → duplicate clusters → keep
one representative per cluster).

Algorithm: iterative min-label propagation.  Every node starts labeled
with itself; each round, labels flow across edges and every node keeps the
minimum label seen; fixpoint = components labeled by their minimum node
id.  Each round is one shuffled join + one aggregation — both plain
DataFrame ops, so Catalyst/AQE handle partitioning and skew.  Rounds
needed = graph diameter; near-dup clusters are shallow (a handful of
rounds).

Iterative DataFrame loops grow lineage without bound; every round is cut
with ``localCheckpoint`` (driver-side truncation, no external checkpoint
dir needed — on a cluster prefer ``checkpoint`` to survive executor
loss).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bidirect(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both orientations of every edge, self-loops dropped; no distinct:
    callers pass distinct edges with ``src < dst``, so none can collide."""
    a = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    return a.unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).filter(F.col("a") != F.col("b"))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) for every node, component = min node id in its CC.

    ``nodes`` optionally supplies isolated vertices (no edges) which come
    out as their own singleton components.  Label propagation: per round
    one join + one min-aggregation, lineage cut with localCheckpoint,
    early exit when no label changed.
    """
    # Checkpoint the bidirected edge table FIRST and derive the node set
    # FROM THE CHECKPOINT (round-10): the former order materialized
    # ``labels`` (whose edge_nodes arm contains the full upstream edge
    # derivation — for dedup clusters that is the whole MinHash-LSH
    # candidate build) and then recomputed the identical derivation a
    # second time for the ``bid`` checkpoint.  One expensive pass instead
    # of two at every scale; measured sf0.1 CC setup 4.98s → ~2.6s.
    bid = _bidirect(edges, src, dst).localCheckpoint(eager=True)
    edge_nodes = bid.select(F.col("a").alias("node")).distinct()
    if nodes is not None:
        all_nodes = (
            nodes.select(F.col(node_col).alias("node"))
            .unionByName(edge_nodes)
            .distinct()
        )
    else:
        all_nodes = edge_nodes
    labels = all_nodes.select("node", F.col("node").alias("component"))
    # non-eager: the initial checksum below materializes this checkpoint
    # in ITS job — same truncation, one driver barrier fewer
    labels = labels.localCheckpoint(eager=False)

    def _checksum(df: DataFrame) -> object:
        # labels only ever decrease under min-propagation, so the label sum
        # strictly decreases on any change: comparing checksums detects the
        # fixpoint with one scan of the checkpointed frame instead of a
        # join-and-count job per round.  DECIMAL(38,0) cannot overflow.
        return df.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev = _checksum(labels)
    for _ in range(max_iterations):
        msgs = bid.join(
            labels, bid["a"] == labels["node"]
        ).select(F.col("b").alias("node"), "component")
        # non-eager checkpoint + checksum = ONE job per round (round-10):
        # the checksum action computes the round's join + min-agg, writes
        # the checkpoint blocks as it goes, and returns the fixpoint
        # probe — the former eager checkpoint ran a separate job first,
        # doubling the per-round driver barriers for the same work.
        labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        cur = _checksum(labels)
        if cur == prev:
            break
        prev = cur
    return labels


#: PageRank rank mass is carried as BIGINT units of 1/PR_SCALE; damping
#: is the rational PR_D_NUM/PR_D_DEN (0.85)
PR_SCALE = 10**12
PR_D_NUM, PR_D_DEN = 17, 20
#: Jacobi steps fused between rank-table checkpoints (see pagerank_int)
PR_CHECKPOINT_EVERY = 3


def pagerank_int(
    edges: DataFrame,
    iters: int = 3,
    deg: DataFrame | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED edge list, in
    scaled-integer arithmetic.  Precondition: ``edges`` is distinct with
    ``pa < pb`` (once per edge); :func:`_bidirect` does not de-duplicate,
    so a repeated or reversed edge would count twice.

    All rank mass is carried as BIGINT units of 1/``PR_SCALE`` and every
    division is integer division, so the result is bit-identical on any
    engine and any partitioning — the same engine-portability trick as the
    md5 hashing in :mod:`dedup` (float PageRank would drift by summation
    order).  Damping is the rational ``PR_D_NUM/PR_D_DEN`` = 0.85.
    Undirected degree ≥ 1 everywhere, so there is no dangling-mass term.

    Scale shape: the source-degree is folded into the bidirected edge
    table ONCE (one prep join, slot-persisted), so per iteration the plan
    is one shuffle-hash join of the narrow (node, pr) rank table onto the
    edge table and one aggregation on dst.  The rank table is
    checkpointed every ``PR_CHECKPOINT_EVERY`` iterations and after the
    last (at the default 3 iterations: after the last only), so a
    storage eviction re-reads a materialized block instead of cascading
    the recompute through every prior round.  Returns (node, pr) with
    ranks in scaled units.

    ``deg``/``n_nodes``: callers that already materialized the graph's
    undirected degree table (node, deg) — e.g. session-shared state also
    consumed by a triangle count — pass it here to skip the degree build.
    Contract: ``deg`` must be the exact degree of the DISTINCT undirected
    edge set (one row per node, deg ≥ 1) and ``n_nodes`` its row count; a
    mismatched table silently mis-weights rank mass.  Without ``deg`` it
    is a lazy aggregation of the same bidirected edge table.
    """
    from pyspark import StorageLevel
    from lab_flink_repository_analytics_spark.session import persist_bounded

    # the bidirected fold is consumed once per iteration; lazy (non-eager)
    # materialization rides iteration 1's job instead of adding a blocking
    # prep barrier that serializes against a FAIR pool (later iterations
    # re-read cached blocks)
    both = _bidirect(edges, "pa", "pb").select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    if deg is None:
        deg = (
            both.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .withColumnRenamed("src", "node")
        )
    ebd = persist_bounded(
        both.join(deg.hint("shuffle_hash"), both["src"] == deg["node"])
        .select("src", "dst", "deg"),
        "graph.pagerank.ebd",
        StorageLevel.MEMORY_AND_DISK,
    )
    n = n_nodes if n_nodes is not None else deg.count()
    # ebd is slot-PERSISTED, not localCheckpoint-ed: an InMemoryRelation
    # keeps the deg-fold join's hashpartitioning(src) visible to Catalyst,
    # so each iteration's shuffle-hash join re-uses it and only the
    # node-cardinality rank table is exchanged.  A checkpointed LogicalRDD
    # reports UnknownPartitioning, which re-shuffled the FULL bidirected
    # edge table every iteration — measured 1.6× super-linear at the 100×
    # rehearsal (BENCH_SF10.md) where that table is 240M rows.  Eviction
    # is disk-backed (MEMORY_AND_DISK spills, never recomputes a lost
    # block through the loop), and the slot frees it on the next
    # pagerank run / bench reset.
    base = (PR_SCALE * (PR_D_DEN - PR_D_NUM)) // (PR_D_DEN * n)
    pr = deg.select("node", F.lit(PR_SCALE // n).cast("bigint").alias("pr"))
    for it in range(iters):
        # never broadcast the rank table: it is node-cardinality and grows
        # with the graph — shuffle-hash keeps the join keyed on the node
        # id at any scale (and keeps AQE from broadcasting mid-iteration).
        # No join back onto the node list: the graph is UNDIRECTED and
        # every node here has deg >= 1, so each node receives inflow from
        # every neighbor — contrib.dst already covers exactly the node
        # set, making the per-iteration plan one join + one aggregation.
        pr = (
            ebd.join(pr.hint("shuffle_hash"), ebd["src"] == pr["node"])
            .select("dst", F.expr("pr DIV deg").alias("c"))
            .groupBy("dst")
            .agg(
                (
                    F.lit(base)
                    + F.expr(f"({PR_D_NUM} * sum(c)) DIV {PR_D_DEN}")
                ).cast("bigint").alias("pr")
            )
            .withColumnRenamed("dst", "node")
        )
        # non-eager, yet not free of driver jobs: checkpointing an
        # adaptive plan materializes its shuffle stages here, so the
        # rounds run while the caller builds its DataFrame, not in its
        # final action (at sf0.001 on local[4], pagerank_int itself runs
        # 7 jobs in 0.6-1.1 s, the caller's noop write 1 job in
        # ~0.05 s).  Each round still runs once and the checkpoint
        # truncates the lineage behind it: the eviction-cascade
        # protection of an eager checkpoint.
        # PR_CHECKPOINT_EVERY fuses that many Jacobi steps per
        # checkpointed round.  A checkpoint is NOT free mid-loop: the
        # checkpointed rank table reports UnknownPartitioning, so the
        # next iteration's shuffle-hash join re-exchanges it — while an
        # unbroken chain feeds groupBy(dst)'s hashpartitioning(node)
        # straight into the next join with no exchange.  Measured at the
        # 10× replica (3 iterations, warm): checkpoint every round
        # 42-87 s, every 2nd 15-18 s, end-only 10.5-13.4 s — identical
        # ranks (integer arithmetic).  3 bounds lineage between cuts at
        # 3 rounds, the recompute depth the 3-iteration graded query
        # always had end to end; the LAST iteration always checkpoints so
        # the returned frame stays lineage-shallow for its consumers.
        if (it + 1) % PR_CHECKPOINT_EVERY == 0 or it == iters - 1:
            pr = pr.localCheckpoint(eager=False)
    return pr.select("node", "pr")

"""Connected components (datapipe/graph.py) — label propagation vs known
component structures, PageRank, and the dedup-cluster summary."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.datapipe import graph


def _cc(spark, pairs, nodes=None):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    nd = (
        spark.createDataFrame([(n,) for n in nodes], "node long")
        if nodes is not None
        else None
    )
    out = graph.connected_components(edges, nodes=nd)
    return {r["node"]: r["component"] for r in out.collect()}


def test_two_components_and_chain(spark):
    # component {1,2,3,4} via a chain + component {10,11}
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_isolated_nodes_are_singletons(spark):
    got = _cc(spark, [(1, 2)], nodes=[1, 2, 99])
    assert got == {1: 1, 2: 1, 99: 99}


def test_duplicate_and_reversed_edges_are_harmless(spark):
    # _bidirect keeps duplicates: min-propagation must absorb duplicated,
    # reversed and self-loop edges
    nodes = [1, 2, 3, 7]
    got = _cc(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3), (7, 7)], nodes)
    assert got == _cc(spark, [(1, 2), (2, 3)], nodes) == {1: 1, 2: 1, 3: 1, 7: 7}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    n = 60
    pairs = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(45)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]

    # reference union-find
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for x in set(v for p in pairs for v in p):
        want[x] = find(x)
    # normalize: component label = min member
    comp_min = {}
    for x, r in want.items():
        comp_min.setdefault(r, x)
        comp_min[r] = min(comp_min[r], x)
    want = {x: comp_min[r] for x, r in want.items()}

    got = _cc(spark, pairs)
    assert got == want


def test_pagerank_int_symmetry_and_hubs(spark):
    from lab_flink_repository_analytics_spark.datapipe.graph import pagerank_int
    # star 0-(1..4) plus triangle 10-11-12: center outranks leaves,
    # symmetric nodes tie exactly (integer arithmetic → exact equality)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11), (10, 12), (11, 12)],
        "pa long, pb long",
    )
    pr = {r["node"]: r["pr"] for r in pagerank_int(edges, iters=3).collect()}
    assert pr[1] == pr[2] == pr[3] == pr[4]
    assert pr[0] > pr[1]
    assert pr[10] == pr[11] == pr[12]
    # total mass stays within integer-truncation slack of the scale
    assert abs(sum(pr.values()) - 10**12) < 100 * len(pr)


def test_pagerank_int_deterministic_across_reshards(spark):
    from lab_flink_repository_analytics_spark.datapipe.graph import pagerank_int
    import random

    rng = random.Random(3)
    rows = list({(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(80)})
    rows = [(a, b) for a, b in rows if a < b]
    e1 = spark.createDataFrame(rows, "pa long, pb long")
    e2 = e1.repartition(7)
    a = sorted(map(tuple, pagerank_int(e1, iters=3).collect()))
    b = sorted(map(tuple, pagerank_int(e2, iters=3).collect()))
    assert a == b

#!/usr/bin/env python
"""Scale-checkable ground truth for the connected-components query family.

The standard oracles for ``dedup_clusters`` / ``cluster_representatives`` /
``leakage_safe_split_counts`` embed a DuckDB RECURSIVE CTE that enumerates
every (node, root) pair of the transitive closure — quadratic in component
size.  At the /tmp/scale replicas the repeated payloads give ~100× duplicate
mass, and the recursion grinds 30+ minutes (BENCH_SF10.md round-8), leaving
the Spark side value-unverified above sf1.

This tool keeps every NON-recursive part of the oracle untouched (the
MinHash signatures, the banded self-join that produces the candidate edge
list, and all downstream aggregation SQL) and replaces ONLY the recursion
with a driver-side union-find over the exact same edge list:

1. DuckDB computes the candidate edge list with ``suite.NEAR_DUP_SQL``.
2. A single-pass union-find (union by size + path compression) labels each
   doc with the min doc_id of its component — the same labeling contract
   as both the Spark min-label propagation and the recursive CTE.
   The edge list is model-sized (bounded by the LSH candidate count, which
   the Spark side also materializes), so driver memory holds it at replica
   scale.
3. The labels are registered as a DuckDB table and textually substituted
   for the recursive fragment inside the ORIGINAL oracle SQL, so the rest
   of the oracle math still runs in DuckDB, unchanged.
4. Spark result vs substituted-oracle result are compared with the same
   driver-mirror canonicalization ``tools/check_correctness.py`` uses.

Usage:
    python tools/check_cc_groundtruth.py [--json OUT] [sf_dir] [query ...]

Default queries: dedup_clusters cluster_representatives
leakage_safe_split_counts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb

import check_correctness as CC
from lab_flink_repository_analytics_spark.queries import suite

CC_QUERIES = (
    "dedup_clusters",
    "cluster_representatives",
    "leakage_safe_split_counts",
)


def union_find_labels(doc_ids, edges):
    """Min-doc_id component labels via union-find (size-union + path
    compression).  One pass over the edges, O(alpha) per op."""
    parent: dict[int, int] = {}
    size: dict[int, int] = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if size.get(ra, 1) < size.get(rb, 1):
            ra, rb = rb, ra
        parent[rb] = ra
        size[ra] = size.get(ra, 1) + size.get(rb, 1)

    # min doc_id per component root, then label every doc
    comp_min: dict[int, int] = {}
    for d in doc_ids:
        r = find(d)
        if r not in comp_min or d < comp_min[r]:
            comp_min[r] = d
    return [(d, comp_min[find(d)]) for d in doc_ids]


def main():
    args = [a for a in sys.argv[1:]]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = args or list(CC_QUERIES)

    import __spark_entry__ as entry_mod
    from lab_flink_repository_analytics_spark.session import get_spark

    spark = get_spark(app_name="check-cc-groundtruth")
    con = duckdb.connect()
    for t in CC.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        if os.path.exists(path):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'")

    # 1-2: edge list (DuckDB, non-recursive) -> union-find labels
    t0 = time.time()
    edges = con.sql(suite.NEAR_DUP_SQL).fetchall()
    doc_ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
    labels = union_find_labels(doc_ids, edges)
    t_gt = time.time() - t0
    print(
        f"ground truth: {len(doc_ids)} docs, {len(edges)} edges, "
        f"{len(set(c for _, c in labels))} clusters  ({t_gt:.1f}s)",
        file=sys.stderr,
    )

    # 3: substitute the recursion out of the original oracles
    # bulk insert via a registered pandas frame (executemany is slow at
    # replica scale)
    con.sql("CREATE OR REPLACE TABLE cl_gt (doc_id BIGINT, cluster_id BIGINT)")
    import pandas as pd

    con.register("cl_gt_src", pd.DataFrame(labels, columns=["doc_id", "cluster_id"]))
    con.sql("INSERT INTO cl_gt SELECT * FROM cl_gt_src")

    recursive_fragment = suite._dedup_clusters_sql()
    oracles = entry_mod.oracle_sql()
    qs = entry_mod.queries()
    report: dict[str, dict] = {}
    ok = True
    for name in names:
        osql = oracles[name]
        assert recursive_fragment in osql, f"{name}: recursive fragment not found"
        sub = osql.replace(
            recursive_fragment, "SELECT doc_id, cluster_id FROM cl_gt"
        )
        t0 = time.time()
        spark_pd = qs[name](spark, sf_dir).toPandas()
        oracle_pd = con.sql(sub).df()
        s_cols, s_rows = CC._driver_normalize(spark_pd)
        o_cols, o_rows = CC._driver_normalize(oracle_pd)
        rows = len(s_rows) == len(o_rows)
        schema = s_cols == o_cols
        hash_ = rows and schema and s_rows == o_rows
        report[name] = {
            "rows_match": rows,
            "schema_match": schema,
            "hash_match": hash_,
            "spark_rows": len(s_rows),
            "oracle_rows": len(o_rows),
            "oracle": "unionfind-groundtruth",
            "err": None,
        }
        ok = ok and hash_
        status = "OK " if hash_ else "FAIL"
        print(
            f"{status}  {name}: {len(s_rows)} rows "
            f"{'exact' if hash_ else 'MISMATCH'}  ({time.time()-t0:.1f}s)",
            file=sys.stderr,
        )
    report["_groundtruth"] = {
        "docs": len(doc_ids),
        "edges": len(edges),
        "clusters": len(set(c for _, c in labels)),
        "build_sec": round(t_gt, 1),
        "sf_dir": sf_dir,
    }
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps(report))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Print physical plans of registry queries.

With no query names, regenerate PLANS.md: the plans of representative
queries with the scale-relevant fragments (pushdown, pruning, broadcast,
exchange count) surfaced.  Evidence artifact for plan-shape review.  With
names, print ``explain("formatted")`` of each named query instead.  The
package imported is the one next to this script, so running it from
another checkout dumps that checkout's plans.

Usage: python tools/dump_plans.py [sf_dir] > PLANS.md
       python tools/dump_plans.py sf_dir QUERY [QUERY ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lab_flink_repository_analytics_spark.queries import suite
from lab_flink_repository_analytics_spark.session import get_spark

SHOW = [
    ("q1_pricing_summary", "filter pushed to parquet scan; pruned ReadSchema; partial+final agg"),
    ("q5_local_supplier_volume", "star join: all four dims broadcast onto the lineitem⋈orders backbone"),
    ("commit_activity", "explode pipelined into the scan stage; single hash exchange for the window agg"),
    ("minhash_signatures", "explode→hash in codegen; one aggregation computes all permutation minima"),
    ("near_dup_pairs", "reads the session-shared LSH candidate build (eagerly checkpointed): one Scan ExistingRDD, no join of its own"),
    ("winnowing_fingerprints", "posexplode→hash-once→sliding window min; groupBy reuses the window partitioning"),
    ("ann_ivf_topk", "driver-held quantizer and probe lists: one MapInArrow pass assigns and scores the candidates, no join; window top-k"),
    ("embedding_near_dup", "small side broadcast; per-row norms computed pre-join"),
    ("asof_purchase_view", "as-of join as union + carry-forward window: ONE hash exchange, no nested-loop"),
    ("interval_click_context", "interval join as bucketed equi-join; left-outer count with no dedup pass"),
    ("top_events_per_user", "partial WindowGroupLimit below the exchange prunes each map side to N per key"),
    ("event_type_pivot", "pivot as conditional aggregation: single exchange (built-in .pivot() plans two)"),
    ("salted_event_rollup", "salted two-phase agg: hot keys fan out over (key, salt), tiny combine phase"),
    ("running_customer_revenue", "three window functions fused into ONE Window operator over one exchange"),
    ("sliding_window_activity", "HOP windows: Expand (4 copies/row) below one partial+final aggregation"),
    ("benchmark_contamination", "eval grams broadcast; training side never shuffles its exploded size"),
    ("small_quantity_revenue", "decorrelated Q17: pre-agg self-join on l_partkey, part dim broadcast"),
    ("label_centroids", "dim flat DECIMAL sums + count in ONE per-group hash agg (no Generate); exact at any partitioning"),
    ("doc_chunks", "row-local chunking: start grid + slice/join in the scan stage, zero exchanges"),
    ("sequence_packing", "per-shard window cumsum; the bin rollup reuses the window's partitioning"),
    ("curation_summary", "four curation rules composed: per-doc reductions meet in broadcast id-joins"),
    ("q15_top_supplier", "scalar max as a window over the aggregated view: ONE lineitem scan"),
    ("q21_lone_returner", "EXISTS/NOT EXISTS pair as semi+anti hash joins, all keyed on orderkey"),
    ("q19_bracket_revenue", "disjunctive brackets stay a single scan+broadcast-join residual filter"),
    ("tfidf_top_terms", "df re-aggregates the tf table (terms ≪ tokens); top-3 via WindowGroupLimit"),
    ("user_value_streaks", "lag + running-sum windows and both rollups ride ONE user_id exchange"),
    ("customer_skyline", "sort-scan skyline: window over distinct acctbals, broadcast back (no n² join)"),
    ("copurchase_triangles", "edge-iterator path at this scale: broadcast in-neighbor arrays + codegen array_intersect over the checkpointed oriented list; wedges from degrees, not enumeration"),
    ("q8_market_share", "widest star: part/supplier/customer/nation×2/region broadcast; one-pass ratio"),
    ("fuzzy_name_pairs", "block-then-verify: deletion-neighborhood masked keys, codegen levenshtein residual"),
    ("inverted_index", "explode → one term aggregation; sorted-set postings, order-insensitive"),
    ("per_group_sample", "md5-ranked k-per-stratum; WindowGroupLimit prunes to k below the exchange"),
    ("copurchase_pagerank", "deg folded into the checkpointed edge table; per-round shuffle-hash joins on node id, rank table never broadcast, lineage cut per round"),
    ("customer_revenue_quartiles", "distributed exact NTILE: range shuffle + partition-offset ranks, NO SinglePartition window"),
    ("bm25_top_terms", "BM25: df/dl/avgdl all re-aggregate the one corpus-shuffled tf table"),
    ("random_projection_sketch", "SRP signature: literal-matrix zip_with/aggregate fold, zero pre-rollup exchanges"),
    ("quantization_error_by_label", "int8 quantize: row-local transform + exact-DECIMAL fold, one label rollup"),
    ("mixture_sample_counts", "mixture quota: hash-filter scan, zero data shuffles before the rollup"),
    ("semantic_dedup", "SemDeDup: driver-held quantizer, one MapInArrow assignment pass (no shuffle); pair cosines confined to one grouped Arrow pass per cluster"),
    ("hard_negative_mining", "driver-held query set: one MapInArrow scoring pass with the label inequality, no join; per-query window top-k"),
    ("boilerplate_gram_frac", "positions pre-aggregated to doc-gram multiplicities; frequent-gram join back"),
    ("bigram_lm_scores", "doc-bigram multiplicities feed both the model rollup and the scoring join"),
    ("kmeans_clusters", "Lloyd: final assignment is one MapInArrow pass against driver-held centroids (no shuffle); each update, one per-cluster agg of dim flat sums, runs before it"),
    ("embedding_covariance", "one MapInArrow pass of per-batch limb partials, no pair Generate or rebalance; one Σx_i plan on both join sides, so AQE runs its broadcast once (ReusedExchange on the j side)"),
    ("user_value_ewma", "per-key sorted-array fold: ONE exchange, recurrence in codegen aggregate"),
    ("windowed_event_dedup", "first-per-(key,window): partial WindowGroupLimit below the single shuffle"),
    ("event_value_zscores", "group moments broadcast back; fact table never shuffles"),
    ("duplicate_text_spans", "positions pre-agg to (doc,gram,positions[]); lead window only over duplicated positions"),
    ("bpe_token_counts", "segmentation per DISTINCT word; corpus side only explodes + equi-joins the vocab table"),
    ("source_mixture_weights", "one #sources rollup joined once; both normalizers are one window over its #sources rows"),
    ("training_order", "salted-hash permutation: only exchange is the shard partition, per-shard windows"),
    ("ann_recall_eval", "recall join moves only the two top-k result sets, never vectors"),
    ("leakage_safe_split_counts", "split key = CC cluster id: near-dups move between splits atomically"),
    ("lsh_dedup_eval", "precision/recall: shared LSH pairs joined onto the capped universe, pair-set full-outer join + scalar counters, partial-agg first"),
    ("event_value_drift", "PSI from histogram sketches: bounded counter grid, broadcast totals join"),
]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="dump-plans")
    qs = suite.queries()
    if len(sys.argv) > 2:
        for name in sys.argv[2:]:
            print(f"## {name}")
            qs[name](spark, sf_dir).explain("formatted")
        return

    print("# PLANS — physical plan evidence (generated by tools/dump_plans.py)")
    print()
    print(f"Source scale: `{sf_dir}`.  `AdaptiveSparkPlan isFinalPlan=false` is")
    print("pre-execution AQE state; exchanges shown are the static plan, which AQE")
    print("can only coalesce/skew-split further at runtime.  Assertions on these")
    print("shapes live in `tests/test_plans.py`.")
    for name, note in SHOW:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print()
        print(f"## {name}")
        print()
        print(f"*{note}*")
        print()
        print("```")
        print(plan.rstrip())
        print("```")


if __name__ == "__main__":
    main()

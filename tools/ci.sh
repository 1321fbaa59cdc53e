#!/usr/bin/env bash
# Pre-handoff gate — run before updating COVERAGE.md claims or handing off.
#
# Round 1 shipped a claims file ("94/95 hash-match") the actual runtime
# contradicted (0/50 — an untested environment assumption in load_tables).
# This script is the fix-as-habit: claims only after these three pass HERE.
#
#   1. pytest tests/ + perfbench/    (full unit/integration suite, then
#                                     the benchmark's Spark-free helpers)
#   2. tools/check_correctness.py    (driver-gate mirror, sf0.01, all queries)
#   3. bench.py smoke                (sf0.001 — proves rc=0 end-to-end,
#                                     a profile record of >= 1 job per query
#                                     and no whole-stage codegen fallback)
#
# Usage: tools/ci.sh [--quick|--extended-smoke]
#   --quick           sf0.001 correctness, subset pytest (incl. the sink
#                     rewrite path: upsert, the rewrite crash windows,
#                     swap recovery, and
#                     the vector kernels: semdedup, k-means, centroid
#                     assignment, brute-force top-k, and the dead-code
#                     audit of the package)
#   --extended-smoke  NO pytest — just a <5 min driver-mirror oracle pass
#                     over a fixed spot-check list spanning every extension
#                     module (graph, BPE, dup-span, similarity, sketches,
#                     text, sampling), at sf0.001.  Run after touching any
#                     extension operator to catch regressions in minutes;
#                     the full gate still runs before handoff.

set -euo pipefail
cd "$(dirname "$0")/.."

QUICK="${1:-}"

# one graded + ungraded query per extension module — the round-3 judge's
# 13-query spot-check list, kept as the standing fast regression net
EXTENDED_SMOKE_QUERIES=(
  copurchase_triangles copurchase_pagerank dedup_clusters
  bpe_merges bpe_token_counts duplicate_text_spans boilerplate_gram_frac
  bigram_lm_scores source_gram_overlap source_token_entropy
  semantic_dedup kmeans_clusters embedding_covariance
  leakage_safe_split_counts ffd_packing_summary event_value_drift
  bpe_fertility_by_source near_dup_source_matrix mixture_token_quotas
  quota_fill_counts length_bucket_stats source_mixture_weights
  ann_cosine_topk ann_lsh_topk ann_ivf_topk ann_recall_eval
  hard_negative_mining label_centroids label_redundancy embedding_near_dup
  near_dup_pairs lsh_dedup_eval minhash_signatures
)

if [[ "$QUICK" == "--extended-smoke" ]]; then
  echo "=== extended smoke: driver-mirror oracle over ${#EXTENDED_SMOKE_QUERIES[@]} extension queries (sf0.001) ==="
  python tools/check_correctness.py --driver-mirror /root/testdata/sf0.001 \
    "${EXTENDED_SMOKE_QUERIES[@]}"
  echo "=== EXTENDED SMOKE: GREEN ==="
  exit 0
fi

echo "=== [1/3] pytest ==="
if [[ "$QUICK" == "--quick" ]]; then
  python -m pytest tests/ -x -q -k "environment or util or plans or upsert or test_rewrite or swap or semdedup or kmeans or assignments or brute_force or covariance or limbs or dead_code"
else
  python -m pytest tests/ -x -q
  # benchmark helpers (metrics, tracing, generators): Spark-free, seconds
  python -m pytest perfbench -q
fi

echo "=== [2/3] correctness vs DuckDB oracle (driver-mirror canon) ==="
# --driver-mirror: canonicalize exactly like the driver (pandas sort_values,
# no list rescue) so unsortable output schemas fail HERE, not on the driver.
if [[ "$QUICK" == "--quick" ]]; then
  python tools/check_correctness.py --driver-mirror /root/testdata/sf0.001
else
  python tools/check_correctness.py --driver-mirror /root/testdata/sf0.01
fi

echo "=== [3/3] bench smoke (sf0.001) ==="
# stderr (the JVM log) is teed to a file: a stage whose generated code
# Janino rejects runs with whole-stage codegen disabled, and that
# fallback must fail the gate, not scroll by
mkdir -p .tmp
SMOKE_LOG=.tmp/bench_smoke.log
# bench.py writes BENCH_SUMMARY.json next to itself: the committed sf0.1
# record is saved before the smoke and put back after the profile check,
# or by the trap when a gate fails first
SAVED_SUMMARY=.tmp/BENCH_SUMMARY.saved.json
restore_summary() {
  if [[ -f "$SAVED_SUMMARY" ]]; then mv -f "$SAVED_SUMMARY" BENCH_SUMMARY.json; fi
}
rm -f "$SAVED_SUMMARY"
if [[ -f BENCH_SUMMARY.json ]]; then cp BENCH_SUMMARY.json "$SAVED_SUMMARY"; fi
trap restore_summary EXIT
exec 3>&1
{
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python bench.py
} 2>&1 1>&3 | tee "$SMOKE_LOG" >&2
exec 3>&-
if grep -E "Code grows beyond 64 KB|Whole-stage codegen disabled" "$SMOKE_LOG" >&2; then
  echo "bench smoke: whole-stage codegen fallback (see $SMOKE_LOG)" >&2
  exit 1
fi
# every query's profile record must hold at least its noop-write job
python - <<'PY'
import json

s = json.load(open("BENCH_SUMMARY.json"))
bad = [
    n for n in s["queries"]
    if not n.startswith("_shared:") and s["profile"].get(n, {}).get("jobs", 0) < 1
]
assert not bad, f"queries without a profile record of >= 1 job: {bad}"
print(f"profile: {len(s['profile'])} records, each with >= 1 job")
PY
restore_summary

echo "=== [extra] bench regression gate (canary-normalized, fatal >1.5x) ==="
# compares the two most recent driver BENCH_r*.json artifacts; a real
# (canary-normalized) per-query slowdown now FAILS the gate instead of
# scrolling by as a report (round-10 verdict task 5)
python tools/bench_compare.py --gate

echo "=== CI GATE: ALL GREEN ==="

#!/bin/bash
# Standing sf1 (10x) scale gate: oracle sample + growth bench.
#
# Round-11 ran this as a one-shot verdict task; from round 12 it is part
# of the per-round protocol (BASELINE.md "Standing sf1 gate"). It:
#   1. regenerates the synthetic sf1 tree via graft.ScaleUp if absent
#      (key-offset FK-consistent replicas, VERBATIM content columns --
#      the duplicate-growth regime a 100 TB corpus presents);
#   2. verifies the 30-query oracle sample at sf1 and re-runs the DuckDB
#      compare TWICE (consecutive clean runs = the flap check; q_anova's
#      old order-dependent float sum is the incident this guards);
#   3. benches the 23-query growth head at sf0.1 and sf1 and prints the
#      ratio table (investigate any family whose ratio jumps vs the
#      BASELINE.md table by >1.5x).
#
# Usage: tools/check_sf1.sh [--bench]   (bench is the slow half; the
# oracle sample alone is the correctness gate)
set -euo pipefail
cd "$(dirname "$0")/.."

SF1=/root/repo/data_sf1
# round-12 additions: the reshaped collapse queries (semantic_dedup,
# density_clusters, spearman, range_join_bucketed) + the grand-total
# decimal aggregates (rollup, cube, join_agg_region) — the exact
# families the 100× soak caught, now gated at 10× every round
SAMPLE=q1_pricing_summary,q_anova,q_audit_timestamp,q_brown_forsythe,q_chi_square,q_cmh,q_contamination,q_cronbach_alpha,q_curation_pipeline,q_dedup_exact,q_fdr_by,q_filter_project,q_g_test,q_golden_record,q_gopher_rules,q_keep_best,q_key_synthesis,q_left_join,q_mann_whitney,q_octadesk_e2e,q_open_tickets,q_semi_join,q_simhash,q_sort_limit,q_stats_agg,q_tfidf,q_token_stats,q_union_slices,q_upsert,q_weighted_kappa,q_window_bucket,q_semantic_dedup,q_density_clusters,q_spearman,q_range_join_bucketed,q_rollup,q_cube,q_join_agg_region
GROWTH=q_density_clusters,q_hits,q_label_prop,q_semantic_dedup,q_triangles,q_ktruss,q_pagerank,q_ppr,q_kcore,q_golden_record,q_fellegi_sunter,q_dup_clusters,q_winnowing,q_textrank,q_tokenizer_fertility,q_neardup_admit,q_dup_spans,q_incremental_cc,q_jaccard_pairs,q_shipping_priority,q_lsh_dedup_eval,q_simhash,q_silhouette

if [ ! -d "$SF1" ]; then
  echo "== scaleup (data_sf1 absent) =="
  sbt -batch "runMain graft.ScaleUp /root/testdata/sf0.1 $SF1 10" \
    > /tmp/graft_scaleup.log 2>&1 || { tail -20 /tmp/graft_scaleup.log; exit 1; }
fi

echo "== sf1 verify ($(echo "$SAMPLE" | tr ',' '\n' | wc -l)-query sample) =="
sbt -batch "runMain graft.Verify $SF1 /root/verify_sf1 $SAMPLE" \
  > /tmp/graft_verify_sf1.log 2>&1 || { tail -20 /tmp/graft_verify_sf1.log; exit 1; }
for pass in 1 2; do
  echo "-- oracle pass $pass --"
  out=$(python3 tools/check_oracle.py "$SF1" /root/verify_sf1 \
    $(echo "$SAMPLE" | tr ',' ' '))
  echo "$out" | tail -1
  echo "$out" | tail -1 | grep -q "^0 failures" \
    || { echo "$out"; echo "SF1 ORACLE FAILURES (pass $pass)"; exit 1; }
done

if [ "${1:-}" = "--bench" ]; then
  echo "== growth bench (23-query head, median-of-3, nproc=$(nproc)) =="
  # unset: Bench falls back to its default data dir, sf0.1
  env -u SPARK_GRAFT_SF_DIR \
    SPARK_GRAFT_ONLY=$GROWTH SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf01.json \
    sbt -batch "runMain graft.Bench" > /dev/null 2>&1
  SPARK_GRAFT_SF_DIR=$SF1 \
    SPARK_GRAFT_ONLY=$GROWTH SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf1.json \
    sbt -batch "runMain graft.Bench" > /dev/null 2>&1
  python3 - <<'EOF'
import json
a = json.load(open('/tmp/bench_sf01.json'))
b = json.load(open('/tmp/bench_sf1.json'))
print(f"{'query':28s} {'sf0.1':>8s} {'sf1':>8s} {'ratio':>6s}")
for q in sorted(a['queries'], key=lambda q: -b['queries'][q]):
    x, y = a['queries'][q], b['queries'][q]
    print(f"{q:28s} {x:8.2f} {y:8.2f} {y/x:6.1f}")
print(f"{'TOTAL':28s} {a['value']:8.1f} {b['value']:8.1f} "
      f"{b['value']/a['value']:6.1f}")
EOF
fi
echo "sf1 gate: PASS"

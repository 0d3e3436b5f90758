#!/bin/bash
# Standing sf10 (100x) scale gate: oracle spot-sample + warm growth bench.
#
# Round-12 ran the 100x soak as one-shot probes (single-rep, JIT-polluted)
# and it caught four real scale cliffs; from round 13 this is the standing
# per-round form (r12 verdict task #2):
#   1. regenerates the synthetic sf10 tree via graft.ScaleUp if absent
#      (key-offset FK-consistent replicas of sf0.1 at 100x -- VERBATIM
#      content columns, the duplicate-heavy regime of a 100 TB corpus);
#   2. verifies a 12-query oracle sample at sf10 INCLUDING the four
#      r12-reshaped collapse queries, and runs the DuckDB compare TWICE
#      (consecutive clean runs = the flap check). The two pair-CC queries
#      use the COLLAPSE-AWARE oracle twins in tools/sf10_oracles.json
#      (row-level SQL pays the copies^2 the engine collapsed away;
#      twin == row-level oracle cross-checked at sf0.1 AND sf1, and the
#      collapse equivalence is spec-pinned in SimilaritySpec);
#   3. --bench: median-of-3 WARM bench of the heavy family head at sf1
#      and sf10 and the growth-ratio table (10x data; investigate any
#      warm ratio > 15 that is not documented output-bound).
#
# Usage: tools/check_sf10.sh [--bench]
set -euo pipefail
cd "$(dirname "$0")/.."

SF10=/root/repo/data_sf10
# r14: +4 heaviest round-13 session-2 shapes (iterative BFS, distinct-
# cell grid, in-codegen array fold, V_a x V_b grid) -> 16-query sample
# r15: +q_kneser_ney (the r14 bench-spike headline -- its big codegen
# expression tree must stay correct AND sane at 100x) and
# q_dedup_weights (heavy, never sf10-sampled) -> 18-query sample
SAMPLE=q1_pricing_summary,q_anova,q_dedup_exact,q_golden_record,q_fellegi_sunter,q_incremental_cc,q_semantic_dedup,q_density_clusters,q_spearman,q_range_join_bucketed,q_stats_agg,q_filter_project,q_landmark_bfs,q_chatterjee,q_holt_linear,q_hodges_lehmann,q_kneser_ney,q_dedup_weights
HEAVY=q_pagerank,q_hits,q_label_prop,q_ppr,q_triangles,q_ktruss,q_kcore,q_semantic_dedup,q_density_clusters,q_spearman,q_range_join_bucketed,q_fellegi_sunter,q_golden_record,q_incremental_cc

if [ ! -d "$SF10" ]; then
  echo "== scaleup (data_sf10 absent) =="
  sbt -batch "runMain graft.ScaleUp /root/testdata/sf0.1 $SF10 100" \
    > /tmp/graft_scaleup10.log 2>&1 || { tail -20 /tmp/graft_scaleup10.log; exit 1; }
fi

echo "== sf10 verify ($(echo "$SAMPLE" | tr ',' '\n' | wc -l)-query sample) =="
sbt -batch "runMain graft.Verify $SF10 /root/verify_sf10 $SAMPLE" \
  > /tmp/graft_verify_sf10.log 2>&1 || { tail -20 /tmp/graft_verify_sf10.log; exit 1; }
for pass in 1 2; do
  echo "-- oracle pass $pass --"
  out=$(ORACLE_OVERRIDES=tools/sf10_oracles.json \
    python3 tools/check_oracle.py "$SF10" /root/verify_sf10 \
    $(echo "$SAMPLE" | tr ',' ' '))
  echo "$out" | tail -1
  echo "$out" | tail -1 | grep -q "^0 failures" \
    || { echo "$out"; echo "SF10 ORACLE FAILURES (pass $pass)"; exit 1; }
done

if [ "${1:-}" = "--bench" ]; then
  echo "== heavy-family growth bench (warm median-of-3, sf1 vs sf10, nproc=$(nproc)) =="
  SPARK_GRAFT_SF_DIR="$PWD/data_sf1" \
    SPARK_GRAFT_ONLY=$HEAVY SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf1h.json \
    sbt -batch "runMain graft.Bench" > /dev/null 2>&1
  SPARK_GRAFT_SF_DIR=$SF10 \
    SPARK_GRAFT_ONLY=$HEAVY SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf10h.json \
    sbt -batch "runMain graft.Bench" > /dev/null 2>&1
  python3 - <<'PYEOF'
import json
a = json.load(open('/tmp/bench_sf1h.json'))
b = json.load(open('/tmp/bench_sf10h.json'))
print(f"{'query':28s} {'sf1':>8s} {'sf10':>8s} {'ratio':>6s}")
for q in sorted(a['queries'], key=lambda q: -b['queries'][q]):
    x, y = a['queries'][q], b['queries'][q]
    print(f"{q:28s} {x:8.2f} {y:8.2f} {y/x:6.1f}")
print(f"{'TOTAL':28s} {a['value']:8.1f} {b['value']:8.1f} "
      f"{b['value']/a['value']:6.1f}")
PYEOF
fi
echo "sf10 gate: PASS"

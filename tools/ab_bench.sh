#!/bin/bash
# Interleaved A/B bench (generalized r15, per the r14 verdict): compare
# TWO work trees on an explicit query list by alternating full bench
# invocations A,B,A,B,... on the same box, so box-condition drift hits
# both trees equally; each invocation is Bench's own median-of-3 warm
# reps. This is the instrument that settles "did tree B regress query Q
# or did the box?" — the r13 run (r12-vs-r13 on the 16 most-drifted
# queries) measured the recorded +13% drift as box conditions (ratio
# 0.91, r13 faster).
#
# Usage: ab_bench.sh <treeA_dir> <treeB_dir> <q1,q2,...> [rounds] [sfDir]
#   e.g. ab_bench.sh /root/repo/ab_r13 /root/repo/ab_r14 q_kneser_ney,q_kcore 3
# Output: per-round JSON under /tmp/ab_<treename>_round<N>.json + a
# summary table (per-query medians, ratio B/A, all raw runs).
set -euo pipefail
TREE_A=${1:?usage: ab_bench.sh <treeA> <treeB> <queries> [rounds] [sfDir]}
TREE_B=${2:?usage: ab_bench.sh <treeA> <treeB> <queries> [rounds] [sfDir]}
QS=${3:?comma-separated query list}
ROUNDS=${4:-3}
SF_DIR=${5:-/root/testdata/sf0.1}
NAME_A=$(basename "$TREE_A")
NAME_B=$(basename "$TREE_B")
for i in $(seq 1 "$ROUNDS"); do
  for tree in "$TREE_A" "$TREE_B"; do
    name=$(basename "$tree")
    echo "== round $i tree $name =="
    (cd "$tree" && \
      SPARK_GRAFT_SF_DIR="$SF_DIR" \
      SPARK_GRAFT_ONLY=$QS SPARK_GRAFT_BENCH_OUT=/tmp/ab_${name}_round${i}.json \
      sbt -batch "runMain graft.Bench" > /tmp/ab_${name}_round${i}.log 2>&1)
  done
done
echo "nproc=$(nproc)"
python3 - "$NAME_A" "$NAME_B" "$ROUNDS" <<'PYEOF'
import json, sys, statistics
a, b, rounds = sys.argv[1], sys.argv[2], int(sys.argv[3])
data = {}
for tree in (a, b):
    per = {}
    for i in range(1, rounds + 1):
        d = json.load(open(f"/tmp/ab_{tree}_round{i}.json"))
        for q, s in d.get("queries", d).items():
            per.setdefault(q, []).append(s)
    data[tree] = per
qs = sorted(data[a])
print(f"{'query':26s} {a+' med':>10s} {b+' med':>10s} {'ratio':>6s}  {a} runs / {b} runs")
tota = totb = 0.0
for q in qs:
    ma = statistics.median(data[a][q]); mb = statistics.median(data[b][q])
    tota += ma; totb += mb
    ra = ",".join(f"{x:.2f}" for x in data[a][q])
    rb = ",".join(f"{x:.2f}" for x in data[b][q])
    print(f"{q:26s} {ma:10.2f} {mb:10.2f} {mb/ma:6.2f}  [{ra}] / [{rb}]")
print(f"{'TOTAL':26s} {tota:10.2f} {totb:10.2f} {totb/tota:6.2f}")
PYEOF

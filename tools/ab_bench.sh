#!/bin/bash
# Interleaved A/B of two work trees on the same box: each round runs both
# trees back to back, A first in odd rounds and B first in even rounds, so
# box drift and the "second run is warmer" effect hit both trees equally.
#
# Two modes:
#
#   ab_bench.sh <treeA> <treeB> <q1,q2,...> [rounds] [sfDir]
#     graft.Bench on a query list (each invocation is Bench's own
#     median-of-3 warm reps). Output: per-round JSON under
#     /tmp/ab_<A|B>_round<N>.json and a table of per-query medians,
#     ratio B/A and all raw runs.
#
#   ab_bench.sh --perfbench <treeA> <treeB> <workload> <seed,seed,...> [seconds]
#     perfbench/run.py of each tree, one pair per seed. Output: each run's
#     JSON under /tmp/ab_<A|B>_<workload>_seed<N>.json and, per end-to-end
#     metric of the tree's BENCHMARK.json, each side's median and
#     quartiles, the pairs B won, and the median per-pair ratio B/A.
#     e.g. ab_bench.sh --perfbench ../parent . query_mix 1,2,3,4,5,6,7,8,9,10
set -euo pipefail

if [ "${1:-}" = "--perfbench" ]; then
  shift
  TREE_A=${1:?usage: ab_bench.sh --perfbench <treeA> <treeB> <workload> <seeds> [seconds]}
  TREE_B=${2:?usage: ab_bench.sh --perfbench <treeA> <treeB> <workload> <seeds> [seconds]}
  WORKLOAD=${3:?workload name}
  SEEDS=${4:?comma-separated seed list}
  SECONDS_PER_RUN=${5:-14}
  i=0
  for seed in ${SEEDS//,/ }; do
    i=$((i + 1))
    if [ $((i % 2)) -eq 1 ]; then order="A B"; else order="B A"; fi
    for side in $order; do
      if [ "$side" = A ]; then tree=$TREE_A; else tree=$TREE_B; fi
      out=/tmp/ab_${side}_${WORKLOAD}_seed${seed}.json
      echo "== seed $seed tree $side ($tree) =="
      (cd "$tree" && python3 perfbench/run.py --workload "$WORKLOAD" \
        --seed "$seed" --seconds "$SECONDS_PER_RUN" --trace 0 \
        2>/tmp/ab_${side}_${WORKLOAD}_seed${seed}.log | tail -n 1 > "$out")
      cat "$out"
    done
  done
  echo "nproc=$(nproc)"
  python3 - "$TREE_A" "$WORKLOAD" "$SEEDS" <<'PYEOF'
import json, statistics, sys
tree_a, workload, seeds = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
metrics = json.load(open(f"{tree_a}/BENCHMARK.json"))["end_to_end"]
runs = {side: [json.load(open(f"/tmp/ab_{side}_{workload}_seed{s}.json"))
               for s in seeds] for side in "AB"}
for side in "AB":
    bad = [s for s, r in zip(seeds, runs[side]) if r.get("failed", 0) or not r.get("correct", 1)]
    if bad:
        print(f"tree {side}: failed or incorrect runs at seeds {','.join(bad)}")
def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return f"{statistics.median(xs):.4g} ({q1:.4g}-{q3:.4g})"
print(f"{workload}: {len(seeds)} pairs, seeds {','.join(seeds)}")
print(f"{'metric':12s} {'A median (q1-q3)':>26s} {'B median (q1-q3)':>26s} {'B won':>6s} {'B/A':>6s}")
for m in metrics:
    name, higher = m["name"], m["better"] == "higher"
    a = [r["metrics"][name]["value"] for r in runs["A"]]
    b = [r["metrics"][name]["value"] for r in runs["B"]]
    won = sum((y > x) if higher else (y < x) for x, y in zip(a, b))
    ratio = statistics.median(y / x for x, y in zip(a, b) if x)
    print(f"{name:12s} {spread(a):>26s} {spread(b):>26s} {won:>3d}/{len(a):<2d} {ratio:6.3f}")
PYEOF
  exit 0
fi

TREE_A=${1:?usage: ab_bench.sh <treeA> <treeB> <queries> [rounds] [sfDir]}
TREE_B=${2:?usage: ab_bench.sh <treeA> <treeB> <queries> [rounds] [sfDir]}
QS=${3:?comma-separated query list}
ROUNDS=${4:-3}
SF_DIR=${5:-/root/testdata/sf0.1}
for i in $(seq 1 "$ROUNDS"); do
  if [ $((i % 2)) -eq 1 ]; then order="A B"; else order="B A"; fi
  for side in $order; do
    if [ "$side" = A ]; then tree=$TREE_A; else tree=$TREE_B; fi
    echo "== round $i tree $side ($tree) =="
    (cd "$tree" && \
      SPARK_GRAFT_SF_DIR="$SF_DIR" \
      SPARK_GRAFT_ONLY=$QS SPARK_GRAFT_BENCH_OUT=/tmp/ab_${side}_round${i}.json \
      sbt -batch "runMain graft.Bench" > /tmp/ab_${side}_round${i}.log 2>&1)
  done
done
echo "nproc=$(nproc)"
python3 - "$ROUNDS" <<'PYEOF'
import json, sys, statistics
rounds = int(sys.argv[1])
data = {}
for tree in "AB":
    per = {}
    for i in range(1, rounds + 1):
        d = json.load(open(f"/tmp/ab_{tree}_round{i}.json"))
        for q, s in d.get("queries", d).items():
            per.setdefault(q, []).append(s)
    data[tree] = per
qs = sorted(data["A"])
print(f"{'query':26s} {'A med':>10s} {'B med':>10s} {'ratio':>6s}  A runs / B runs")
tota = totb = 0.0
for q in qs:
    ma = statistics.median(data["A"][q]); mb = statistics.median(data["B"][q])
    tota += ma; totb += mb
    ra = ",".join(f"{x:.2f}" for x in data["A"][q])
    rb = ",".join(f"{x:.2f}" for x in data["B"][q])
    print(f"{q:26s} {ma:10.2f} {mb:10.2f} {mb/ma:6.2f}  [{ra}] / [{rb}]")
print(f"{'TOTAL':26s} {tota:10.2f} {totb:10.2f} {totb/tota:6.2f}")
PYEOF

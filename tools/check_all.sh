#!/bin/bash
# One-shot round check: compile, full test suite, benchmark build, oracle
# verify, bench.
# Usage: tools/check_all.sh [sf_verify_dir] [sf_bench_dir]
set -euo pipefail
cd "$(dirname "$0")/.."
VSF=${1:-/root/testdata/sf0.01}
BSF=${2:-/root/testdata/sf0.1}
# Offline sbt, as in the Tier-1 command, unless the caller set its own.
export COURSIER_MODE=${COURSIER_MODE:-offline}
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

echo "== test =="
sbt -batch test > /tmp/graft_test.log 2>&1 || { tail -20 /tmp/graft_test.log; exit 1; }
grep -E "Tests:" /tmp/graft_test.log | head -3

# perfbench compiles src/main with its own build: an operator signature it
# calls that changed shows up here, before a benchmark run does.
echo "== perfbench compile =="
if [ -z "${SPARK_HOME:-}" ] && command -v spark-submit > /dev/null; then
  SPARK_HOME=$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")
  export SPARK_HOME
fi
(cd perfbench && sbt --batch compile) > /tmp/graft_perfbench.log 2>&1 \
  || { tail -20 /tmp/graft_perfbench.log; exit 1; }
grep -E "success" /tmp/graft_perfbench.log | tail -1

echo "== verify =="
sbt -batch "runMain graft.Verify $VSF /root/verify_out" > /tmp/graft_verify.log 2>&1 \
  || { tail -20 /tmp/graft_verify.log; exit 1; }
grep -E "verify\] " /tmp/graft_verify.log || true
oracle_out=$(python3 tools/check_oracle.py "$VSF" /root/verify_out)
echo "$oracle_out" | tail -2
echo "$oracle_out" | tail -1 | grep -q "^0 failures" \
  || { echo "ORACLE FAILURES"; exit 1; }

echo "== bench (nproc=$(nproc)) =="
SPARK_GRAFT_SF_DIR=$BSF sbt -batch "runMain graft.Bench" 2>/dev/null \
  | grep '"metric"'

#!/usr/bin/env bash
# End-of-round gate: everything the round must leave green, as one
# command. Order matters — PLANS.md is regenerated LAST so its mtime
# postdates the final code state (a standing judge invariant).
#
# Usage: scripts/round_check.sh [fast]
#   fast  = skip the sf0.001/sf0.1 verify sweeps (sf0.01 always runs)
set -u
cd "$(dirname "$0")/.."
FAST=${1:-}
fail=0
step() { echo; echo "=== $1 ==="; }

step "build + full test suite"
sbt -batch clean test >/tmp/round_check_test.log 2>&1 \
  && tail -3 /tmp/round_check_test.log | grep -q "All tests passed" \
  || { echo "TESTS RED"; tail -10 /tmp/round_check_test.log; fail=1; }
grep -E "Tests: succeeded" /tmp/round_check_test.log | tail -1

verify_at() {
  local sf="$1"
  step "verify + oracle compare at $sf"
  local out; out=$(mktemp -d /tmp/round_check_XXXX)
  sbt -batch "runMain graft.Verify /root/testdata/$sf $out" \
    >/tmp/round_check_verify_$sf.log 2>&1 \
    || { echo "VERIFY FAILED at $sf"; fail=1; rm -rf "$out"; return; }
  local res; res=$(python3 scripts/check_oracles.py "/root/testdata/$sf" "$out")
  echo "$res" | tail -1
  echo "$res" | tail -1 | grep -q ", 0 fail" || fail=1
  rm -rf "$out"
}
verify_at sf0.01
if [ "$FAST" != "fast" ]; then
  verify_at sf0.001
  verify_at sf0.1
fi

step "bench (writes BENCH.json, min of 3; refuses a loaded box)"
# REFUSE_LOADED: Bench already waits up to 10 min for loadavg decay;
# if the box is STILL above SPARK_GRAFT_MAX_LOAD after that, fail the
# round check loudly instead of committing contention noise (the r17
# driver snapshot carried 20-50x outliers from a contended window).
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
SPARK_GRAFT_BENCH_RUNS=${SPARK_GRAFT_BENCH_RUNS:-3} \
SPARK_GRAFT_MAX_LOAD=${SPARK_GRAFT_MAX_LOAD:-2.0} \
SPARK_GRAFT_BENCH_REFUSE_LOADED=1 \
  sbt -batch "runMain graft.Bench" >/tmp/round_check_bench.log 2>&1 \
  || { echo "BENCH FAILED (or box too loaded to bench — see log)"; fail=1; }
python3 -c "
import json
d = json.load(open('BENCH.json'))
print(f\"total {d['value']}s over {len(d['queries'])} queries\")" || fail=1

step "focused A/B rerun of the slowest queries (writes BENCH_AB.json)"
bash scripts/bench_ab.sh 10 3 || fail=1

step "regenerate PLANS.md (LAST: mtime must postdate the code)"
sbt -batch "runMain graft.Bench plans /root/testdata/sf0.01 PLANS.md" \
  >/tmp/round_check_plans.log 2>&1 || { echo "PLANS FAILED"; fail=1; }
echo "PLANS.md: $(grep -c '^## ' PLANS.md) plans"

echo
[ $fail -eq 0 ] && echo "ROUND CHECK GREEN" || echo "ROUND CHECK RED"
exit $fail

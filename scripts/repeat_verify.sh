#!/usr/bin/env bash
# Repeat-verify of the driver pathway for a focused query set (r5 verdict
# item #1): fresh sbt build -> graft.Verify -> check_oracles.py, N times,
# capturing a canonical content hash of each query's parquet output per
# iteration. If this loop is green N times with a stable hash and the
# driver's CORRECTNESS row stays red, the remaining delta is in the
# driver's hasher, not this repo.
#
# Usage: scripts/repeat_verify.sh <sfDir> [queries_csv] [n_runs]
set -u
SF_DIR=${1:?sfDir}
QUERIES=${2:-q_source_report}
N=${3:-3}
# normalize once: every consumer (the runner's query filter, the oracle prune,
# the expected-PASS count) must tokenize identically, or a space after a
# comma flags a green run as RED
QUERIES=$(echo "$QUERIES" | tr -d '[:space:]')

cd "$(dirname "$0")/.."
sbt -batch clean compile >/tmp/repeat_verify_build.log 2>&1 || {
  echo "BUILD FAILED"; tail -20 /tmp/repeat_verify_build.log; exit 1; }

fail=0
for i in $(seq 1 "$N"); do
  out=$(mktemp -d /tmp/verify_rep_XXXX)
  SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
    sbt -batch "runMain graft.Verify $SF_DIR $out" \
    >/tmp/repeat_verify_run_$i.log 2>&1 || { echo "run $i: Verify FAILED"; fail=1; continue; }
  for q in ${QUERIES//,/ }; do
    # canonical hash: row-sorted full-precision CSV via duckdb
    h=$(python3 - "$out" "$q" <<'EOF'
import sys, duckdb, hashlib
out, q = sys.argv[1], sys.argv[2]
rel = duckdb.connect().execute(f"SELECT * FROM '{out}/{q}/*.parquet'")
cols = [d[0] for d in rel.description]
order = sorted(range(len(cols)), key=lambda i: cols[i])
rows = sorted(tuple(repr(r[i]) for i in order) for r in rel.fetchall())
print(hashlib.md5(repr(rows).encode()).hexdigest())
EOF
)
    echo "run $i $q content_hash=$h"
    # hashes must be IDENTICAL across iterations (the stability claim)
    eval "prev=\${hash_$q:-}"
    if [ -n "$prev" ] && [ "$prev" != "$h" ]; then
      echo "run $i: $q content hash CHANGED ($prev -> $h)"; fail=1
    fi
    eval "hash_$q=$h"
  done
  # focused Verify dumps only the selected queries: prune the oracle list
  # to match before the compare
  python3 - "$out" "$QUERIES" <<'EOF'
import json, sys
out, qs = sys.argv[1], set(sys.argv[2].split(","))
p = f"{out}/oracle_sql.json"
sql = json.load(open(p))
json.dump({k: v for k, v in sql.items() if k in qs}, open(p, "w"))
EOF
  res=$(python3 scripts/check_oracles.py "$SF_DIR" "$out")
  echo "$res" | grep -E "^(PASS|FAIL|==)" | sed "s/^/run $i: /"
  echo "$res" | grep -q ", 0 fail" || fail=1
  # fail closed on a vacuous run: a typo'd query name selects nothing,
  # which would otherwise sail through as "0 pass, 0 fail"
  n_expect=$(echo "$QUERIES" | tr ',' '\n' | grep -c .)
  n_pass=$(echo "$res" | grep -c "^PASS")
  if [ "$n_pass" -ne "$n_expect" ]; then
    echo "run $i: expected $n_expect PASSes, got $n_pass (unknown query name?)"
    fail=1
  fi
  rm -rf "$out"
done
[ $fail -eq 0 ] && echo "REPEAT-VERIFY GREEN ($N/$N)" || echo "REPEAT-VERIFY RED"
exit $fail

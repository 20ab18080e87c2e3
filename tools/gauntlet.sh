#!/usr/bin/env bash
# Full pre-commit gauntlet: compile, specs, oracle parity, the
# benchmark's self-checks, the two CLI verbs' and the query mix's answer
# checks, bench.
# Usage: tools/gauntlet.sh  (from the repo root)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== compile + test =="
sbt -batch test 2>&1 | grep -E 'Tests:|error\]' | tail -3

echo "== verify + DuckDB oracle (sf0.01) =="
out=$(mktemp -d)
log=$(mktemp)
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out" >"$log" 2>&1
# Verify reports a query body that throws only as a "[verify] <name>
# failed" line, and c01 has no oracle for check.py to miss it by.
if grep -E '\[verify\] [^ ]+ failed' "$log"; then
  echo "verify: a query body threw (full log: $log)" >&2; exit 1
fi
python3 tools/check.py /root/testdata/sf0.01 "$out" | tail -1

echo "== perfbench selfcheck (store-build attribution, generators, tail rule) =="
python3 perfbench/selfcheck.py | tail -1

echo "== verbs (perfbench ccdc_tile: planted breaks, prediction counts) =="
verbs=$(python3 perfbench/run.py --workload ccdc_tile --seed 1 --seconds 5 --trace 0 | tail -1)
echo "$verbs" | cut -c1-200
echo "$verbs" | grep -q '"correct": true' || { echo "verbs: answer check failed" >&2; exit 1; }

echo "== query mix (perfbench query_mix: answers against the oracle SQL) =="
mix=$(python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0 | tail -1)
echo "$mix" | cut -c1-200
echo "$mix" | grep -q '"correct": true' || { echo "query mix: answer check failed" >&2; exit 1; }

echo "== bench (sf0.1; the summary line — bench/last.json has the full record) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>/dev/null \
  | grep '"metric"' | tail -1

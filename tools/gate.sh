#!/usr/bin/env bash
# The mandatory pre-snapshot gate (r5/r6 verdicts: two rounds shipped
# ungated; this script IS the last step before any end-of-round commit).
#
# Runs, in order, appending to GATE_<tag>.log with timestamps + HEAD:
#   1. sbt test              (all ScalaTest suites)
#   2. graft.Verify          (full registry -> parquet + oracle_sql.json, sf0.01)
#   3. tools/check.py        (DuckDB oracle compare, driver-parity)
#   4. graft.PlanAudit       (registry-wide plan linter)
#   5. perfbench/run.py      (api_mix + vector_query, seed 1, 15 s; each run
#                             must exit 0 and report "correct": true; both
#                             run, and a red run's `  error:` lines are logged)
#
# Exit nonzero on ANY red step. Usage: tools/gate.sh [round-tag]
set -o pipefail
cd "$(dirname "$0")/.."
TAG="${1:-r07}"
LOG="GATE_${TAG}.log"
OUT=/tmp/gate_verify_out
HEADLINE="$(git rev-parse --short HEAD) ($(git diff --stat HEAD | tail -1 | sed 's/^ *//'))"
{
  echo "=== GATE ${TAG} — started $(date -u '+%F %T') UTC (HEAD ${HEADLINE:-clean}) ==="
  echo "--- sbt test ---"
} >> "$LOG"
sbt -batch test > /tmp/gate_sbt_test.log 2>&1
RC=$?
grep -E "Tests:|All tests passed|TESTS FAILED" /tmp/gate_sbt_test.log | tail -3 >> "$LOG"
if [ $RC -ne 0 ]; then echo "GATE RED: sbt test rc=$RC" | tee -a "$LOG"; exit 1; fi

echo "--- Verify (full registry, sf0.01) ---" >> "$LOG"
# Start from an empty outDir: the 2-arg Verify never clears it, and a
# result left by an earlier run would be graded against the new oracle set.
rm -rf "$OUT"
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $OUT" > /tmp/gate_verify.log 2>&1
RC=$?
tail -1 /tmp/gate_verify.log >> "$LOG"
if [ $RC -ne 0 ]; then echo "GATE RED: Verify rc=$RC" | tee -a "$LOG"; exit 1; fi

echo "--- check.py ---" >> "$LOG"
python3 tools/check.py /root/testdata/sf0.01 $OUT 120 > /tmp/gate_check.log 2>&1
RC=$?
# Name every non-PASS row in the gate log (r9 verdict item 1: a skip
# without a name is undiagnosable after the fact).
grep -E "^(SKIP|FAIL)" /tmp/gate_check.log >> "$LOG"
tail -3 /tmp/gate_check.log >> "$LOG"
if [ $RC -ne 0 ] || ! grep -qE "^[0-9]+/[0-9]+ pass" /tmp/gate_check.log || \
   grep -qE "FAIL|MISMATCH" /tmp/gate_check.log; then
  echo "GATE RED: check.py (see /tmp/gate_check.log)" | tee -a "$LOG"; exit 1
fi

echo "--- PlanAudit ---" >> "$LOG"
sbt -batch "runMain graft.PlanAudit /root/testdata/sf0.01" > /tmp/gate_audit.log 2>&1
RC=$?
grep -E "audit:" /tmp/gate_audit.log | tail -1 >> "$LOG"
tail -1 /tmp/gate_audit.log >> "$LOG"
if [ $RC -ne 0 ] || ! grep -qE "audit: 0 flagged" /tmp/gate_audit.log; then
  echo "GATE RED: PlanAudit rc=$RC" | tee -a "$LOG"; exit 1
fi

# Both workloads run even when the first is red, and a red run's failed
# requests are named in the log by their `  error:` lines, so a failure can
# be told apart from a known benchmark defect after the fact.
PERF_RED=0
for W in api_mix vector_query; do
  echo "--- perfbench ${W} ---" >> "$LOG"
  python3 perfbench/run.py --workload "$W" --seed 1 --seconds 15 --trace 0 \
    > "/tmp/gate_perf_${W}.log" 2>&1
  RC=$?
  grep -E '^\{"correct":' "/tmp/gate_perf_${W}.log" | tail -1 >> "$LOG"
  if [ $RC -ne 0 ] || \
     ! grep -qE '^\{"correct": true,' "/tmp/gate_perf_${W}.log"; then
    grep -E '^  error:' "/tmp/gate_perf_${W}.log" >> "$LOG"
    echo "GATE RED: perfbench ${W} rc=$RC (see /tmp/gate_perf_${W}.log)" \
      | tee -a "$LOG"
    PERF_RED=1
  fi
done
if [ $PERF_RED -ne 0 ]; then exit 1; fi

echo "=== GATE ${TAG} — finished $(date -u '+%F %T') UTC — ALL GREEN ===" >> "$LOG"
echo "GATE GREEN"

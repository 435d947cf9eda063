#!/usr/bin/env bash
# One-command correctness gate: runs the driver contract (graft.Verify)
# and the DuckDB oracle compare (scripts/selfcheck.py) at sf0.01 AND
# sf0.001, exiting nonzero on any FAIL. The oracle-pin specs run first
# and fail fast. Pass --test to also run the ScalaTest suite first.
# This is the same recipe the round driver runs; run it before every
# round snapshot.
#
# Usage: scripts/gate.sh [--test]
set -uo pipefail
cd "$(dirname "$0")/.."

fail=0

if [[ "${1:-}" == "--test" ]]; then
  echo "== sbt test =="
  if ! sbt -batch test > /tmp/gate_sbt_test.log 2>&1; then
    echo "GATE: sbt test FAILED (log: /tmp/gate_sbt_test.log)"
    fail=1
  fi
  grep -E "Tests:|All tests" /tmp/gate_sbt_test.log | tail -2
fi

# Fast fail: an oracle string that drifted from its pin (or a
# duplicated/unregistered row) fails here in seconds, before ~10
# minutes of Verify runs.
echo "== oracle pin + driver contract specs =="
if ! sbt -batch "testOnly graft.OracleSqlPinSpec graft.SparkEntrySpec" \
    > /tmp/gate_pin.log 2>&1; then
  grep -E -A20 "\*\*\* FAILED" /tmp/gate_pin.log | head -60 || true
  echo "GATE: oracle pin specs FAILED (log: /tmp/gate_pin.log)"
  echo "GATE: FAIL"
  exit 1
fi

for sf in 0.01 0.001; do
  out="/tmp/gate_out_sf${sf}"
  echo "== Verify + selfcheck at sf${sf} =="
  # Stale-output hazard: selfcheck would happily validate parquet left
  # by a PREVIOUS green run if this Verify fails to produce output —
  # so always start from an empty dir and fail on Verify's own exit.
  rm -rf "${out}"
  if ! sbt -batch "runMain graft.Verify /root/testdata/sf${sf} ${out}" \
      > "/tmp/gate_verify_sf${sf}.log" 2>&1; then
    echo "GATE: Verify FAILED at sf${sf} (log: /tmp/gate_verify_sf${sf}.log)"
    fail=1
    continue
  fi
  # sbt tags Spark INFO on stderr as [error]; only [verify] lines matter
  grep -E "^\[error\] \[verify\]" "/tmp/gate_verify_sf${sf}.log" || true
  # run selfcheck once; show per-query FAIL lines plus the summary (the
  # PASS lines are noise, but a tripped gate must say WHICH query failed)
  sc_out=$(python3 scripts/selfcheck.py "/root/testdata/sf${sf}" "${out}")
  sc_rc=$?
  echo "${sc_out}" | grep -vE "^PASS " || true
  if [[ ${sc_rc} -ne 0 ]]; then
    echo "GATE: selfcheck FAILED at sf${sf}"
    fail=1
  fi
done

if [[ $fail -eq 0 ]]; then
  echo "GATE: PASS (both scale factors)"
else
  echo "GATE: FAIL"
fi
exit $fail

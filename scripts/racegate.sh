#!/usr/bin/env bash
# Cross-process commit-arbitration gate (VERDICT r14 item 6): the
# in-JVM race specs (ConcurrentCommitSpec, DeltaArbitrationSpec) prove
# thread-level serialization; this gate proves the same claim protocol
# across SEPARATE JVMs — two writer processes interleave N arbitrated
# commits each against one table, then a checker asserts linear history
# (versions 1..2N+1, no gaps) and no lost update (every writer's rows
# present). Runs both storage forms: snapshot (commitNextArbitrated)
# and delta (commitDeltaArbitrated, stage-once).
#
# Usage: scripts/racegate.sh [nCommitsPerWriter]   # default 5
# Build first: sbt compile (needs target/scala-2.13/classes).
set -uo pipefail
cd "$(dirname "$0")/.."

N="${1:-5}"
OUT=target/racegate
mkdir -p "$OUT"

run() { JVM_MEM=3g scripts/runmain.sh graft.RaceGate "$@"; }

fail=0
for form in snap delta; do
  dir="$OUT/${form}_table_$$"
  rm -rf "$dir"
  echo "[racegate] $form: init + 2 writer JVMs x $N commits"
  run "init-$form" "$dir" > "$OUT/${form}_init.log" 2>&1 || { echo "[racegate] $form init FAILED"; fail=1; continue; }
  run "$form" "$dir" 1 "$N" > "$OUT/${form}_w1.log" 2>&1 &
  p1=$!
  run "$form" "$dir" 2 "$N" > "$OUT/${form}_w2.log" 2>&1 &
  p2=$!
  wait "$p1"; r1=$?
  wait "$p2"; r2=$?
  if [[ $r1 -ne 0 || $r2 -ne 0 ]]; then
    echo "[racegate] $form writer exit codes: $r1 $r2 (see $OUT/${form}_w*.log)"
    fail=1
    continue
  fi
  # contention evidence: at least one commit needed a retry, else the
  # two JVMs never actually raced and the run proves nothing
  retries=$(grep -h "RACE_COMMIT" "$OUT/${form}_w1.log" "$OUT/${form}_w2.log" \
    | grep -vc "attempts=1")
  echo "[racegate] $form: commits with retries = $retries"
  if run "check-$form" "$dir" "$N" > "$OUT/${form}_check.log" 2>&1; then
    grep RACEGATE_OK "$OUT/${form}_check.log"
    if [[ "$retries" -eq 0 ]]; then
      echo "[racegate] $form: WARNING zero contested commits — rerun for a real race"
    fi
  else
    echo "[racegate] $form check FAILED:"
    grep RACEGATE_FAIL "$OUT/${form}_check.log" || tail -5 "$OUT/${form}_check.log"
    fail=1
  fi
  rm -rf "$dir"
done
exit $fail

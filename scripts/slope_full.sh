#!/usr/bin/env bash
# Full-registry decade-3 slope run (VERDICT r12 item 3): every registry
# key at sf0.1 AND target/sf1 (10x) under the slope tripwire, batched so
# a wedged key costs one batch, with per-batch tallies logged.
#
# Excluded BY NAME (the q9-class O(n^2) oracle anchors — 10x data is
# 100x work by construction, so the 30x slope cap names the fixture's
# quadratic, not an operator defect; each anchor's at-scale twin runs):
#   q9_cosine_selfjoin / q9b_cosine_selfjoin_t038  brute cosine self-join
#       anchors (scale path: l3b_cosine_pairs_bucketed, l4c_topk_bucketed)
#   l3_cosine_pairs       brute all-pairs baseline (twin l3b runs)
#   l4_topk_neighbors     brute top-k baseline (twin l4c runs)
#   l4b_topk_agg          bounded-heap SHUFFLE shape, but all-pairs
#                         COMPUTE by design (anchor for l4c)
#
# Usage: scripts/slope_full.sh [keysFile] [batchSize]
#   keysFile: one registry key per line — regenerate with
#     scripts/runmain.sh graft.Cli keys > /tmp/all_keys.txt
set -uo pipefail
cd "$(dirname "$0")/.."

KEYS_FILE="${1:-/tmp/all_keys.txt}"
BATCH="${2:-40}"
OUT=target/slope_r13
mkdir -p "$OUT"
EXCLUDE="q9_cosine_selfjoin q9b_cosine_selfjoin_t038 l3_cosine_pairs l4_topk_neighbors l4b_topk_agg"

grep -vxF -f <(printf '%s\n' $EXCLUDE) "$KEYS_FILE" > "$OUT/keys_included.txt"
TOTAL=$(wc -l < "$OUT/keys_included.txt")
echo "[slope] $TOTAL keys in $(( (TOTAL + BATCH - 1) / BATCH )) batches of <=$BATCH (excluded: $EXCLUDE)"

split -l "$BATCH" -d "$OUT/keys_included.txt" "$OUT/batch_"
fail=0
n=0
for bf in "$OUT"/batch_*; do
  [[ "$bf" == *.log ]] && continue
  n=$((n + 1))
  keys=$(paste -sd, "$bf")
  echo "[slope] batch $n ($(wc -l < "$bf") keys) starting $(date +%H:%M:%S)"
  SPARK_GRAFT_ONLY="$keys" \
  SPARK_GRAFT_SLOPE_DIR=target/sf1 \
  SPARK_GRAFT_TRIPWIRE_BUDGET_S=120 \
  SPARK_GRAFT_SLOPE_BUDGET_S=900 \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-24}" JVM_MEM=16g \
    scripts/runmain.sh graft.Tripwire /root/testdata/sf0.1 > "$bf.log" 2>&1
  rc=$?
  if [[ $rc -ne 0 ]]; then
    fail=$((fail + 1))
    echo "[slope] batch $n FAILED (rc=$rc):"
    grep -E "SLOPE|TIMEOUT|FAILED|LEAK|offender" "$bf.log" | tail -10
  else
    echo "[slope] batch $n PASS: $(grep -c 'ok ' "$bf.log") keys ok"
  fi
done
echo "[slope] done: $n batches, $fail failed"
exit $fail

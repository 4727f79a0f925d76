#!/usr/bin/env bash
# Constrained-heap spill gate (VERDICT r12 item 4).
#
# Runs graft.SpillGate twice over the heavy probes at the given SF:
#   run A — roomy heap (8g), no forced spill: the reference hashes
#   run B — small heap (default 2g) + numElementsForceSpillThreshold,
#           so every external sorter / hash-agg / SMJ buffer actually
#           exercises its spill path
# and PASSES only if (a) every query's order-independent content hash
# is identical across the two runs and (b) run B recorded nonzero
# spill. Through scripts/runmain.sh (not sbt) so the two JVMs can't
# share state and the sbt lock stays free.
#
# Usage: scripts/spillgate.sh [sfDir] [smallHeap] [forceElems]
#
# Covered classes and their force thresholds (VERDICT r13 item 6 — a
# threshold too high for a class is caught by the per-run vacuity
# check, then lowered until the class REALLY spills):
#   defaults (262144):  lj2_prefix_jaccard ls3_tfidf_topk lpq_pq_ann q2_join3
#   r13 heavies (8192): lt85_crossdoc_spans q53_zorder_skipping
#                       q58_incremental_mv q61_entity_resolution
#   graph loops (8192): SPARK_GRAFT_ONLY=lg12_louvain,lg15_ktruss
#                       (967 MB mem + 13 MB disk each, hash-identical)
#   window frames (256): SPARK_GRAFT_ONLY=w11_moving_median,lt22_rolling_corr
#                       (55 / 231 MB mem — their per-partition frame
#                       buffers sit under 8192 rows at sf0.1, so the
#                       window class needs the lower threshold to
#                       exercise its spill path at all)
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.1}"
SMALL="${2:-2g}"
FORCE="${3:-262144}"

echo "[spillgate] run A: -Xmx8g (reference)" >&2
A=$(JVM_MEM=8g scripts/runmain.sh graft.SpillGate "$SF" 2>/dev/null | tail -1)
echo "[spillgate] A: $A" >&2

echo "[spillgate] run B: -Xmx$SMALL + forceSpillThreshold=$FORCE" >&2
B=$(SPARK_GRAFT_FORCE_SPILL_ELEMS="$FORCE" JVM_MEM="$SMALL" \
    scripts/runmain.sh graft.SpillGate "$SF" 2>/dev/null | tail -1)
echo "[spillgate] B: $B" >&2

python3 - "$A" "$B" <<'EOF'
import json, sys
a, b = json.loads(sys.argv[1]), json.loads(sys.argv[2])
fail = 0
for k, qa in a["queries"].items():
    qb = b["queries"].get(k)
    if qb is None:
        print(f"[spillgate] FAIL {k}: missing in constrained run"); fail = 1; continue
    if (qa["rows"], qa["hash"]) != (qb["rows"], qb["hash"]):
        print(f"[spillgate] FAIL {k}: hash mismatch "
              f"A=({qa['rows']},{qa['hash']}) B=({qb['rows']},{qb['hash']})")
        fail = 1
    else:
        print(f"[spillgate] ok {k}: rows={qa['rows']} hash match; "
              f"B spill mem={qb['spill_mem_mb']}MB disk={qb['spill_disk_mb']}MB "
              f"({qa['sec']}s -> {qb['sec']}s)")
spilled = sum(q["spill_mem_mb"] + q["spill_disk_mb"] for q in b["queries"].values())
if spilled == 0:
    print("[spillgate] FAIL: constrained run recorded ZERO spill — gate vacuous")
    fail = 1
else:
    print(f"[spillgate] constrained run spilled {spilled}MB total "
          f"(heap {b['max_heap_mb']}MB vs {a['max_heap_mb']}MB)")
print("[spillgate]", "FAIL" if fail else "PASS")
sys.exit(fail)
EOF

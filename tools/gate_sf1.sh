#!/usr/bin/env bash
# Standing sf1 scale gate (VERDICT r12 #3): regenerates /tmp/graft_sf1 if
# absent, dumps Spark results for (a) the keys named on the command line
# (this round's NEW/CHANGED keys) plus (b) a fixed 50-key rotating sample
# of the rest (rotation indexed by GRAFT_SF1_ROTATION, default = number of
# CORRECTNESS_r*.json files, so it advances one window per round; width
# raised 20 -> 50 in r15 so the full registry re-proves in ~9 rounds
# instead of ~22 — the gate runs in minutes either way), then
# oracle-compares with tools/check_sf1.py and tees the log for check-in.
#
# Usage: tools/gate_sf1.sh [new_or_changed_key ...]
#   env: GRAFT_SF1_DIR (default /tmp/graft_sf1)
#        GRAFT_SF1_OUT (default /tmp/gate_sf1_out)
#        GRAFT_SF1_LOG (default tools/gate_sf1.log)
#        GRAFT_SF1_ROTATION (default: count of CORRECTNESS_r*.json)
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${GRAFT_SF1_DIR:-/tmp/graft_sf1}"
OUT="${GRAFT_SF1_OUT:-/tmp/gate_sf1_out}"
LOG="${GRAFT_SF1_LOG:-tools/gate_sf1.log}"

if [ ! -f "$SF_DIR/lineitem.parquet" ]; then
  echo "[gate_sf1] regenerating $SF_DIR (rep=10 over sf0.1)"
  python3 tools/gen_sf.py --out "$SF_DIR" --rep 10
fi

# rotation sample: 50 keys from the sorted oracle-checked registry,
# window advanced per round — over ~9 rounds every key re-proves at sf1
ROT="${GRAFT_SF1_ROTATION:-$(ls CORRECTNESS_r*.json 2>/dev/null | wc -l)}"
mkdir -p "$OUT"
# dump oracle_sql.json first (cheap single-key Verify run) so the sample
# can be computed from the REGISTRY, not from a stale dump
SPARK_GRAFT_KEYS="scan_parquet" \
  sbt -batch "runMain graft.Verify $SF_DIR $OUT" >/dev/null 2>&1
SAMPLE=$(python3 - "$OUT" "$ROT" "$@" <<'EOF'
import json, sys
out, rot = sys.argv[1], int(sys.argv[2])
explicit = set(sys.argv[3:])
keys = sorted(json.load(open(f"{out}/oracle_sql.json")))
n = len(keys)
W = 50
start = (rot * W) % n
sample = [keys[(start + i) % n] for i in range(W)]
print(",".join(sorted(set(sample) | explicit)))
EOF
)
echo "[gate_sf1] rotation=$ROT keys: $SAMPLE" | tee "$LOG"

SPARK_GRAFT_KEYS="$SAMPLE" \
  sbt -batch "runMain graft.Verify $SF_DIR $OUT" 2>&1 | tail -3 | tee -a "$LOG"
python3 tools/check_sf1.py "$SF_DIR" "$OUT" $(echo "$SAMPLE" | tr ',' ' ') \
  2>&1 | tee -a "$LOG"

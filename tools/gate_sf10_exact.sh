#!/usr/bin/env bash
# Exact sf10 oracle gate (VERDICT r15 #2): sf10 coverage was invariant-based
# (tools/check_sf10.py recurrence rules); this gate upgrades a 25-key
# rotation per round to the SAME exact DuckDB compare sf1 already gets —
# full row/schema/value match at 60 M facts. Keys rotate over the
# EXACT-ELIGIBLE subset of the oracle registry: keys whose DuckDB oracle is
# linear-ish at sf10 (aggregate/window/TPC-H/corpus readouts). Families
# whose ORACLES are super-linear in DuckDB at 60 M rows (graph closures,
# theta/range/interval joins, pairwise dedup/similarity, md5-per-replicate
# bootstraps, recursive-CTE replays) stay on the invariant gate — that
# exclusion bounds the ORACLE's cost, not the Spark side's, which is
# already sf10-proven for every key (scaleprobe_r15*). Each oracle runs
# under `timeout 600`; a timeout records oracle_timeout (Spark-verified-
# only at sf10), never a silent skip.
#
# Usage: tools/gate_sf10_exact.sh [extra_key ...]
#   env: GRAFT_SF10_DIR (default /tmp/graft_sf10)
#        GRAFT_SF10_OUT (default /tmp/gate_sf10_out)
#        GRAFT_SF10_LOG (default tools/gate_sf10_exact.log)
#        GRAFT_SF10_ROTATION (default: count of CORRECTNESS_r*.json)
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${GRAFT_SF10_DIR:-/tmp/graft_sf10}"
OUT="${GRAFT_SF10_OUT:-/tmp/gate_sf10_out}"
LOG="${GRAFT_SF10_LOG:-tools/gate_sf10_exact.log}"

if [ ! -f "$SF_DIR/lineitem.parquet" ]; then
  echo "[gate_sf10] regenerating $SF_DIR (rep=100 over sf0.1)"
  python3 tools/gen_sf.py --out "$SF_DIR" --rep 100
fi

ROT="${GRAFT_SF10_ROTATION:-$(ls CORRECTNESS_r*.json 2>/dev/null | wc -l)}"
mkdir -p "$OUT"
# registry dump first so the sample derives from the CURRENT key set
SPARK_GRAFT_KEYS="scan_parquet" \
  sbt -batch "runMain graft.Verify $SF_DIR $OUT" >/dev/null 2>&1
SAMPLE=$(python3 - "$OUT" "$ROT" "$@" <<'EOF'
import json, re, sys
out, rot = sys.argv[1], int(sys.argv[2])
explicit = set(sys.argv[3:])
keys = sorted(json.load(open(f"{out}/oracle_sql.json")))
# exact-eligible: linear-oracle families. Everything else keeps its
# invariant-based sf10 coverage (tools/check_sf10.py).
ELIGIBLE_RE = re.compile(
    r"^(agg_|corpus_|text_(?!fingerprint)|window_(?!cusum)|event_|fn_|"
    r"dq_|resample_|sample_|sql_|pivot|unpivot|scan_|project_|filter_|"
    r"sort_|topk|union_|distinct_|null_|cast_|json_|str_|ts_|date_)")
# within the eligible families, a few oracles are still super-linear at
# 60 M rows (md5-per-replicate fanouts, per-row array explosions, global
# pairwise stats) — keep them on the invariant gate
DENY = {
    "agg_bootstrap_ci",        # 8 md5/row x 60 M in DuckDB
    "agg_kmv_intersect",       # md5 per (user,day,type) distinct triple
    "sql_scripting",           # iterative WHILE replay
}
elig = [k for k in keys if ELIGIBLE_RE.match(k) and k not in DENY]
n = len(elig)
W = 25
start = (rot * W) % n
sample = [elig[(start + i) % n] for i in range(W)]
print(",".join(sorted(set(sample) | explicit)))
EOF
)
echo "[gate_sf10] rotation=$ROT keys: $SAMPLE" | tee "$LOG"

SPARK_GRAFT_KEYS="$SAMPLE" \
  sbt -batch "runMain graft.Verify $SF_DIR $OUT" 2>&1 | tail -3 | tee -a "$LOG"

PASS=0; FAIL=0; TMO=0
for k in $(echo "$SAMPLE" | tr ',' ' '); do
  set +e
  timeout 600 python3 tools/check_sf1.py "$SF_DIR" "$OUT" "$k" \
    > /tmp/gate_sf10_key.log 2>&1
  rc=$?
  set -e
  if [ $rc -eq 0 ]; then
    # `|| echo`: under set -e a checker that exits 0 without printing a
    # PASS line must still record the result, not abort the rotation
    # (ADVICE r16)
    PASS=$((PASS+1))
    { grep "^PASS" /tmp/gate_sf10_key.log || echo "PASS $k (exit 0, no PASS line)"; } | tee -a "$LOG"
  elif [ $rc -eq 124 ]; then
    TMO=$((TMO+1)); echo "ORACLE_TIMEOUT $k (600s — Spark-verified-only at sf10)" | tee -a "$LOG"
  else
    FAIL=$((FAIL+1)); grep "^FAIL" /tmp/gate_sf10_key.log | tee -a "$LOG" || \
      (echo "FAIL $k: (see below)"; tail -5 /tmp/gate_sf10_key.log) | tee -a "$LOG"
  fi
done
echo "[gate_sf10] $PASS pass, $FAIL fail, $TMO oracle_timeout" | tee -a "$LOG"
# cumulative exact-value sf10 coverage across every rotation log so far
CUM=$(grep -h "^PASS " tools/gate_sf10_exact*.log 2>/dev/null \
  | awk '{print $2}' | sed 's/:.*//' | sort -u | wc -l)
echo "[gate_sf10] cumulative exact-matched keys across rotations: $CUM" | tee -a "$LOG"
[ $FAIL -eq 0 ]

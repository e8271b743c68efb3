#!/usr/bin/env bash
# Scale gate: a rotating window of oracle-checked registry keys, plus any
# keys named on the command line, runs through graft.Verify at sf1 or sf10
# and is compared against DuckDB one key at a time by tools/check.py.
#
# Usage: tools/gate.sh <sf1|sf10> [key ...]
#   env: GRAFT_GATE_DATA (default /tmp/graft_<scale>; generated by
#          tools/gen_sf.py from sf0.1 when it holds no lineitem.parquet)
#        GRAFT_GATE_OUT (default /tmp/gate_<scale>_out; Verify output and
#          gate.log)
#        SPARK_DRIVER_MEM (Verify's heap, default 8g)
#
# The window is WIDTH keys of the scale's eligible keys, sorted by name,
# starting at (commits * WIDTH) mod n with commits = `git rev-list --count
# HEAD`, so it moves with every commit. Each compare runs under `timeout`;
# one that runs out of time is recorded as ORACLE_TIMEOUT (the key is
# Spark-verified only at that scale). The gate exits 1 on any FAIL.
set -euo pipefail
cd "$(dirname "$0")/.."

SCALE="${1:-}"
shift || true
TIMEOUT=600  # seconds per key's check.py
# Per scale: generator args, window width and the eligible keys. At sf10
# only families whose DuckDB oracle stays about linear at 60 M rows are
# eligible; graph closures, theta/range/interval
# joins, pairwise dedup/similarity and recursive replays keep their sf10
# coverage from the invariant rules (tools/check_sf10.py). DENY holds the
# eligible-family oracles that are still super-linear there.
case "$SCALE" in
  sf1)
    GEN="--rep 10"; WIDTH=50
    ELIGIBLE='.'; DENY='' ;;
  sf10)
    GEN="--rep 100"; WIDTH=25
    ELIGIBLE='^(agg_|corpus_|text_(?!fingerprint)|window_(?!cusum)|event_|fn_|dq_|resample_|sample_|sql_|unpivot|scan_|project_|filter_|sort_|topk)'
    # agg_bootstrap_ci: 8 md5 per row; agg_kmv_intersect: md5 per distinct
    # (user, day, type); sql_scripting: iterative WHILE replay
    DENY='agg_bootstrap_ci agg_kmv_intersect sql_scripting' ;;
  *)
    echo "usage: tools/gate.sh <sf1|sf10> [key ...]" >&2; exit 2 ;;
esac

DATA="${GRAFT_GATE_DATA:-/tmp/graft_$SCALE}"
OUT="${GRAFT_GATE_OUT:-/tmp/gate_${SCALE}_out}"
LOG="$OUT/gate.log"
ROT=$(git rev-list --count HEAD)

if [ ! -f "$DATA/lineitem.parquet" ]; then
  echo "[gate $SCALE] generating $DATA ($GEN over sf0.1)"
  python3 tools/gen_sf.py --out "$DATA" $GEN
fi
mkdir -p "$OUT"
# a one-key Verify dumps oracle_sql.json, so the window comes from the
# current registry, not from a stale dump
SPARK_GRAFT_KEYS=scan_parquet sbt -batch "runMain graft.Verify $DATA $OUT" \
  > "$OUT/registry.log" 2>&1 || { tail -20 "$OUT/registry.log"; exit 1; }
KEYS=$(python3 - "$OUT/oracle_sql.json" "$ROT" "$WIDTH" "$ELIGIBLE" "$DENY" "$@" <<'EOF'
import json, re, sys
oracle, rot, width, eligible, deny = sys.argv[1:6]
explicit = set(sys.argv[6:])
keys = sorted(json.load(open(oracle)))
unknown = explicit - set(keys)
if unknown:
    sys.exit(f"not oracle-checked keys: {' '.join(sorted(unknown))}")
elig = [k for k in keys if re.match(eligible, k) and k not in deny.split()]
n, w = len(elig), int(width)
start = int(rot) * w % n
print(" ".join(sorted({elig[(start + i) % n] for i in range(min(w, n))} | explicit)))
EOF
)
echo "[gate $SCALE] rotation=$ROT keys: $KEYS" | tee "$LOG"

SPARK_GRAFT_KEYS="${KEYS// /,}" \
  sbt -batch "runMain graft.Verify $DATA $OUT" 2>&1 | tail -3 | tee -a "$LOG"

PASS=0; FAIL=0; TMO=0
for k in $KEYS; do
  rc=0
  timeout "$TIMEOUT" python3 tools/check.py "$DATA" "$OUT" "$k" \
    > "$OUT/check.log" 2>&1 || rc=$?
  if [ $rc -eq 0 ]; then
    PASS=$((PASS + 1)); echo "PASS $k" | tee -a "$LOG"
  elif [ $rc -eq 124 ]; then
    TMO=$((TMO + 1))
    echo "ORACLE_TIMEOUT $k (${TIMEOUT}s: Spark-verified only at $SCALE)" | tee -a "$LOG"
  else
    FAIL=$((FAIL + 1))
    { grep "^  $k: " "$OUT/check.log" || tail -5 "$OUT/check.log"; } \
      | sed "s/^ */FAIL /" | tee -a "$LOG"
  fi
done
echo "[gate $SCALE] $PASS pass, $FAIL fail, $TMO oracle_timeout" | tee -a "$LOG"
[ $FAIL -eq 0 ]

#!/usr/bin/env bash
# r18 j~0.8 boundary-crowd probe (VERDICT r17 #2 "done =" clause): crowds
# whose TRUE pairwise Jaccard sits at {0.78, 0.80, 0.82, 0.90}, sizes
# straddling the 64 shingle-df/bucket caps (32..200), including 9-shingle
# short docs — the thinnest part of the recall surface. Machine checks:
#   - every j >= 0.8 crowd clusters FULLY (one cluster_rep, size == crowd)
#   - every j < 0.8 crowd emits ZERO edges of any kind (absent from
#     dedup_clusters output entirely), even where star CANDIDATES fire
#     (the 128-doc j=0.78 crowd saturates its band mode bucket) — exact
#     full-shingle-set verification is what rejects them
#   - dedup_minhash_star (cap-1 demo listing) agrees edge-wise: no (u,v)
#     edge inside a j<0.8 crowd, and every edge it lists is intra-crowd
# Record: tools/scaleprobe_r18_boundary.json
#
# Usage: tools/probe_boundary.sh
#   env: GRAFT_BOUNDARY_DIR (default /tmp/graft_boundary)
#        GRAFT_BOUNDARY_OUT (default /tmp/graft_boundary_out)
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${GRAFT_BOUNDARY_DIR:-/tmp/graft_boundary}"
OUT="${GRAFT_BOUNDARY_OUT:-/tmp/graft_boundary_out}"

python3 tools/gen_boundary.py --out "$DIR"

mkdir -p "$OUT"
T0=$(date +%s)
SPARK_GRAFT_KEYS="dedup_clusters,dedup_minhash_star" \
  sbt -batch "runMain graft.Verify $DIR $OUT" 2>&1 | tail -3
T1=$(date +%s)

python3 - "$DIR" "$OUT" "$((T1 - T0))" <<'EOF'
import glob, json, sys
import pyarrow.parquet as pq

gen_dir, out, secs = sys.argv[1], sys.argv[2], int(sys.argv[3])
manifest = json.load(open(f"{gen_dir}/manifest.json"))

def tbl(k):
    files = glob.glob(f"{out}/{k}/*.parquet")
    assert files, f"no output for {k}"
    return pq.read_table(files[0]).to_pylist()

cl = tbl("dedup_clusters")
by_doc = {r["doc_id"]: r for r in cl}
star = tbl("dedup_minhash_star")

checks = {}
for g in manifest:
    gid, first, last, size = g["gid"], g["first"], g["last"], g["size"]
    members = [by_doc.get(i) for i in range(first, last + 1)]
    present = [m for m in members if m is not None]
    if g["expect_cluster"]:
        reps = {m["cluster_rep"] for m in present}
        sizes = {m["cluster_size"] for m in present}
        ok = (len(present) == size and reps == {first}
              and sizes == {size})
        checks[f"{gid}_j{g['j']}_n{size}_full_cluster"] = {
            "value": f"{len(present)}/{size} members, reps={sorted(reps)}, "
                     f"sizes={sorted(sizes)}",
            "rule": f"all {size} in one cluster rep={first}", "pass": ok}
    else:
        ok = len(present) == 0
        checks[f"{gid}_j{g['j']}_n{size}_zero_edges"] = {
            "value": f"{len(present)} members clustered",
            "rule": "0 members appear in dedup_clusters", "pass": ok}

# star-edge view: no edge may connect two docs of a j<0.8 crowd, and no
# edge may cross crowds / reach a filler
ranges = {g["gid"]: (g["first"], g["last"], g["expect_cluster"])
          for g in manifest}
def gid_of(doc):
    for gid, (a, b, _) in ranges.items():
        if a <= doc <= b:
            return gid
    return None
bad_star = [e for e in star
            if gid_of(e["u"]) != gid_of(e["v"])
            or gid_of(e["u"]) is None
            or not ranges[gid_of(e["u"])][2]]
checks["star_edges_only_inside_j_ge_08_crowds"] = {
    "value": f"{len(star)} edges, {len(bad_star)} bad",
    "rule": "every star edge intra-crowd with j >= 0.8",
    "pass": len(bad_star) == 0}

# fillers must never cluster
fillers = [d for d in by_doc if gid_of(d) is None]
checks["fillers_unclustered"] = {
    "value": f"{len(fillers)} fillers in output",
    "rule": "== 0", "pass": len(fillers) == 0}

ok = all(v["pass"] for v in checks.values())
rec = {"probe": "boundary_crowds_j08", "verify_wall_sec": secs,
       "groups": manifest, "checks": checks, "pass": ok}
with open("tools/scaleprobe_r18_boundary.json", "w") as f:
    json.dump(rec, f)
    f.write("\n")
print(json.dumps({k: v for k, v in checks.items()}, indent=1))
print("PASS" if ok else "FAIL")
sys.exit(0 if ok else 1)
EOF

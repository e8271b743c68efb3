#!/usr/bin/env bash
# Embedding-FLOOD probe — a saturated sign-LSH bucket going quadratic. Corpus = the 5 000 sf0.1 vectors plus
# 200 000 byte-identical copies of vector 0 (one bucket at occupancy
# ~200k). Uncapped all-pairs inside that bucket is ~2·10^10 cosine rows —
# unrunnable; with EmbBucketCap the cluster key pays O(occ) star edges +
# O(reps²) and the roster-capped keys pay occ·256, so the whole family
# finishes in seconds. Checks:
#   - dedup_embedding_clusters: the flood forms ONE cluster of >= 200001
#     (every copy + the base vector reaches the code-rep at cosine 1)
#   - emb_knn_graph / emb_hubness_ann: complete, bounded output
#   - wall for the three keys recorded; pass = all three under 600 s
# Record: $GRAFT_FLOOD_OUT/embflood.json
#
# Usage: tools/probe_emb_flood.sh
#   env: GRAFT_FLOOD_DIR (default /tmp/graft_embflood)
#        GRAFT_FLOOD_OUT (default /tmp/graft_embflood_out)
#        GRAFT_FLOOD_COPIES (default 200000)
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${GRAFT_FLOOD_DIR:-/tmp/graft_embflood}"
OUT="${GRAFT_FLOOD_OUT:-/tmp/graft_embflood_out}"
COPIES="${GRAFT_FLOOD_COPIES:-200000}"

python3 - "$DIR" "$COPIES" <<'EOF'
import os, sys
import duckdb
d, copies = sys.argv[1], int(sys.argv[2])
os.makedirs(d, exist_ok=True)
con = duckdb.connect()
con.execute(f"""
  COPY (
    SELECT vec_id, embedding
    FROM '/root/testdata/sf0.1/embeddings.parquet'
    UNION ALL
    SELECT 5000 + r.r AS vec_id,
           (SELECT embedding FROM '/root/testdata/sf0.1/embeddings.parquet'
            WHERE vec_id = 0) AS embedding
    FROM (SELECT unnest(range({copies})) AS r) r
    ORDER BY vec_id
  ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)""")
n = con.sql(f"SELECT count(*) FROM '{d}/embeddings.parquet'").fetchone()[0]
print(f"flood corpus: {n} vectors ({copies} copies of vec 0)")
EOF

mkdir -p "$OUT"
T0=$(date +%s)
SPARK_DRIVER_MEM=16g SPARK_GRAFT_KEYS="dedup_embedding_clusters,emb_knn_graph,emb_hubness_ann" \
  sbt -batch "runMain graft.Verify $DIR $OUT" 2>&1 | tail -2
T1=$(date +%s)

python3 - "$DIR" "$OUT" "$((T1 - T0))" "$COPIES" <<'EOF'
import glob, json, sys
import pyarrow.parquet as pq
import pyarrow.compute as pc

gen, out, secs, copies = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])

def tbl(k):
    files = glob.glob(f"{out}/{k}/*.parquet")
    assert files, f"no output for {k}"
    return pq.read_table(files[0])

cl = tbl("dedup_embedding_clusters")
mx = pc.max(cl.column("cluster_size")).as_py()
knn = tbl("emb_knn_graph").num_rows
hub = tbl("emb_hubness_ann").num_rows

checks = {
    "flood_one_cluster": (mx, f">= {copies + 1}", mx >= copies + 1),
    "knn_complete": (knn, ">= 3", knn >= 3),
    "hubness_top100": (hub, "== 100", hub == 100),
    "wall_bounded": (secs, "<= 600 s for the whole 3-key Verify",
                     secs <= 600),
}
ok = all(c[2] for c in checks.values())
rec = {"probe": "emb_flood", "copies": copies,
       "verify_wall_sec": secs,
       "checks": {k: {"value": v[0], "rule": v[1], "pass": v[2]}
                  for k, v in checks.items()},
       "pass": ok}
with open(f"{out}/embflood.json", "w") as f:
    json.dump(rec, f)
    f.write("\n")
print(json.dumps(rec, indent=1))
sys.exit(0 if ok else 1)
EOF

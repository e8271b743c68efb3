#!/usr/bin/env bash
# Corpus-x200 EXACT probe: 1 M byte-identical document replicas and 1 M
# embedding replicas. The embedding keys must hold recall while bounding
# the within-bucket candidate volume:
#   - dedup_embedding_clusters: rows x200, cluster_size >= 200 (flood
#     recall identical to all-pairs through code-rep stars)
#   - emb_hubness_ann: candidate count <= n*EmbBucketCap by construction;
#     the probe computes the actual blocked-candidate count in DuckDB and
#     asserts the bound
#   - the standard corpus-mode rule set (check_sf10 --corpus 200) runs for
#     the whole dedup/sim family
# Records: scaleprobe_corpus.json (+ _ref) and hubness_bound.json in
# ${GRAFT_CORPUS_DIR}_out.
#
# Usage: tools/probe_corpus.sh
#   env: GRAFT_CORPUS_DIR (default /tmp/graft_corpus200)
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${GRAFT_CORPUS_DIR:-/tmp/graft_corpus200}"
OUT="${DIR}_out"
KEYS="dedup_exact,dedup_near_exact,dedup_ngram_jaccard,dedup_containment,dedup_clusters,dedup_survivor,dedup_minhash,dedup_simhash,dedup_minhash_star,dedup_prefix,dedup_embedding,dedup_embedding_clusters,dedup_incremental,dedup_minhash_md5,dedup_simhash_md5,dedup_substring,dedup_cross_source_matrix,dedup_threshold_sweep,sim_cosine_topk,sim_topk_batch,sim_range_search,sim_ann_lsh,sim_ann_ivf,sim_ann_persisted,sim_mips_topk,emb_knn_graph,emb_hubness,emb_hubness_ann"

if [ ! -f "$DIR/documents.parquet" ]; then
  echo "[probe_corpus] generating $DIR (corpus x200 EXACT)"
  python3 tools/gen_sf.py --out "$DIR" --rep 1 --rep-corpus 200
fi
mkdir -p "$OUT"

SPARK_DRIVER_MEM=16g sbt -batch \
  "Test/runMain graft.ScaleProbe /root/testdata/sf0.1 $OUT/scaleprobe_corpus_ref.json $KEYS" \
  2>&1 | tail -1
SPARK_DRIVER_MEM=48g sbt -batch \
  "Test/runMain graft.ScaleProbe $DIR $OUT/scaleprobe_corpus.json $KEYS" \
  2>&1 | tail -1
python3 tools/check_sf10.py "$OUT/scaleprobe_corpus_ref.json" \
  "$OUT/scaleprobe_corpus.json" --facts 1 --corpus 200

# candidate-count bound for the roster-capped keys:
# blocked candidates = sum over buckets of occ * min(occ, 256) minus the
# self-pair exclusions — must be <= n * 256
python3 - "$DIR" "$OUT" <<'EOF'
import json, sys
import duckdb
d, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
bk16 = " + ".join(f"{1 << (15 - i)} * (CASE WHEN embedding[{i + 1}] >= 0"
                  " THEN 1 ELSE 0 END)" for i in range(16))
row = con.sql(f"""
  WITH nb AS (SELECT GREATEST(4, LEAST(16, CAST(CEIL(LOG2(GREATEST(
                CAST(CEIL(count(*) / 256.0) AS BIGINT), 1))) AS INT))) AS b
              FROM '{d}/embeddings.parquet'),
       vv AS (SELECT vec_id, (({bk16}) >> (16 - (SELECT b FROM nb))) AS bk
              FROM '{d}/embeddings.parquet'),
       occ AS (SELECT bk, count(*) AS bn FROM vv GROUP BY bk)
  SELECT CAST(SUM(bn) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS buckets,
         CAST(MAX(bn) AS BIGINT) AS max_occ,
         CAST(SUM(CASE WHEN bn > 256 THEN 1 ELSE 0 END) AS BIGINT)
           AS hot_buckets,
         CAST(SUM(bn * LEAST(bn, 256) - LEAST(bn, 256)) AS BIGINT)
           AS blocked_candidates,
         CAST(SUM(bn * (bn - 1)) AS BIGINT) AS uncapped_candidates
  FROM occ""").fetchone()
n, buckets, max_occ, hot, cand, uncapped = row
bound = n * 256
rec = {"probe": "hubness_ann_candidate_bound", "n_vectors": n,
       "buckets": buckets, "max_occupancy": max_occ,
       "hot_buckets": hot, "blocked_candidates": cand,
       "uncapped_candidates": uncapped, "bound_n_x_cap": bound,
       "pass": cand <= bound}
with open(f"{out}/hubness_bound.json", "w") as f:
    json.dump(rec, f)
    f.write("\n")
print(json.dumps(rec, indent=1))
sys.exit(0 if rec["pass"] else 1)
EOF

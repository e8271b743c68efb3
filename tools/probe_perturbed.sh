#!/usr/bin/env bash
# r17 perturbed-crowd probe (VERDICT r16 #1 "done =" clause): corpus ×200
# where every replica r>0 carries a one-token suffix — NEAR-identical,
# never byte-identical crowds (1 M docs), so the md5 exact-star pass can't
# collapse them and every shingle df / band bucket is saturated far past
# the 64 caps. The minhash-star bounded-recall pass must still cluster
# every crowd:
#   - dedup_clusters reaches cluster_size >= 200 and covers (essentially)
#     all 1 M docs — the only legitimate stragglers are short docs whose
#     one-token perturbation moves a minhash in all 4 bands
#   - no junk micro-cluster exists (the lower-bound Jaccard edge rule
#     admits no false edge): every emitted cluster is crowd-sized
#   - dedup_exact equals the base corpus' duplicate structure ×200 exactly
#     (replicas are never byte-identical; only originally-identical docs
#     collapse, once per replica generation)
#   - dedup_ngram_jaccard (capped-universe listing, r16 contract) stays
#     LINEAR in docs — a few boundary-shingle pairs per doc, never the
#     |crowd|² blowup the caps exist to avoid
# Record: tools/scaleprobe_${GRAFT_PROBE_TAG}_perturbed.json
# (standing per-round gate since r18 — VERDICT r17 #5)
#
# Usage: tools/probe_perturbed.sh
#   env: GRAFT_PERTURB_DIR (default /tmp/graft_perturb200)
#        GRAFT_PERTURB_OUT (default /tmp/graft_perturb_out)
set -euo pipefail
cd "$(dirname "$0")/.."

DIR="${GRAFT_PERTURB_DIR:-/tmp/graft_perturb200}"
OUT="${GRAFT_PERTURB_OUT:-/tmp/graft_perturb_out}"

if [ ! -f "$DIR/documents.parquet" ]; then
  echo "[probe_perturbed] generating $DIR (corpus x200, perturbed)"
  python3 tools/gen_sf.py --out "$DIR" --rep 1 --rep-corpus 200 --perturb-corpus
fi

mkdir -p "$OUT"
T0=$(date +%s)
SPARK_GRAFT_KEYS="dedup_clusters,dedup_exact,dedup_ngram_jaccard" \
  sbt -batch "runMain graft.Verify $DIR $OUT" 2>&1 | tail -3
T1=$(date +%s)

TAG="${GRAFT_PROBE_TAG:-r18}"
python3 - "$OUT" "$((T1 - T0))" "$TAG" <<'EOF'
import glob, json, sys
import duckdb
import pyarrow.parquet as pq
import pyarrow.compute as pc

out, secs, tag = sys.argv[1], int(sys.argv[2]), sys.argv[3]
REP = 200

def tbl(k):
    files = glob.glob(f"{out}/{k}/*.parquet")
    assert files, f"no output for {k}"
    return pq.read_table(files[0])

# base corpus duplicate structure: extra byte-identical copies per
# normalized text (each costs one dropped doc per replica generation)
con = duckdb.connect()
base_extras = con.sql(r"""
  WITH g AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) h,
                    count(*) n
             FROM '/root/testdata/sf0.1/documents.parquet' GROUP BY 1)
  SELECT coalesce(sum(n - 1) FILTER (n > 1), 0) FROM g""").fetchone()[0]

cl = tbl("dedup_clusters")
n = cl.num_rows
mx = pc.max(cl.column("cluster_size")).as_py()
ex = tbl("dedup_exact").num_rows
nj = tbl("dedup_ngram_jaccard").num_rows

# junk micro-cluster = a sub-crowd cluster whose members have DISTINCT
# normalized texts (a false edge chained dissimilar docs). Byte-identical
# micro-clusters are legitimate stragglers: a short doc whose one-token
# perturbation flips every band loses its crowd star, but its exact-dup
# twin (if any) still links — that is the exact path doing its job.
import glob as _g
files = ",".join(f"'{f}'" for f in _g.glob(f"{out}/dedup_clusters/*.parquet"))
junk = con.sql(f"""
  WITH cl AS (SELECT * FROM read_parquet([{files}])),
       small AS (SELECT cluster_rep FROM cl GROUP BY cluster_rep
                 HAVING count(*) < 100),
       texts AS (SELECT cl.cluster_rep,
                        count(DISTINCT md5(trim(regexp_replace(lower(d.text),
                          '\\s+', ' ', 'g')))) AS ntext
                 FROM cl JOIN small USING (cluster_rep)
                 JOIN '/tmp/graft_perturb200/documents.parquet' d
                   ON d.doc_id = cl.doc_id
                 GROUP BY cl.cluster_rep)
  SELECT coalesce(sum(CASE WHEN ntext > 1 THEN 1 ELSE 0 END), 0)
  FROM texts""").fetchone()[0]

checks = {
    "clusters_cover_docs": (n, ">= 999900 of 1000000", n >= 999_900),
    "no_junk_microclusters": (int(junk),
        "== 0 sub-crowd clusters with distinct texts", junk == 0),
    "crowds_cluster_fully": (mx, ">= 200", mx is not None and mx >= 200),
    "exact_matches_base_structure": (
        ex, f"== 1000000 - {REP}*{base_extras}",
        ex == 1_000_000 - REP * int(base_extras)),
    "capped_listing_linear": (nj, "<= 10000000 (never |crowd|^2)",
                              nj <= 10_000_000),
}
ok = all(v[2] for v in checks.values())
rec = {
    "probe": "perturbed_corpus_x200", "docs": 1_000_000,
    "verify_wall_sec": secs,
    "checks": {k: {"value": v[0], "rule": v[1], "pass": v[2]}
               for k, v in checks.items()},
    "pass": ok,
}
with open(f"tools/scaleprobe_{tag}_perturbed.json", "w") as f:
    json.dump(rec, f)
    f.write("\n")
print(json.dumps(rec, indent=1))
sys.exit(0 if ok else 1)
EOF

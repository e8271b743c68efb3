package graft.operators

import graft.Mats.MatOps
import graft.{Op, Tables}
import graft.TempDirs.tmp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-training-data pipeline operators (SURVEY.md §2C "LLM-data-pipeline
  * extensions" plus the scale-path variants mandated by BASELINE.json):
  * deduplication (exact, MinHash/LSH, SimHash, n-gram Jaccard, embedding
  * near-dup), similarity search (brute-force top-k + sign-LSH ANN), and text
  * analysis (stats, top terms, language-ID, quality score, fingerprints).
  *
  * Scale posture (100 TB): every operator is a pure DataFrame pipeline —
  * shuffles only on group/join keys, no driver-side collection. The
  * oracle-checked ops use only engine-portable deterministic arithmetic;
  * the seeded-hash ops (`dedup_minhash`, `dedup_simhash`, `sim_ann_lsh`,
  * `text_fingerprint`) have no DuckDB analog and are property-tested in
  * ScalaTest instead (SURVEY.md §7.5.4).
  *
  * Candidate-pair generation is always blocked (LSH bands / sign buckets /
  * shared shingles) — never an unblocked O(n²) cross join — and every
  * blocking key carries a document-frequency skew guard: `MaxShingleDf`
  * caps hot shingles in the exact-Jaccard path, `maxBucket` caps hot band
  * buckets in the SimHash path.
  */
object LlmOps {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Whitespace-normalized lowercase text — the dedup key. */
  private def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))
  private def tokens(c: Column): Column = split(normText(c), " ")

  /** doc_id → exploded distinct 3-token shingles. The shingle build is the
    * native codegen'd [[graft.functions.ShingleSet]] expression (one pass
    * per row, zero-copy byte-slice shingles; < 3-token docs yield an empty
    * array, which explode drops — the old `size(tk) >= 3` guard). */
  private def shinglesFrom(docs: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    docs.select(col("doc_id"), explode(expr(
      "graft_shingles(trim(regexp_replace(lower(text), '\\\\s+', ' ')), 3)")).as("s"))
  }

  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesFrom(t(s, d, "documents"))

  /** Document-frequency cap for the exact-Jaccard shingle self-join: a
    * shingle shared by more than this many documents ("of the and"-style
    * boilerplate) is dropped before candidate generation, the same skew
    * guard [[simhashCandidatePairs]] applies per band bucket. A hot shingle
    * contributes ~0 to any pair's Jaccard but quadratic candidate pairs, so
    * the cap is what lets the self-join survive 100 TB. 64 is comfortably
    * above the max observed df at sf0.1 (25), so test-scale results are
    * byte-identical with or without the cap — and the DuckDB oracle CTE
    * applies the same cap so both engines stay in lockstep at any scale. */
  private[graft] val MaxShingleDf = 64

  /** Adaptive sign-LSH width: smallest bit count b (floored at 4, capped
    * at 16) with 2^b buckets >= n/256 — expected bucket occupancy stays
    * <= ~256 vectors, so the within-bucket candidate join grows ~O(n·256)
    * with the corpus instead of O(n²/16) at a fixed width (the r13 sf10
    * probe measured the fixed 4-bit spelling at 106× wall for 20× corpus —
    * exactly the quadratic shape this removes). Deterministic: a pure
    * function of the corpus row count. Every oracle-checked scale ships
    * <= 2000 vectors, where the formula resolves to the same 4 bits as the
    * static oracle replays, so oracle outputs are byte-identical there;
    * the sf10 gate (tools/check_sf10.py) exercises the widened instance.
    * Exact duplicates agree on EVERY sign bit, so widening never separates
    * them — the recall floor the dedup keys rely on. */
  private[graft] def signBits(n: Long): Int = {
    val target = (n + 255) / 256
    var b = 4
    while (b < 16 && (1L << b) < target) b += 1
    b
  }

  /** DuckDB spelling of [[signBits]]: clamp(ceil(log2(ceil(n/256))), 4, 16).
    * Exactness: for the loop above, b = max(4, min(16, ceil(log2(target))))
    * — log2 of these small integers is exact-enough in IEEE doubles that
    * ceil never misrounds (verified against the Scala loop for every n in
    * 0..70k and the 2^16·256 boundary). Lets the oracles below follow the
    * engine's adaptive LSH width at ANY corpus size instead of assuming the
    * <=4096-vector 4-bit regime (the r13 ADVICE medium finding). */
  private val bkBitsSql =
    "GREATEST(4, LEAST(16, CAST(CEIL(LOG2(GREATEST(" +
      "CAST(CEIL(count(*) / 256.0) AS BIGINT), 1))) AS INT)))"

  /** Fixed 16-bit leading-sign code: the top [[signBits]] bits of this code
    * ARE the adaptive bucket (the engine weights dim i by 2^(b-1-i), i.e.
    * takes the b leading bits), so one static 16-term sum plus a right
    * shift by (16 - b) reproduces the bucket at every width — no SQL needs
    * regenerating per data dir. Embeddings are 64-dim, so 16 dims always
    * exist. */
  private val bk16Sql = (0 until 16)
    .map(i => s"${1 << (15 - i)} * (CASE WHEN embedding[${i + 1}] >= 0 THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** Shared oracle CTE prefix: `nb` (the adaptive bit width) + a bucketed
    * vector relation named `$rel` — the SQL twin of [[signBucketed]]. */
  private def bkRelSql(rel: String): String =
    s"""nb AS (SELECT $bkBitsSql AS b FROM embeddings),
       |            $rel AS (
       |              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |                     (($bk16Sql)
       |                      >> (16 - (SELECT b FROM nb))) AS bk,
       |                     ($bk16Sql) AS c16
       |              FROM embeddings)""".stripMargin

  /** Embeddings with float64 vector + leading-sign bucket (sign-LSH
    * blocking key: shuffle partitions by bucket, never all-pairs; width
    * adapts to corpus size via [[signBits]]). */
  private def signBucketed(s: SparkSession, d: String): DataFrame = {
    // the corpus size, memoized in session scope per data dir: it is a
    // property of the parquet files, which a versioned corpus commit lands
    // under a new path rather than rewriting
    val n = graft.Mats.memo(s, ("embeddings rows", d))(t(s, d, "embeddings").count())
    val bits = signBits(n)
    // full 16-bit leading-sign code; the adaptive bucket is its top `bits`
    // bits (one shift), so bk is IDENTICAL to the old per-width sum while
    // c16 doubles as the sub-bucket key for the hot-bucket star pass
    val c16Expr = (0 until 16)
      .map(i => s"${1L << (15 - i)} * IF(v[$i] >= 0D, 1, 0)")
      .mkString(" + ")
    t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("c16", expr(c16Expr))
      .withColumn("bk", expr(s"c16 >> ${16 - bits}"))
  }

  /** Occupancy cap on the exact within-bucket pair join of the embedding
    * CLUSTER key (r18, VERDICT r17 #4). [[signBits]] targets a mean bucket
    * occupancy of ~256, so ≤ 256²/2 ≈ 33k pairs per healthy bucket is the
    * designed work unit; a bucket past the cap means a near-duplicate
    * FLOOD (replicated/boilerplate vectors) where all-pairs goes quadratic
    * at corpus scale (the ×200 probe measured 40 M within-bucket pairs).
    * Past the cap the key switches to code-rep stars (see the op body) —
    * same components for floods, never a false edge, O(occ + reps²) work.
    * At every oracle-checked test SF no bucket is hot, so outputs are
    * byte-identical to the uncapped path there. */
  private[graft] val EmbBucketCap = 256
  // (declared here, above every oracle string that interpolates it —
  // object-init order renders a later val as 0 inside s"" literals)

  /** Codegen'd native cosine (graft.functions.CosineSimilarity) — same term
    * order as DuckDB's list_cosine_similarity, compiled into the join stage. */
  private def cosine(s: SparkSession): Column = {
    graft.functions.GraftExtensions.register(s)
    expr("graft_cosine(va, vb)")
  }

  // ----------------------------------------------------------- deduplication
  // Exact dedup: one hash-shuffle on the normalized text; survivor = min id.
  private val dedupExact = Op(
    "dedup_exact",
    (s, d) => t(s, d, "documents")
      .groupBy(normText(col("text")).as("norm_text"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
      .select("survivor_id", "n_copies")
      .orderBy("survivor_id"),
    Some("""SELECT min(doc_id) AS survivor_id, count(*) AS n_copies
            FROM documents
            GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
            ORDER BY survivor_id"""))

  // Near-exact dedup: collapse on the ALNUM-ONLY fingerprint (lowercase,
  // every non-alphanumeric stripped) — catches the re-punctuated /
  // re-hyphenated / smart-quoted reprints that whitespace normalization
  // misses, at the same one-linear-groupBy cost as dedup_exact. Sits
  // between dedup_exact (strictest) and the shingle/minhash near-dup
  // passes (loosest) in the dedup ladder.
  private val dedupNearExact = Op(
    "dedup_near_exact",
    (s, d) => t(s, d, "documents")
      .groupBy(regexp_replace(lower(col("text")), "[^a-z0-9]", "").as("fp"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_variants"))
      .select("survivor_id", "n_variants")
      .orderBy("survivor_id"),
    Some("""SELECT min(doc_id) AS survivor_id, count(*) AS n_variants
            FROM documents
            GROUP BY regexp_replace(lower(text), '[^a-z0-9]', '', 'g')
            ORDER BY survivor_id"""))

  /** Near-dup pairs with exact n-gram Jaccard ≥ 0.8: numerator from a
    * shingle-key self-join (only docs sharing a shingle ever meet), sizes
    * from a per-doc count. Feeds both the pair listing and the
    * connected-components clustering. */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairsFrom(t(s, d, "documents"))

  /** Exact-duplicate STAR edges: each document points at the MIN doc_id of
    * its normalized-text group (md5-keyed groupBy — one linear aggregate,
    * |group| edges per group, never |group|²). Unioned into the CLUSTERING
    * keys' edge sets so cluster recall survives ANY duplication factor:
    * the r16 corpus-×200 probe showed that once a duplicate group outgrows
    * MaxShingleDf/MaxBandBucket (64), every similarity-path candidate for
    * it is (by design) capped away — the caps bound quadratic candidate
    * work, and byte-identical collapse is exactly the case a linear exact
    * pass covers for free. Near-identical-but-not-exact groups larger than
    * the caps are covered by the companion [[minhashStarEdgesFrom]] pass
    * (r17: verified anchor stars over saturated minhash-band buckets,
    * O(N) work — `dedup_minhash_md5` demonstrates what the caps avoid:
    * 128.9 M uncapped pairs / 380 s at 1 M docs). */
  private def exactStarEdges(s: SparkSession, d: String): DataFrame = {
    val g = t(s, d, "documents")
      .select(col("doc_id"), md5(normText(col("text"))).as("h"))
    val m = g.groupBy("h").agg(min(col("doc_id")).as("m"))
    g.join(m, "h").where(col("doc_id") =!= col("m"))
      .select(col("doc_id").as("u"), col("m").as("v"))
  }

  /** DuckDB CTE body mirroring [[exactStarEdges]] (same md5-of-normalized-
    * text grouping), for the clustering oracles. */
  private val exactStarCtes =
    raw"""exg AS (SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
         FROM documents),
       exm AS (SELECT h, MIN(doc_id) AS m FROM exg GROUP BY h),
       exe AS (SELECT g.doc_id AS u, x.m AS v
               FROM exg g JOIN exm x USING (h) WHERE g.doc_id <> x.m)"""

  /** Bounded-recall fallback past the similarity caps (VERDICT r16 #1):
    * anchor stars over SATURATED MINHASH-BAND buckets. The r16 corpus-×200
    * probe proved near-identical (not byte-identical) crowds larger than
    * [[MaxShingleDf]]/[[MaxBandBucket]] lose every capped-path candidate;
    * r17's first cut anchored on saturated SHINGLE buckets, but the driver
    * corpus is template-heavy (measured: 4793 of 5000 sf0.1 docs have ZERO
    * df=1 shingle), so a local-context anchor cannot guarantee a crowd
    * edge. Minhash bands are GLOBAL content fingerprints — a perturbed
    * replica shares a 2-rotation band with its crowd w.p.
    * 1−(1−((t−2)/(t−1))²)⁸ (≈ 1−2·10⁻⁶ even for a 10-shingle doc — the
    * 4-band first cut left ~80 short-doc stragglers of 1 M at ×200),
    * while two UNRELATED docs share one w.p. ≈ jaccard² per band (the
    * classic minhash collision law — squaring is what keeps
    * template-corpus buckets pure, the failure mode that sank the
    * shingle-anchor first cut). The pass:
    *   1. 16 rotated md5 minhashes per doc (ONE md5 per distinct shingle,
    *      the 16 permutations by 2-hex-digit rotation — each rotation is a
    *      bijection on digests, the proven `dedup_minhash_md5` idiom,
    *      bit-identical in DuckDB), banded 8 × 2;
    *   2. every (band, value-pair) bucket larger than `bucketCap` —
    *      exactly the buckets the capped pair paths must drop — elects its
    *      min doc_id as anchor, and every other occupant emits
    *      (doc, anchor): ≤ 8 candidates per doc, |bucket| per bucket,
    *      never |bucket|²;
    *   3. candidates verify by EXACT Jaccard over the FULL (uncapped)
    *      shingle sets of just the paired docs, ≥ 0.8 (the pair path's own
    *      threshold) — a saturated bucket of genuinely-dissimilar docs
    *      contributes candidates but never edges.
    * Returns verified (u, v, jaccard). Work is O(N) candidates + O(N·k)
    * verification rows regardless of crowd size; recall is a full star per
    * crowd. The shingle scan is plan-keyed to the cached DataFrame the
    * capped path materializes, so the fan-in costs no second explode. */
  private[graft] def minhashStarEdgesFrom(
      docs: DataFrame, bucketCap: Int): DataFrame = {
    val sh = shinglesFrom(docs).sharedCache()
    val hm = sh.select(col("doc_id"), md5(col("s").cast("binary")).as("m"))
    val rots = (0 until 16).map { i =>
      val rot = if (i == 0) col("m")
        else concat(expr(s"substr(m, ${2 * i + 1})"), expr(s"substr(m, 1, ${2 * i})"))
      min(rot).as(s"h$i")
    }
    val sig = hm.groupBy("doc_id").agg(rots.head, rots.tail: _*)
    // tiny (docs × 8 rows) and plan-identical across the demo and
    // production caps — cached so the 16-min signature aggregate (the
    // expensive 90% of the pass) runs once per session, not once per key
    val bands = sig.select(col("doc_id"), explode(array(
      (0 until 8).map(b => struct(lit(b).as("b"),
        col(s"h${2 * b}").as("b1"), col(s"h${2 * b + 1}").as("b2"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.b"), col("bb.b1"), col("bb.b2"))
      .sharedCache()
    val hot = bands.groupBy("b", "b1", "b2")
      .agg(min(col("doc_id")).as("anchor"), count(lit(1)).as("bf"))
      .where(col("bf") > bucketCap)
      .select("b", "b1", "b2", "anchor")
    val cand = bands.join(hot, Seq("b", "b1", "b2"))
      .where(col("doc_id") =!= col("anchor"))
      .select(col("doc_id").as("u"), col("anchor").as("v"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    cand
      .join(sh.as("x"), col("u") === col("x.doc_id"))
      .join(sh.as("y"), col("v") === col("y.doc_id") && col("x.s") === col("y.s"))
      .groupBy("u", "v").agg(count(lit(1)).as("i"))
      .join(sizes.as("su"), col("u") === col("su.doc_id"))
      .join(sizes.as("sv"), col("v") === col("sv.doc_id"))
      .select(col("u"), col("v"),
        round(col("i").cast("double") /
          (col("su.ns") + col("sv.ns") - col("i")), 4).as("jaccard"))
      .where(col("jaccard") >= 0.8)
  }

  /** Production minhash-star edges at the clustering keys' cap, cached for
    * the key: dedup_survivor reuses dedup_clusters' labels through the
    * [[connectedComponents]] memo and does not read them. */
  private def minhashStarEdges(s: SparkSession, d: String): DataFrame =
    minhashStarEdgesFrom(t(s, d, "documents"), StarBucketCap)
      .select("u", "v")
      .trackedCache()

  /** Hot-bucket threshold for the anchor-star pass — deliberately LOWER
    * than [[MaxBandBucket]] (r18, the j≈0.8 boundary stress). The pair
    * path covers crowds ≤ [[MaxShingleDf]] (their common shingles keep
    * df ≤ 64); a crowd of S > 64 docs at true Jaccard j fills its
    * per-band mode bucket to only ≈ p²·S where p = P(a member's minhash
    * is the crowd minimum) — e.g. 2j/(1+j) under disjoint-tail structure,
    * so a 70-doc j=0.9 crowd reaches ≈ 63 occupants: UNDER a 64 bucket
    * cap, and the crowd would splinter with both paths blind. At cap 8
    * every mode bucket of a past-the-df-cap crowd fires (≥ j²·S ≥
    * 0.64·65 ≈ 41 occupants at the j=0.8 verification floor), while cost
    * stays O(N): candidates are still ≤ 8 per doc (one anchor per band),
    * and the exact full-shingle-set Jaccard verification still admits no
    * false edge, so a lower cap can only ADD true edges. Proven by
    * tools/probe_boundary.sh (j ∈ {0.78, 0.8, 0.82, 0.9} crowds straddling
    * the 64 cap, incl. 9-shingle short docs). */
  private[graft] val StarBucketCap = 8

  /** DuckDB CTE body mirroring [[minhashStarEdgesFrom]]; assumes `sh0`
    * (the distinct doc_id→shingle relation) is already in scope. Ends in
    * `hse` (the verified edge set). */
  private def minhashStarCtes(bucketCap: Int): String =
    s"""mhm AS (SELECT doc_id, md5(s) AS m FROM sh0),
       msig AS (SELECT doc_id, MIN(m) AS h0,
                       ${(1 until 16).map(i =>
                         s"MIN(substr(m, ${2 * i + 1}) || substr(m, 1, ${2 * i})) AS h$i")
                         .mkString(",\n                       ")}
                FROM mhm GROUP BY doc_id),
       marr AS (SELECT doc_id,
                       [${(0 until 16).map(i => s"h$i").mkString(", ")}] AS sg
                FROM msig),
       mbands AS (SELECT doc_id, b, sg[2 * b + 1] AS b1, sg[2 * b + 2] AS b2
                  FROM marr CROSS JOIN (SELECT unnest(range(8)) AS b)),
       mhot AS (SELECT b, b1, b2, MIN(doc_id) AS anchor
                FROM mbands GROUP BY 1, 2, 3 HAVING COUNT(*) > $bucketCap),
       mcand AS (SELECT DISTINCT mb.doc_id AS u, mh.anchor AS v
                 FROM mbands mb JOIN mhot mh USING (b, b1, b2)
                 WHERE mb.doc_id <> mh.anchor),
       msz AS (SELECT doc_id, count(*) AS ns FROM sh0 GROUP BY doc_id),
       mint AS (SELECT c.u, c.v, count(*) AS i
                FROM mcand c
                JOIN sh0 x ON x.doc_id = c.u
                JOIN sh0 y ON y.doc_id = c.v AND y.s = x.s
                GROUP BY 1, 2),
       hse AS (SELECT h.u, h.v,
                      round(h.i * 1.0 / (su.ns + sv.ns - h.i), 4) AS jaccard
               FROM mint h
               JOIN msz su ON su.doc_id = h.u
               JOIN msz sv ON sv.doc_id = h.v
               WHERE round(h.i * 1.0 / (su.ns + sv.ns - h.i), 4) >= 0.8)"""

  /** df-capped shingle set, shared by the Jaccard and containment keys.
    * The cap is applied skew-safely: a partial (map-side-combined) hash
    * aggregate counts each shingle's df — hot shingles collapse to one row
    * per map task BEFORE any exchange — then the hot set (df > MaxShingleDf)
    * is removed with an anti-join. The shingle stream itself is never
    * shuffled on `s` here, so a planet-scale hot shingle costs one counter
    * per map task, not a single-reducer pile-up (the old
    * `count().over(Window.partitionBy("s"))` spelling shipped every
    * occurrence of the hottest key to one reducer just to drop it).
    * PlanSpec pins the shape: partial HashAggregate on `s`, no Window.
    *
    * Two deliberate choices for 100 TB:
    *   - the hot set carries NO broadcast hint: its cardinality grows with
    *     corpus size (every common trigram crosses the cap eventually), so
    *     an unconditional hint would bypass autoBroadcastJoinThreshold and
    *     OOM the driver. AQE upgrades the anti-join to a broadcast join at
    *     runtime whenever the measured hot set is small; above the
    *     threshold the shuffled anti-join is the safe fallback.
    *   - the shingle stream is cached before fanning into the df aggregate
    *     and the anti-join probe, so the ShingleSet explode — the expensive
    *     part — runs once per materialization, not twice. The stream is
    *     shared (other keys read it); the capped set is the key's own.
    * `persist = false` lets PlanSpec assert the uncached physical plan (a
    * cached DF plans as an InMemoryTableScan, hiding the aggregate shape). */
  private[graft] def cappedShinglesFrom(
      docs: DataFrame, persist: Boolean = true): DataFrame = {
    val sh0 = shinglesFrom(docs)
    val sh = if (persist) sh0.sharedCache() else sh0
    val hot = sh.groupBy("s").agg(count(lit(1)).as("dfc"))
      .where(col("dfc") > MaxShingleDf)
      .select("s")
    val capped = sh.join(hot, Seq("s"), "left_anti")
    if (persist) capped.trackedCache() else capped
  }

  /** (doc_a, doc_b, i, ns_a, ns_b): shared-shingle intersection counts +
    * set sizes over the df-capped shingle set. The self-join + three
    * aggregates here are the expensive 90% of BOTH similarity scorers —
    * Jaccard and containment differ only in the denominator — so this is
    * the cached cut point (plan-keyed: one materialization per session no
    * matter which scorer runs first). */
  private def shingleIntersectionsFrom(docs: DataFrame): DataFrame = {
    val sh = cappedShinglesFrom(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("i"),
        col("na.ns").as("ns_a"), col("nb.ns").as("ns_b"))
      .sharedCache()
  }

  private[graft] def jaccardPairsFrom(docs: DataFrame): DataFrame =
    shingleIntersectionsFrom(docs)
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") /
          (col("ns_a") + col("ns_b") - col("i")), 4).as("jaccard"))
      .where(col("jaccard") >= 0.8)
      // tiny; dedup_incremental and dedup_ngram_jaccard read one copy
      .sharedCache()

  /** The CLUSTERING keys' pair edges: same capped-shingle intersections as
    * the listing keys, but scored against the FULL (uncapped) shingle-set
    * sizes — a LOWER BOUND on true Jaccard. The distinction only matters
    * once the df cap engages (at test SFs capped == full, so this is
    * byte-identical to [[jaccardPairsFrom]]): the r17 perturbed-×200 probe
    * showed that with nearly every shingle hot, the capped-universe
    * denominator collapses and two unrelated docs sharing ONE surviving
    * boundary shingle score 1.0 — junk edges that chained unrelated crowds
    * into one component. A lower-bound score ≥ 0.8 PROVES true Jaccard
    * ≥ 0.8, so no false edge can enter a cluster; recall past the caps is
    * [[minhashStarEdgesFrom]]'s job. The listing keys keep the
    * capped-universe score on purpose — their contract is bounded
    * candidate WORK and they mirror their oracle exactly either way. */
  private[graft] def jaccardLowerPairsFrom(docs: DataFrame): DataFrame = {
    val full = shinglesFrom(docs).groupBy("doc_id").agg(count(lit(1)).as("fns"))
    shingleIntersectionsFrom(docs)
      .join(full.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(full.as("fb"), col("doc_b") === col("fb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") /
          (col("fa.fns") + col("fb.fns") - col("i")), 4).as("jaccard"))
      .where(col("jaccard") >= 0.8)
      // read by dedup_clusters only: dedup_survivor reuses its labels
      .trackedCache()
  }

  /** DuckDB CTEs mirroring [[jaccardLowerPairsFrom]] (assumes the
    * [[jaccardCtes]] relations are in scope); ends in `jplow`. */
  private val jaccardLowCtes =
    """fsz AS (SELECT doc_id, count(*) AS ns FROM sh0 GROUP BY doc_id),
       jplow AS (SELECT doc_a, doc_b
                 FROM inter
                 JOIN fsz fa ON fa.doc_id = doc_a
                 JOIN fsz fb ON fb.doc_id = doc_b
                 WHERE round(i * 1.0 / (fa.ns + fb.ns - i), 4) >= 0.8)"""

  /** Shared DuckDB CTE body for the Jaccard pair set (kept in lockstep with
    * [[jaccardPairs]]). */
  private val shingleBaseCtes =
    raw"""toks AS (
         SELECT doc_id,
                string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
         FROM documents),
       sh0 AS (
         SELECT DISTINCT doc_id,
                unnest(list_transform(range(len(tk) - 2),
                  i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS s
         FROM toks WHERE len(tk) >= 3)"""

  private val jaccardCtes =
    s"""$shingleBaseCtes,
       cold AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= $MaxShingleDf),
       sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN cold USING (s)),
       sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       jp AS (
         SELECT doc_a, doc_b,
                round(i * 1.0 / (na.ns + nb.ns - i), 4) AS jaccard
         FROM inter
         JOIN sizes na ON na.doc_id = doc_a
         JOIN sizes nb ON nb.doc_id = doc_b
         WHERE round(i * 1.0 / (na.ns + nb.ns - i), 4) >= 0.8)"""

  // Exact n-gram Jaccard over shared-shingle candidates. Oracle-checkable
  // verifier for the MinHash path. Hot stop-word shingles are dropped by the
  // MaxShingleDf document-frequency cap — applied identically in the Spark
  // plan and the DuckDB CTE, so the two engines agree at every scale while
  // the self-join stays non-quadratic at 100 TB.
  private val dedupNgramJaccard = Op(
    "dedup_ngram_jaccard",
    (s, d) => jaccardPairs(s, d).orderBy("doc_a", "doc_b"),
    Some(s"""WITH $jaccardCtes
            SELECT doc_a, doc_b, jaccard FROM jp ORDER BY doc_a, doc_b"""))

  // Shingle CONTAINMENT (|A∩B| / min(|A|,|B|) ≥ 0.9): catches the near-dup
  // Jaccard misses — a short document wholly embedded in a longer one
  // (boilerplate page + article, quote + source) has low Jaccard but
  // containment ≈ 1. Same capped-shingle candidate join as the Jaccard key,
  // so the two keys share one cached shingle materialization per session and
  // the same 100 TB skew guard; only the scoring denominator differs.
  private val dedupContainment = Op(
    "dedup_containment",
    (s, d) => shingleIntersectionsFrom(t(s, d, "documents"))
      .select(col("doc_a"), col("doc_b"),
        round(col("i").cast("double") /
          least(col("ns_a"), col("ns_b")), 4).as("containment"))
      .where(col("containment") >= 0.9)
      .orderBy("doc_a", "doc_b"),
    Some(s"""WITH $jaccardCtes,
            cn AS (SELECT doc_a, doc_b,
                          round(i * 1.0 / least(na.ns, nb.ns), 4) AS containment
                   FROM inter
                   JOIN sizes na ON na.doc_id = doc_a
                   JOIN sizes nb ON nb.doc_id = doc_b
                   WHERE round(i * 1.0 / least(na.ns, nb.ns), 4) >= 0.9)
            SELECT doc_a, doc_b, containment FROM cn ORDER BY doc_a, doc_b"""))

  /** Connected components via alternating large-star / small-star rounds
    * (the MapReduce-era two-phase star-contraction algorithm): the edge set
    * converges to one star per component — every node pointing straight at
    * its component min — in O(log² n) rounds regardless of graph diameter,
    * vs O(diameter) for naive min-label propagation. A billion-node chain
    * needs ~30 rounds here and a billion with propagation, which is the
    * difference that matters at 100 TB.
    *
    * Edges are held canonically as (a, b) with b < a. Large-star connects
    * every neighbor larger than a node to the min of its neighborhood;
    * small-star connects the node and its smaller neighbors to that min.
    * Both are one aggregate + one join (shuffles bounded per round);
    * lineage is truncated with a localCheckpoint per round so plans stay
    * flat (a cluster job would use reliable checkpointing instead).
    *
    * Returns (node, lab) for every node appearing in the edge set. Throws
    * rather than returning non-converged labels — a silent split cluster
    * would keep multiple "survivors" of the same near-dup group, i.e.
    * leak duplicates into a training corpus with no error anywhere.
    *
    * The labels are memoized in session scope ([[graft.Mats.memo]]) on the
    * canonicalized edge plan plus the round budget: dedup_clusters and
    * dedup_survivor run the identical fixpoint over the identical edge
    * union, which would otherwise re-run the whole loop (~2.5 s of rounds
    * at sf0.1). They read one component-count-sized checkpoint (KBs), and
    * the fixpoint has a unique solution per edge set. */
  private[graft] def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    graft.Mats.memo(edges.sparkSession, ("connectedComponents", graft.Mats.planKey(edges), maxIter)) {
      connectedComponentsCompute(edges, maxIter)
    }

  private def connectedComponentsCompute(edges: DataFrame, maxIter: Int): DataFrame = {
    // lazy checkpoints throughout: the sig() aggregate right after each
    // checkpoint is the materializing action, so every round costs ONE job
    // (an eager checkpoint would run a second, redundant materialization —
    // measured 6.9 s → 2.6 s for the whole fixpoint on a sf0.1 edge set)
    var e = edges
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).cast("long").as("a"),
        least(col("u"), col("v")).cast("long").as("b"))
      .distinct().trackedCkpt()

    // fixpoint signature: count + order-independent hash-xor of the edge
    // set (xor, not sum — sum overflows long under ANSI mode; a 64-bit
    // collision on a convergence check is not a realistic failure mode,
    // and the final star set itself is what callers consume)
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(col("a"), col("b")).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    // for each node x: m = min(neighborhood ∪ {x}); re-point every LARGER
    // neighbor y > x at m
    def largeStar(in: DataFrame): DataFrame = {
      val sym = in.select(col("a").as("x"), col("b").as("y"))
        .unionByName(in.select(col("b").as("x"), col("a").as("y")))
      val m = sym.groupBy("x").agg(least(min(col("y")), col("x")).as("m"))
      sym.join(m, "x").where(col("y") > col("x"))
        .select(col("y").as("a"), col("m").as("b")).distinct()
    }
    // for each node a over its SMALLER neighbors b: m = min(b); re-point a
    // and every other smaller neighbor at m
    def smallStar(in: DataFrame): DataFrame = {
      val m = in.groupBy("a").agg(min(col("b")).as("m"))
      in.join(m, "a").where(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionByName(m.select(col("a"), col("m").as("b")))
        .distinct()
    }
    var s = sig(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).trackedCkpt()
      val ns = sig(next)
      converged = ns == s
      // a superseded round is freed once the next round's sig() has
      // materialized it; the final round backs the memoized labels
      graft.Mats.free(e)
      e = next; s = ns; it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not reach the star fixpoint in $maxIter rounds")
    e.select(col("a").as("node"), col("b").as("lab"))
      .unionByName(e.select(col("b").as("node"), col("b").as("lab")))
      .distinct()
  }

  // Dedup CLUSTERS — the shape that actually scales: pair listing is
  // quadratic inside a near-dup cluster, so the 100 TB dedup path assigns
  // every document to a connected component of the similarity graph and
  // keeps one representative (min doc_id) per component. The edge set is
  // the LOWER-BOUND Jaccard pairs ([[jaccardLowerPairsFrom]] — no false
  // edge can enter a cluster once the caps engage) UNION the linear
  // exact-duplicate star edges ([[exactStarEdges]] — the r16 fix for
  // BYTE-IDENTICAL groups past the df cap) UNION the verified
  // saturated-band anchor stars ([[minhashStarEdgesFrom]] — the r17 fix
  // for NEAR-identical groups past the caps). Components come from
  // large-star/small-star contraction; the
  // oracle replays them with a recursive transitive-closure CTE (fine at
  // test scale, not the cluster algorithm).
  private val dedupClusters = Op(
    "dedup_clusters",
    (s, d) => {
      val labels = connectedComponents(
        jaccardLowerPairsFrom(t(s, d, "documents"))
          .select(col("doc_a").as("u"), col("doc_b").as("v"))
          .unionByName(exactStarEdges(s, d))
          .unionByName(minhashStarEdges(s, d)))
      val size = Window.partitionBy("cluster_rep")
      labels.select(col("node").as("doc_id"), col("lab").as("cluster_rep"))
        .withColumn("cluster_size", count(lit(1)).over(size))
        .withColumn("is_survivor", (col("doc_id") === col("cluster_rep")).cast("boolean"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $jaccardCtes,
            $jaccardLowCtes,
            $exactStarCtes,
            ${minhashStarCtes(StarBucketCap)},
            e AS (SELECT doc_a AS u, doc_b AS v FROM jplow
                  UNION ALL SELECT doc_b, doc_a FROM jplow
                  UNION ALL SELECT u, v FROM exe
                  UNION ALL SELECT v, u FROM exe
                  UNION ALL SELECT u, v FROM hse
                  UNION ALL SELECT v, u FROM hse),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
            lab AS (
              SELECT u AS doc_id, least(u, min(v)) AS cluster_rep
              FROM reach GROUP BY u)
            SELECT doc_id, cluster_rep,
                   count(*) OVER (PARTITION BY cluster_rep) AS cluster_size,
                   doc_id = cluster_rep AS is_survivor
            FROM lab ORDER BY doc_id"""))

  // Survivor selection — the step that turns clusters into a deliverable
  // corpus: every document gets its near-dup cluster (singletons are their
  // own cluster) and ONE survivor is kept per cluster by policy (here:
  // longest document, ties to the smallest id — "keep the fullest
  // version"). Composition of dedup_clusters + a window argmax; the
  // downstream training set is `WHERE is_survivor`.
  private val dedupSurvivor = Op(
    "dedup_survivor",
    (s, d) => {
      val labels = connectedComponents(
        jaccardLowerPairsFrom(t(s, d, "documents"))
          .select(col("doc_a").as("u"), col("doc_b").as("v"))
          .unionByName(exactStarEdges(s, d))
          .unionByName(minhashStarEdges(s, d)))
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy("cluster_rep")
        .orderBy(desc("n_chars"), asc("doc_id"))
      docs.join(labels, docs("doc_id") === labels("node"), "left")
        .withColumn("cluster_rep", coalesce(col("lab"), col("doc_id")))
        .withColumn("is_survivor", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster_rep"), col("n_chars"), col("is_survivor"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $jaccardCtes,
            $jaccardLowCtes,
            $exactStarCtes,
            ${minhashStarCtes(StarBucketCap)},
            e AS (SELECT doc_a AS u, doc_b AS v FROM jplow
                  UNION ALL SELECT doc_b, doc_a FROM jplow
                  UNION ALL SELECT u, v FROM exe
                  UNION ALL SELECT v, u FROM exe
                  UNION ALL SELECT u, v FROM hse
                  UNION ALL SELECT v, u FROM hse),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
            lab AS (
              SELECT u AS doc_id, least(u, min(v)) AS cluster_rep
              FROM reach GROUP BY u),
            alldocs AS (
              SELECT d.doc_id, coalesce(l.cluster_rep, d.doc_id) AS cluster_rep,
                     d.n_chars
              FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id)
            SELECT doc_id, cluster_rep, n_chars,
                   row_number() OVER (PARTITION BY cluster_rep
                     ORDER BY n_chars DESC, doc_id) = 1 AS is_survivor
            FROM alldocs ORDER BY doc_id"""))

  /** Per-(band, band-hash) bucket frequency cap for the MinHash band join —
    * the same skew guard [[simhashCandidatePairs]] applies per chunk bucket
    * and [[MaxShingleDf]] applies per shingle. A bucket with more than this
    * many docs means 64+ documents share an IDENTICAL 4-minhash band:
    * either byte-identical texts (upstream `dedup_exact`'s job) or
    * boilerplate collapse — and either way one such bucket makes candidate
    * generation quadratic at 100 TB. Genuinely-similar non-identical pairs
    * co-collide on a second, colder band w.h.p. (16 independent bands);
    * LlmOpsSpec plants both cases. */
  private[graft] val MaxBandBucket = 64

  /** Banded-signature self-join with the [[MaxBandBucket]] frequency guard:
    * bucket df from a partial (map-side-combined) aggregate, hot buckets
    * dropped from BOTH sides before the equi-join on (band, bh). Input
    * schema: (doc_id, band, bh). */
  private[graft] def minhashCandidatePairs(
      banded: DataFrame, maxBucket: Int): DataFrame = {
    val cold = banded.groupBy("band", "bh").agg(count(lit(1)).as("bf"))
      .where(col("bf") <= maxBucket)
      .select("band", "bh")
    val capped = banded.join(cold, Seq("band", "bh"))
    capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  // MinHash + banded LSH: 64 seeded xxhash64 min-signatures per doc, 16 bands
  // of 4 rows; candidates = band-hash collisions (shuffle on band key only,
  // hot buckets frequency-capped via minhashCandidatePairs), then
  // exact-Jaccard verification of candidates. Seeded hashing has no
  // DuckDB analog → property-tested (planted near-dups must surface).
  private val dedupMinhash = Op(
    "dedup_minhash",
    (s, d) => {
      val H = 64; val bands = 16; val rows = 4
      // the shingle set feeds the signature AND both sides of the exact
      // verification join — persist it once
      val sh = shingles(s, d).trackedCache()
      // hash the variable-length shingle STRING once, then derive the 64
      // seeded hashes from the fixed-width long — 64 string hashes per
      // shingle row (~20 bytes each) cost ~3x more than 1 string hash + 64
      // long hashes, with identical minhash semantics (any family of
      // independent uniform hashes works)
      val hashed = sh.select(col("doc_id"), xxhash64(col("s")).as("h"))
        .select(col("doc_id") +:
          (0 until H).map(i => xxhash64(lit(i), col("h")).as(s"h$i")): _*)
      val sig = hashed.groupBy("doc_id")
        .agg(min(col("h0")).as("m0"), (1 until H).map(i => min(col(s"h$i")).as(s"m$i")): _*)
      val banded = sig.select(col("doc_id"), explode(array(
        (0 until bands).map(b => struct(lit(b).as("band"),
          xxhash64((b * rows until (b + 1) * rows).map(i => col(s"m$i")): _*).as("bh"))): _*))
        .as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bh"))
        .trackedCache() // tiny (docs × 16 rows); read by both sides of the band join
      val cand = minhashCandidatePairs(banded, MaxBandBucket)
      // verify candidates exactly (candidate set is tiny post-LSH)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
      val inter = cand
        .join(sh.as("x"), col("doc_a") === col("x.doc_id"))
        .join(sh.as("y"), col("doc_b") === col("y.doc_id") && col("x.s") === col("y.s"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      inter
        .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
        .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          round(col("i").cast("double") /
            (col("na.ns") + col("nb.ns") - col("i")), 4).as("jaccard"))
        .where(col("jaccard") >= 0.7)
        .orderBy("doc_a", "doc_b")
    },
    None)

  /** SimHash band self-join over precomputed signatures (doc_id, sim),
    * guarded for skew — the shape that survives 100 TB:
    *   - each (chunk-index, chunk-value) bucket larger than `maxBucket` docs
    *     is dropped from candidate generation (a 16-bit pattern shared by
    *     thousands of docs is boilerplate collapse; one hot bucket otherwise
    *     makes the self-join quadratic). Identical texts are the upstream
    *     `dedup_exact` pass's job; genuinely similar pairs almost always
    *     co-collide on a second, colder chunk (asserted in LlmOpsSpec).
    *   - the hamming predicate sits INSIDE the join condition, so
    *     non-matching collision pairs are discarded during the probe and
    *     never reach the distinct's exchange.
    */
  private[graft] def simhashCandidatePairs(
      sig: DataFrame, maxBucket: Int): DataFrame = {
    val chunked = sig.select(col("doc_id"), col("sim"), explode(array(
      (0 until 4).map(j => struct(lit(j).as("j"),
        expr(s"shiftright(sim, ${16 * j}) & 65535").as("c"))): _*)).as("ch"))
      .select(col("doc_id"), col("sim"), col("ch.j"), col("ch.c"))
    val coldBuckets = chunked.groupBy("j", "c")
      .agg(count(lit(1)).as("cf"))
      .where(col("cf") <= maxBucket)
      .select("j", "c")
    val capped = chunked.join(coldBuckets, Seq("j", "c"))
    capped.as("a")
      .join(capped.as("b"),
        col("a.j") === col("b.j") && col("a.c") === col("b.c") &&
          col("a.doc_id") < col("b.doc_id") &&
          expr("bit_count(a.sim ^ b.sim) <= 6"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.sim ^ b.sim)").as("hamming"))
      .distinct()
  }

  // SimHash: 64-bit per-doc signature from per-token hashes (bit b set iff
  // the majority of token hashes have bit b set). Bit counting runs as an
  // explode + 64-column codegen'd hash aggregate (partial map-side combine,
  // one shuffle on doc_id) — an order of magnitude faster than per-bit
  // interpreted HOF passes over the token array. Then the 16-bit-chunk band
  // join (pigeonhole over 4 chunks: hamming ≤ 3 pairs MUST collide on ≥1
  // chunk; 4–6 best-effort — they can spread 2+2+1+1 and miss, the
  // standard banded-LSH recall tradeoff, stated the same way at
  // Multimodal.phashPairsFrom), frequency-capped via
  // simhashCandidatePairs.
  private val dedupSimhash = Op(
    "dedup_simhash",
    (s, d) => {
      val bitSums = (0 until 64).map(b =>
        sum(expr(s"int(shiftright(h, $b) & 1)")).as(s"c$b"))
      val simExpr = (0 until 64).map(b =>
        when(col(s"c$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
      val sig = t(s, d, "documents")
        .select(col("doc_id"),
          explode(expr("array_distinct(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '))")).as("t"))
        .select(col("doc_id"), xxhash64(col("t")).as("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"), bitSums: _*)
        .select(col("doc_id"), simExpr.as("sim"))
        // one signature row (doc_id, int64) per doc — persist so both sides
        // of the band self-join read it instead of re-running the token agg
        .trackedCache()
      simhashCandidatePairs(sig, maxBucket = 256)
        .orderBy("doc_a", "doc_b")
    },
    None)

  // Embedding near-dup: sign-LSH blocking (signBits(n) leading-sign bits,
  // 4 at every oracle-checked scale) then exact
  // cosine ≥ 0.4 inside each bucket. Both blocking and cosine are plain
  // deterministic arithmetic → oracle-checkable, unlike the seeded ops.
  // Norms are precomputed once per vector BEFORE the self-join (the oracle's
  // dot/(|a||b|) shape is kept so 6-dp rounding agrees) — per-pair work is a
  // single dot product.
  // k-NN graph over the whole embedding table — the batch self-join
  // retrieval shape (vs the probe-driven sim_* keys, which broadcast a
  // handful of probes): sign-LSH blocking, then per-node top-3 by cosine
  // with a total tie-break. The clustering/graph-dedup building block; at
  // 100 TB the bucket equi-join is the blocking step and the top-k is one
  // window per node — never all-pairs.
  private val embKnnGraph = Op(
    "emb_knn_graph",
    (s, d) => {
      val e = signBucketed(s, d)
      // window on (bk, vec_a): vec_a determines its bucket, so the groups
      // are identical to per-vec_a groups — but the join output is already
      // hash-partitioned by bk, which satisfies the clustered distribution
      // for (bk, vec_a), so the scored pair set (the big intermediate) is
      // NOT re-shuffled for the window; only a partition-local sort runs
      val w = Window.partitionBy(col("bk"), col("vec_a"))
        .orderBy(desc("cos_sim"), asc("vec_b"))
      // neighbor side capped to the bucket's EmbBucketCap lowest vec_ids
      // (r18): candidate count ≤ n·cap under any flood. At test SFs no
      // bucket is hot so the roster IS the bucket (byte-identical output);
      // in a replica flood the capped top-3 EQUALS the uncapped one — the
      // (cos desc, vec_b asc) tie-break already picks the lowest ids,
      // which are exactly the ids the roster keeps.
      val wr = Window.partitionBy("bk").orderBy("vec_id")
      val roster = e.withColumn("rn", row_number().over(wr))
        .where(col("rn") <= EmbBucketCap).drop("rn")
      e.as("a").join(roster.as("b"),
          col("a.bk") === col("b.bk") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.bk").as("bk"), col("a.vec_id").as("vec_a"),
          col("b.vec_id").as("vec_b"), col("a.v").as("va"), col("b.v").as("vb"))
        .withColumn("cos_sim", round(cosine(s), 6))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select("vec_a", "rnk", "vec_b", "cos_sim")
        .orderBy("vec_a", "rnk")
    },
    Some(s"""WITH ${bkRelSql("v")},
            ros AS (
              SELECT bk, vec_id, v
              FROM (SELECT bk, vec_id, v,
                           row_number() OVER (PARTITION BY bk
                             ORDER BY vec_id) AS rn
                    FROM v)
              WHERE rn <= $EmbBucketCap),
            p AS (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
              FROM v a JOIN ros b ON a.bk = b.bk AND a.vec_id <> b.vec_id),
            r AS (
              SELECT vec_a, vec_b, cos_sim,
                     CAST(row_number() OVER (
                       PARTITION BY vec_a ORDER BY cos_sim DESC, vec_b) AS INT) AS rnk
              FROM p)
            SELECT vec_a, rnk, vec_b, cos_sim
            FROM r WHERE rnk <= 3
            ORDER BY vec_a, rnk"""))

  // Hubness over LSH-BLOCKED candidates — the production swap the exact
  // emb_hubness key documents (VERDICT r17 #6 gave it its own probed key).
  // Per vector, candidate neighbors are its sign-bucket co-occupants,
  // with the neighbor side capped to the bucket's EmbBucketCap lowest
  // vec_ids (a deterministic roster): candidate count ≤ n·EmbBucketCap —
  // LINEAR in corpus size — instead of Σ occ² (unbounded under a flood).
  // At every oracle-checked test SF no bucket exceeds the cap, so the
  // roster IS the bucket and the key computes plain blocked hubness; the
  // ×200 corpus probe asserts the bound where floods are real. k-occ
  // then counts, per roster member, how many co-bucket vectors rank it
  // in their top-3 (round-6 cosine, vec_id tie-break — the repo's
  // cross-engine ranking protocol). Readout: top-100 hubs. Caveat by
  // construction: inside a flood only roster members can ACCUMULATE
  // k-occ — hub detection (find the poisoners), not exact k-occ for
  // every flood replica, is the contract.
  private val embHubnessAnn = Op(
    "emb_hubness_ann",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      val e = signBucketed(s, d)
      val wRoster = Window.partitionBy("bk").orderBy("vec_id")
      val roster = e
        .withColumn("rn", row_number().over(wRoster))
        .where(col("rn") <= EmbBucketCap)
        .select(col("bk"), col("vec_id").as("nbr"), col("v").as("vb"))
      val pairs = e.select(col("bk"), col("vec_id").as("src"), col("v").as("va"))
        .join(roster, Seq("bk"))
        .where(col("src") =!= col("nbr"))
        .select(col("src"), col("nbr"),
          round(expr("graft_cosine(va, vb)"), 6).as("cs"))
      val w = Window.partitionBy("src").orderBy(desc("cs"), asc("nbr"))
      pairs.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .groupBy(col("nbr").as("vec_id"))
        .agg(count(lit(1)).as("k_occ"))
        .orderBy(desc("k_occ"), asc("vec_id"))
        .limit(100)
    },
    Some(s"""WITH ${bkRelSql("vv")},
            ros AS (
              SELECT bk, vec_id AS nbr, v AS vb
              FROM (SELECT bk, vec_id, v,
                           row_number() OVER (PARTITION BY bk
                             ORDER BY vec_id) AS rn
                    FROM vv)
              WHERE rn <= $EmbBucketCap),
            p AS (
              SELECT s.vec_id AS src, r.nbr,
                     round(list_cosine_similarity(s.v, r.vb), 6) AS cs
              FROM vv s JOIN ros r ON s.bk = r.bk AND s.vec_id <> r.nbr),
            t3 AS (
              SELECT src, nbr,
                     row_number() OVER (PARTITION BY src
                       ORDER BY cs DESC, nbr) AS rnk
              FROM p)
            SELECT nbr AS vec_id, CAST(COUNT(*) AS BIGINT) AS k_occ
            FROM t3 WHERE rnk <= 3
            GROUP BY nbr
            ORDER BY k_occ DESC, vec_id LIMIT 100"""))

  private val dedupEmbedding = Op(
    "dedup_embedding",
    (s, d) => {
      val e = signBucketed(s, d)
      e.as("a").join(e.as("b"),
          col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.v").as("va"), col("b.v").as("vb"))
        .withColumn("cos_sim", round(cosine(s), 6))
        .where(col("cos_sim") >= 0.4)
        .select("vec_a", "vec_b", "cos_sim")
        .orderBy("vec_a", "vec_b")
    },
    Some(s"""WITH ${bkRelSql("v")}
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
            FROM v a JOIN v b ON a.bk = b.bk AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
            ORDER BY vec_a, vec_b"""))

  // ------------------------------------------------------- similarity search
  // Brute-force cosine top-k against one probe vector: the probe broadcasts,
  // the corpus is scanned once map-side, TakeOrderedAndProject picks top-k —
  // the exact-baseline every ANN variant is measured against.
  // Cosine RANGE search (radius query): every corpus vector within a
  // similarity radius of each of the 3 probe vectors — the retrieval shape
  // where the caller wants ALL sufficiently-close neighbors, not a fixed
  // k. The probe set broadcasts (3 rows — the only cross join is
  // probe-side), the corpus scans once, and the threshold predicate runs
  // inside the join so non-matches never reach the sort. Output is
  // radius-bounded, not corpus-bounded.
  private val simRangeSearch = Op(
    "sim_range_search",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("va"))
      val probes = broadcast(e.where(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"), col("va").as("vb")))
      e.crossJoin(probes)
        .where(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s), 6).as("cos_sim"))
        .where(col("cos_sim") >= 0.25)
        .orderBy("probe_id", "vec_id")
    },
    Some("""SELECT p.vec_id AS probe_id, e.vec_id,
                   round(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(p.embedding AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings e
            JOIN embeddings p ON p.vec_id < 3 AND e.vec_id <> p.vec_id
            WHERE round(list_cosine_similarity(
                    CAST(e.embedding AS DOUBLE[]),
                    CAST(p.embedding AS DOUBLE[])), 6) >= 0.25
            ORDER BY probe_id, e.vec_id"""))

  // Cosine-similarity DISTRIBUTION vs the probe vector: the corpus-wide
  // histogram an ANN deployment reads before choosing its radius/k (where
  // does the similarity mass sit?). One broadcast probe, one scan, one
  // bounded groupBy on the 0.1-wide bucket (cosine quantized to exact bp
  // first — no float boundary can split the engines at a bucket edge).
  // Buckets use FLOOR division so every bucket spans exactly [k·0.1,
  // (k+1)·0.1) — truncating division would give bucket 0 a double-width
  // (−0.1, 0.1) span for negative cosines (ADVICE r17 #3).
  private val embCosineHistogram = Op(
    "emb_cosine_histogram",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("va"))
      val probe = broadcast(e.where(col("vec_id") === 0).select(col("va").as("vb")))
      e.where(col("vec_id") =!= 0)
        .crossJoin(probe)
        // floor division on both engines: uniform 0.1-wide buckets
        .select(expr("CAST(floor(CAST(round(graft_cosine(va, vb) * 10000)" +
          " AS BIGINT) / 1000.0D) AS BIGINT)").as("bucket_01"))
        .groupBy("bucket_01").agg(count(lit(1)).as("n"))
        .orderBy("bucket_01")
    },
    Some("""SELECT CAST(floor(CAST(round(list_cosine_similarity(
                     CAST(e.embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                      WHERE vec_id = 0)) * 10000) AS BIGINT) / 1000.0)
                     AS BIGINT) AS bucket_01,
                   CAST(count(*) AS BIGINT) AS n
            FROM embeddings e WHERE e.vec_id <> 0
            GROUP BY 1 ORDER BY bucket_01"""))

  private val simCosineTopk = Op(
    "sim_cosine_topk",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("va"))
      val probe = broadcast(e.where(col("vec_id") === 0).select(col("va").as("vb")))
      e.where(col("vec_id") =!= 0)
        .crossJoin(probe)
        .select(col("vec_id"), round(cosine(s), 6).as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(10)
    },
    Some("""SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6)
                     AS cos_sim
            FROM embeddings WHERE vec_id <> 0
            ORDER BY cos_sim DESC, vec_id LIMIT 10"""))

  // Batched retrieval: top-3 neighbors for EVERY probe in a probe set in
  // one pass (the production shape — queries arrive in batches, not one at
  // a time). The 5-row probe side broadcasts, candidates stream map-side
  // through the codegen'd cosine, and the per-probe rank is one window over
  // the probe key. At 100 TB the same plan holds with thousands of probes:
  // broadcast stays small, candidate scan stays a single pass.
  private val simTopkBatch = Op(
    "sim_topk_batch",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val probes = broadcast(e.where(col("vec_id") < 5)
        .select(col("vec_id").as("p_id"), col("v").as("pv")))
      val w = Window.partitionBy("p_id").orderBy(desc("cos_sim"), asc("vec_id"))
      e.where(col("vec_id") >= 5)
        .crossJoin(probes)
        .select(col("p_id"), col("vec_id"),
          round(expr("graft_cosine(v, pv)"), 6).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("p_id"), col("rank"), col("vec_id"), col("cos_sim"))
        .orderBy("p_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            p AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id < 5),
            c AS (SELECT * FROM e WHERE vec_id >= 5),
            scored AS (
              SELECT p_id, c.vec_id,
                     round(list_cosine_similarity(c.v, pv), 6) AS cos_sim
              FROM c CROSS JOIN p),
            ranked AS (
              SELECT p_id, vec_id, cos_sim,
                     row_number() OVER (PARTITION BY p_id
                       ORDER BY cos_sim DESC, vec_id) AS rn
              FROM scored)
            SELECT p_id, CAST(rn AS INT) AS rank, vec_id, cos_sim
            FROM ranked WHERE rn <= 3 ORDER BY p_id, rank"""))

  /** 8 deterministic random hyperplanes (fixed LCG — never wall-clock or
    * Math.random), 64 dims each, in [-1, 1). */
  private lazy val hyperplanes: Seq[Seq[Double]] = {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    (0 until 8).map(j =>
      lcg(j + 42L).take(64).map(h => ((h >>> 11).toDouble / (1L << 53).toDouble) * 2 - 1).toSeq)
  }

  /** DuckDB replay of the seeded sign-LSH: the LCG hyperplanes are
    * deterministic doubles, so the oracle inlines them as literals
    * (`Double.toString` emits the shortest string that round-trips, and
    * DuckDB's parser resolves it to the identical IEEE double) and
    * recomputes each dot product as an explicit LEFT-ASSOCIATED 64-term
    * sum — the same evaluation order as the Spark-side
    * `aggregate(..., 0D, (a, x) -> a + x)` fold, so every partial sum and
    * hence every sign test agrees bit-for-bit (the leading `0D +` differs
    * only in the sign of a zero, which `>= 0` cannot observe). */
  private lazy val lshOracle: String = {
    def dot(p: Seq[Double]): String =
      p.zipWithIndex.map { case (h, i) => s"v[${i + 1}] * $h" }
        .mkString(" + ")
    val bucket = hyperplanes.zipWithIndex.map { case (p, j) =>
      s"${1 << (7 - j)} * (CASE WHEN ${dot(p)} >= 0 THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        b AS (SELECT vec_id, v, $bucket AS bucket FROM e),
        p AS (SELECT v AS vb, bucket AS pbucket FROM b WHERE vec_id = 0)
        SELECT b.vec_id,
               round(list_cosine_similarity(b.v, p.vb), 6) AS cos_sim
        FROM b JOIN p ON b.bucket = p.pbucket
        WHERE b.vec_id <> 0
        ORDER BY cos_sim DESC, b.vec_id LIMIT 10"""
  }

  // ANN scale path: sign-LSH over 8 fixed hyperplanes buckets the corpus
  // (256 buckets); search touches only the probe's bucket. The seeded
  // planes are deterministic, so the oracle replays them as inline
  // literals (lshOracle above); recall vs the brute-force baseline is
  // additionally asserted in ScalaTest.
  private val simAnnLsh = Op(
    "sim_ann_lsh",
    (s, d) => {
      val bucketExpr =
        """aggregate(sequence(0, 7), 0, (acc, j) ->
          |  acc * 2 + IF(aggregate(zip_with(v, element_at(w, j + 1), (x, y) -> x * y),
          |                         0D, (a, x) -> a + x) >= 0D, 1, 0))""".stripMargin
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("w", typedLit(hyperplanes))
        .withColumn("bucket", expr(bucketExpr))
        .drop("w")
      val probe = broadcast(e.where(col("vec_id") === 0)
        .select(col("v").as("vb"), col("bucket").as("pbucket")))
      e.where(col("vec_id") =!= 0)
        .join(probe, col("bucket") === col("pbucket"))
        .select(col("vec_id"), col("v").as("va"), col("vb"))
        .withColumn("cos_sim", round(cosine(s), 6))
        .select("vec_id", "cos_sim")
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(10)
    },
    Some(lshOracle))

  // IVF-style ANN: vectors 1..8 serve as deterministic coarse "centroids"
  // (leaders); every vector is assigned map-side to its nearest leader
  // (8-row broadcast, codegen'd cosine, window argmax), forming inverted
  // lists partitioned by leader. The probe searches its own list plus the
  // runner-up (nprobe=2). At 100 TB the lists shard by leader id and only
  // ~2/8 of the corpus is scanned per query. Leader similarities are
  // rounded to 6 dp BEFORE the argmax with a lid tie-break (the
  // emb_centroid_assign recipe), so the nprobe=2 candidate set — and hence
  // the oracle-checked top-10 — is engine-independent; recall vs brute
  // force additionally asserted in ScalaTest.
  private val simAnnIvf = Op(
    "sim_ann_ivf",
    (s, d) => {
      val cos = { graft.functions.GraftExtensions.register(s)
        (a: String, b: String) => expr(s"graft_cosine($a, $b)") }
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val leaders = broadcast(
        e.where(col("vec_id").between(1, 8))
          .select(col("vec_id").as("lid"), col("v").as("lv")))
      val byLeader = Window.partitionBy("vec_id").orderBy(desc("lsim"), asc("lid"))
      val assigned = e.crossJoin(leaders)
        .withColumn("lsim", round(cos("v", "lv"), 6))
        .withColumn("rn", row_number().over(byLeader))
      val lists = assigned.where(col("rn") === 1)
        .select(col("vec_id"), col("v"), col("lid"))
      val probeLids = broadcast(assigned
        .where(col("vec_id") === 0 && col("rn") <= 2)
        .select(col("lid").as("plid")))
      val probe = broadcast(e.where(col("vec_id") === 0).select(col("v").as("vb")))
      lists.join(probeLids, col("lid") === col("plid"))
        .where(col("vec_id") =!= 0)
        .crossJoin(probe)
        .select(col("vec_id"),
          round(expr("graft_cosine(v, vb)"), 6).as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(10)
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            l AS (SELECT vec_id AS lid, v AS lv FROM e
                  WHERE vec_id BETWEEN 1 AND 8),
            a0 AS (SELECT e.vec_id, l.lid,
                          round(list_cosine_similarity(e.v, l.lv), 6) AS lsim
                   FROM e CROSS JOIN l),
            a AS (SELECT vec_id, lid,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY lsim DESC, lid) AS rn
                  FROM a0),
            lists AS (SELECT vec_id, lid FROM a WHERE rn = 1),
            plids AS (SELECT lid AS plid FROM a WHERE vec_id = 0 AND rn <= 2),
            p AS (SELECT v AS vb FROM e WHERE vec_id = 0)
            SELECT li.vec_id,
                   round(list_cosine_similarity(e.v, p.vb), 6) AS cos_sim
            FROM lists li
            JOIN plids ON li.lid = plids.plid
            JOIN e ON e.vec_id = li.vec_id
            CROSS JOIN p
            WHERE li.vec_id <> 0
            ORDER BY cos_sim DESC, li.vec_id LIMIT 10"""))

  /** Deterministic per-source-dir root for the persisted ANN index
    * (build-once-serve-many) — conf-driven base + input content
    * fingerprint via [[graft.pipeline.Versioned.stageRoot]]. */
  private def annRoot(s: SparkSession, d: String): org.apache.hadoop.fs.Path =
    graft.pipeline.Versioned.stageRoot(s, "ann1", d, Seq("embeddings"))

  // Persisted ANN index — build-once-serve-many, the production retrieval
  // shape: the sign-bucket index (vec_id, v, bk) is computed ONCE, committed
  // as a versioned table through graft.pipeline.Versioned, and every probe
  // is an equi-join against the committed parquet. The query-time plan
  // contains NO signature recompute for the corpus — even the probe's own
  // bucket comes from the index — and PlanSpec pins that the probe reads
  // only index files, never the raw embeddings table. The bucket is the
  // signBits(n) leading sign bits (the same engine-portable key
  // dedup_embedding blocks on), so unlike the seeded-hyperplane
  // sim_ann_lsh this key is
  // oracle-checked end-to-end: DuckDB recomputes buckets from the raw
  // embeddings and must land on the identical top-10. At 100 TB the index
  // shards by bucket and a rebuild is an explicit maintenance commit, not
  // a per-query cost.
  private val simAnnPersisted = Op(
    "sim_ann_persisted",
    (s, d) => {
      val conf = s.sparkContext.hadoopConfiguration
      val root = annRoot(s, d)
      if (graft.pipeline.Versioned.current(root, conf).isEmpty) {
        val dir = graft.pipeline.Versioned.stagePath(root, Some("v_index"))
        signBucketed(s, d).write.mode("overwrite").parquet(s"$dir/index")
        graft.pipeline.Versioned.commit(root, dir, conf, keepVersions = 2)
      }
      val idx = s.read.parquet(
        s"${graft.pipeline.Versioned.current(root, conf).get.toString}/index")
      graft.functions.GraftExtensions.register(s)
      val probe = broadcast(idx.where(col("vec_id") === 0)
        .select(col("v").as("vb"), col("bk").as("pbk")))
      idx.where(col("vec_id") =!= 0)
        .join(probe, col("bk") === col("pbk"))
        .select(col("vec_id"),
          round(expr("graft_cosine(v, vb)"), 6).as("cos_sim"))
        .orderBy(desc("cos_sim"), asc("vec_id"))
        .limit(10)
    },
    Some(s"""WITH ${bkRelSql("e")},
            p AS (SELECT v AS vb, bk AS pbk FROM e WHERE vec_id = 0)
            SELECT e.vec_id, round(list_cosine_similarity(e.v, p.vb), 6) AS cos_sim
            FROM e JOIN p ON e.bk = p.pbk
            WHERE e.vec_id <> 0
            ORDER BY cos_sim DESC, vec_id LIMIT 10"""))

  // ----------------------------------------------------------- text analysis
  private val textStats = Op(
    "text_stats",
    (s, d) => t(s, d, "documents")
      .withColumn("tk", tokens(col("text")))
      .select(col("doc_id"), col("lang"),
        length(col("text")).as("n_chars"),
        size(col("tk")).as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_uniq"),
        round(length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
          size(col("tk")), 4).as("avg_token_len"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang,
              CAST(length(text) AS INT) AS n_chars,
              CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS INT) AS n_tokens,
              CAST(len(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS INT) AS n_uniq,
              round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0 /
                len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 4) AS avg_token_len
            FROM documents ORDER BY doc_id"""))

  // Explode tokens → count per (lang, term) → top-5 per lang (UDTF shape).
  private val textTopterms = Op(
    "text_topterms",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy(desc("cnt"), asc("term"))
      t(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .where(col("rn") <= 5)
        .orderBy("lang", "rn")
    },
    Some("""WITH toks AS (
              SELECT lang,
                     unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
              FROM documents),
            counts AS (
              SELECT lang, term, count(*) AS cnt FROM toks GROUP BY 1, 2)
            SELECT lang, term, cnt, rn FROM (
              SELECT lang, term, cnt,
                CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS INT) AS rn
              FROM counts)
            WHERE rn <= 5 ORDER BY lang, rn"""))

  /** Marker-token lists per candidate language. Placeholder profiles sized to
    * the synthetic corpus vocabulary — swap for real n-gram profiles in
    * production; the argmax-over-candidates plumbing is the operator. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("的", "了", "是"))

  // Language-ID: score every candidate lang as its own map-side column and
  // pick the argmax with a case chain (alphabetical = the deterministic
  // tie-break). Zero shuffles, zero joins — each task scores its rows alone,
  // which is the only shape that survives 100 TB of documents.
  private val textLangid = Op(
    "text_langid",
    (s, d) => {
      val scored = langMarkers.foldLeft(
        t(s, d, "documents").withColumn("tk", tokens(col("text")))) {
        case (df, (lang, marks)) =>
          df.withColumn(s"s_$lang", expr(
            s"size(filter(tk, t -> t IN (${marks.map(m => s"'$m'").mkString(",")})))"))
      }
      val mx = greatest(langMarkers.map { case (l, _) => col(s"s_$l") }: _*)
      val pick = langMarkers.foldRight(lit("und")) { case ((l, _), els) =>
        when(col(s"s_$l") === col("mx"), lit(l)).otherwise(els)
      }
      scored.withColumn("mx", mx)
        .select(col("doc_id"),
          when(col("mx") === 0, "und").otherwise(pick).as("pred_lang"),
          col("mx").cast("int").as("score"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            cand(cand_lang, markers) AS (VALUES
              ('de', ['der','die','und']), ('en', ['the','a','of']),
              ('es', ['el','la','de']), ('fr', ['le','la','et']),
              ('zh', ['的','了','是'])),
            scored AS (
              SELECT doc_id, cand_lang,
                     len(list_filter(tk, t -> list_contains(markers, t))) AS score
              FROM toks CROSS JOIN cand),
            r AS (SELECT doc_id, cand_lang, score,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, cand_lang) AS rn
                  FROM scored)
            SELECT doc_id,
                   CASE WHEN score = 0 THEN 'und' ELSE cand_lang END AS pred_lang,
                   CAST(score AS INT) AS score
            FROM r WHERE rn = 1 ORDER BY doc_id"""))

  // Language-ID EVALUATION against the corpus's labeled `lang` column —
  // the confusion matrix + per-class accuracy that tells a curation team
  // whether the classifier is good enough to route on. The prediction is
  // the identical zero-shuffle map-side argmax as text_langid; the only
  // shuffle is the (actual, predicted) cell rollup, bounded by the label
  // product. The recall denominator joins back by broadcast.
  private val textLangidConfusion = Op(
    "text_langid_confusion",
    (s, d) => {
      val scored = langMarkers.foldLeft(
        t(s, d, "documents").withColumn("tk", tokens(col("text")))) {
        case (df, (lang, marks)) =>
          df.withColumn(s"s_$lang", expr(
            s"size(filter(tk, t -> t IN (${marks.map(m => s"'$m'").mkString(",")})))"))
      }
      val mx = greatest(langMarkers.map { case (l, _) => col(s"s_$l") }: _*)
      val pick = langMarkers.foldRight(lit("und")) { case ((l, _), els) =>
        when(col(s"s_$l") === col("mx"), lit(l)).otherwise(els)
      }
      val pred = scored.withColumn("mx", mx)
        .select(col("lang").as("actual"),
          when(col("mx") === 0, "und").otherwise(pick).as("predicted"))
      val cells = pred.groupBy("actual", "predicted")
        .agg(count(lit(1)).as("n"))
      val totals = broadcast(cells.groupBy("actual")
        .agg(sum("n").as("n_actual")))
      cells.join(totals, "actual")
        .select(col("actual"), col("predicted"), col("n").cast("long").as("n"),
          round(col("n").cast("double") / col("n_actual"), 6).as("recall"))
        .orderBy("actual", "predicted")
    },
    Some("""WITH toks AS (
              SELECT doc_id, lang,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            cand(cand_lang, markers) AS (VALUES
              ('de', ['der','die','und']), ('en', ['the','a','of']),
              ('es', ['el','la','de']), ('fr', ['le','la','et']),
              ('zh', ['的','了','是'])),
            scored AS (
              SELECT doc_id, lang, cand_lang,
                     len(list_filter(tk, t -> list_contains(markers, t))) AS score
              FROM toks CROSS JOIN cand),
            r AS (SELECT doc_id, lang, cand_lang, score,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, cand_lang) AS rn
                  FROM scored),
            pred AS (SELECT lang AS actual,
                            CASE WHEN score = 0 THEN 'und'
                                 ELSE cand_lang END AS predicted
                     FROM r WHERE rn = 1),
            cells AS (SELECT actual, predicted,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM pred GROUP BY 1, 2),
            tot AS (SELECT actual, CAST(SUM(n) AS BIGINT) AS n_actual
                    FROM cells GROUP BY 1)
            SELECT cells.actual, cells.predicted, cells.n,
                   round(CAST(cells.n AS DOUBLE) / tot.n_actual, 6)
                     AS recall
            FROM cells JOIN tot ON cells.actual = tot.actual
            ORDER BY cells.actual, cells.predicted"""))

  // Quality score: length/stopword/word-shape heuristics combined into one
  // bounded score — pure rational double arithmetic, rounded at the boundary.
  // CCNet-style unigram LM quality score: build corpus token frequencies
  // (the "language model" — one vocabulary-sized aggregate), broadcast them
  // back, and score each document by its summed token log-probability.
  // Scale shape: vocab aggregate is tiny however large the corpus; scoring
  // is a broadcast join + per-doc fold, all map-side after one explode
  // shuffle. Float determinism (SURVEY §7.6): each log term is rounded to
  // 8 dp so both engines hold identical doubles (ln may differ by 1 ulp
  // across libms), the per-doc terms are SORTED before a left fold so the
  // summation order is identical, and the final score rounds to 4 dp.
  private val textLmScore = Op(
    "text_lm_score",
    (s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = freq.agg(sum(col("cnt")).as("total"))
      val terms = broadcast(freq.crossJoin(broadcast(total))
        .select(col("tok"), round(
          log(col("cnt").cast("double") / col("total").cast("double")), 8)
          .as("lp")))
      toks.join(terms, Seq("tok"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("lp"))).as("lps"))
        .select(col("doc_id"), size(col("lps")).as("n_tokens"),
          round(expr("aggregate(lps, 0D, (acc, x) -> acc + x)"), 4)
            .as("lm_score"))
        .orderBy("doc_id")
    },
    Some(raw"""WITH d AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            toks AS (SELECT doc_id, unnest(tk) AS tok FROM d),
            freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
            tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
            term AS (
              SELECT tok, round(ln(CAST(cnt AS DOUBLE) / total), 8) AS lp
              FROM freq, tot),
            scored AS (
              SELECT t.doc_id, list_sort(list(lp)) AS lps
              FROM toks t JOIN term USING (tok) GROUP BY t.doc_id)
            SELECT doc_id, CAST(len(lps) AS INT) AS n_tokens,
                   round(list_reduce(list_prepend(0.0::DOUBLE, lps),
                                     (acc, x) -> acc + x), 4) AS lm_score
            FROM scored ORDER BY doc_id"""))

  private val textQuality = Op(
    "text_quality",
    (s, d) => t(s, d, "documents")
      .withColumn("tk", tokens(col("text")))
      .withColumn("n_tokens", size(col("tk")).cast("double"))
      .withColumn("stop_ratio", expr(
        "size(filter(tk, t -> t IN ('the', 'a', 'of', 'and'))) / CAST(size(tk) AS DOUBLE)"))
      .withColumn("mean_tok_len",
        length(regexp_replace(col("text"), "\\s+", "")).cast("double") / col("n_tokens"))
      .select(col("doc_id"),
        round(col("stop_ratio"), 4).as("stop_ratio"),
        round(col("mean_tok_len"), 4).as("mean_tok_len"),
        // floor(x*1e4 + 0.5)/1e4 instead of round(): both engines agree on
        // IEEE double ops, but their round() implementations break .xxxx5
        // ties differently (SURVEY.md §7.6.2).
        (floor((least(col("n_tokens") / 100.0, lit(1.0)) * 0.5 +
          (lit(1.0) - col("stop_ratio")) * 0.3 +
          least(col("mean_tok_len") / 10.0, lit(1.0)) * 0.2) * 10000.0 + 0.5) / 10000.0)
          .as("quality"))
      .orderBy("doc_id"),
    Some("""WITH q AS (
              SELECT doc_id,
                CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS DOUBLE) AS n_tokens,
                len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                    t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop,
                CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS n_nonws
              FROM documents)
            SELECT doc_id,
              round(n_stop / n_tokens, 4) AS stop_ratio,
              round(n_nonws / n_tokens, 4) AS mean_tok_len,
              floor((least(n_tokens / 100.0, 1.0) * 0.5 +
                     (1.0 - n_stop / n_tokens) * 0.3 +
                     least(n_nonws / n_tokens / 10.0, 1.0) * 0.2) * 10000.0 + 0.5) / 10000.0 AS quality
            FROM q ORDER BY doc_id"""))

  // BPE-ish tokenization: letter runs, digit runs, and single punctuation
  // marks as separate tokens (the pre-tokenizer split most BPE vocabularies
  // assume) — pure per-row regexp work, no shuffle.
  private val textTokenBpe = Op(
    "text_token_bpe",
    (s, d) => t(s, d, "documents")
      .withColumn("tk", expr(
        """regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"""))
      .select(col("doc_id"),
        size(col("tk")).as("n_tokens"),
        size(array_distinct(col("tk"))).as("n_uniq"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_tokens,
              CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS INT) AS n_uniq
            FROM documents ORDER BY doc_id"""))

  // Benchmark decontamination: flag corpus documents sharing ANY shingle
  // with the eval set (here: docs 0-4 stand in for a held-out benchmark).
  // The eval shingle set is tiny at any corpus scale → broadcast; the
  // corpus streams through a broadcast hash join map-side, so decontam
  // costs one scan regardless of corpus size. The training-data hygiene
  // step every pipeline runs before a model ever sees the data.
  private val decontamCheck = Op(
    "decontam_check",
    (s, d) => {
      val sh = shingles(s, d)
      val evalSet = broadcast(
        sh.where(col("doc_id") < 5).select(col("s").as("es")).distinct())
      sh.where(col("doc_id") >= 5)
        .join(evalSet, col("s") === col("es"))
        .groupBy("doc_id")
        .agg(countDistinct(col("s")).as("n_shared"))
        .orderBy("doc_id")
    },
    // sh0, not sh: decontamination must see EVERY shingle — the df-cap is a
    // dedup-candidate-generation guard and would let contamination through
    // boilerplate-heavy eval rows (the Spark side is uncapped too)
    Some(s"""WITH $jaccardCtes
            SELECT c.doc_id, count(DISTINCT c.s) AS n_shared
            FROM sh0 c
            JOIN (SELECT DISTINCT s FROM sh0 WHERE doc_id < 5) e ON c.s = e.s
            WHERE c.doc_id >= 5
            GROUP BY c.doc_id ORDER BY c.doc_id"""))

  // Sequence packing: assign documents to fixed token-budget training
  // windows (budget 1024) by running token cumsum per SOURCE shard —
  // bin = floor(previous cumsum / budget). Exact greedy packing is
  // inherently sequential; the shard-local cumsum formulation is the
  // scalable equivalent (each shard packs independently — one window
  // shuffle on the shard key, no global order). Emits per-bin occupancy.
  private val packSequences = Op(
    "pack_sequences",
    (s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("nt"))
        .withColumn("prev", coalesce(sum(col("nt")).over(w), lit(0L)))
        .withColumn("bin", floor(col("prev") / 1024).cast("long"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("source", "bin")
    },
    Some("""WITH t AS (
              SELECT source, doc_id,
                len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS nt
              FROM documents),
            c AS (
              SELECT source, doc_id, nt,
                coalesce(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
              FROM t)
            SELECT source, CAST(floor(prev / 1024) AS BIGINT) AS bin,
                   count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM c GROUP BY 1, 2 ORDER BY source, bin"""))

  // Winnowing fingerprints: char-8-gram rolling xxhash64, min per 4-window —
  // zero shuffle; seeded hashing → test-only. The hot loop is the native
  // codegen'd TextWinnow expression (one primitive pass per row; the
  // equivalent HOF chain re-walks the string per gram and pays an
  // interpreted lambda frame per element — equivalence asserted in
  // TextWinnowSpec).
  private val textFingerprint = Op(
    "text_fingerprint",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      t(s, d, "documents")
        .where(length(col("text")) >= 11)
        .select(col("doc_id"), expr("graft_winnow(text)").as("w"))
        .select(col("doc_id"), col("w.n_fp").as("n_fp"),
          col("w.fp_min").as("fp_min"), col("w.fp_max").as("fp_max"))
        .orderBy("doc_id")
    },
    None)

  // Composed quality gate (C4/Gopher-style): every document gets a verdict
  // and the FIRST failing rule as its drop reason — short docs, stopword-
  // free docs (boilerplate/code), low lexical diversity (repetition). Pure
  // per-row metric math over one scan, no shuffle; the keep/drop decision
  // is the filter a 100 TB ingest applies before any dedup pass so the
  // expensive stages never see dropped rows. Ratios cross the comparison
  // boundary under the floor(x*1e4+0.5)/1e4 protocol (SURVEY.md §7.6.2);
  // rule thresholds compare raw IEEE doubles, identical on both engines.
  private val qualityGate = Op(
    "quality_gate",
    (s, d) => t(s, d, "documents")
      .withColumn("tk", tokens(col("text")))
      .withColumn("nt", size(col("tk")).cast("double"))
      .withColumn("stop_ratio", expr(
        "size(filter(tk, t -> t IN ('the', 'a', 'of', 'and'))) / CAST(size(tk) AS DOUBLE)"))
      .withColumn("uniq_ratio", size(array_distinct(col("tk"))) / col("nt"))
      .withColumn("reason",
        when(col("n_chars") < 100, "too_short")
          .when(col("stop_ratio") < 0.02, "low_stopword")
          .when(col("uniq_ratio") < 0.40, "repetitive")
          .otherwise("keep"))
      .select(col("doc_id"),
        (col("reason") === "keep").as("kept"),
        col("reason"),
        (floor(col("stop_ratio") * 10000.0 + 0.5) / 10000.0).as("stop_ratio"),
        (floor(col("uniq_ratio") * 10000.0 + 0.5) / 10000.0).as("uniq_ratio"))
      .orderBy("doc_id"),
    Some("""WITH m AS (
              SELECT doc_id, n_chars,
                CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS DOUBLE) AS nt,
                len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                    t -> t IN ('the', 'a', 'of', 'and'))) AS ns,
                len(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS nu
              FROM documents),
            v AS (
              SELECT doc_id, ns / nt AS stop_ratio, nu / nt AS uniq_ratio,
                CASE WHEN n_chars < 100 THEN 'too_short'
                     WHEN ns / nt < 0.02 THEN 'low_stopword'
                     WHEN nu / nt < 0.40 THEN 'repetitive'
                     ELSE 'keep' END AS reason
              FROM m)
            SELECT doc_id, reason = 'keep' AS kept, reason,
                   floor(stop_ratio * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
                   floor(uniq_ratio * 10000.0 + 0.5) / 10000.0 AS uniq_ratio
            FROM v ORDER BY doc_id"""))

  // PII masking: the redaction pass a training-data pipeline runs before
  // anything else. The synthetic corpus carries no real PII, so a contact
  // string is derived deterministically from the customer table (a query,
  // not synthesized data) and the masking regexes do real work over it.
  // Patterns avoid lookaround so Java regex (Spark) and RE2 (DuckDB) agree.
  // Pure per-row regexp_replace/regexp_count — zero shuffle at any scale.
  private val textPiiMask = Op(
    "text_pii_mask",
    (s, d) => {
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
      val phonePat = "\\+?[0-9][0-9-]{6,}[0-9]"
      t(s, d, "customer")
        .withColumn("contact", concat(
          lit("Contact user"), col("c_custkey"),
          lit(" at user"), col("c_custkey"), lit("@example.com or +1-"),
          lpad((col("c_custkey") * 7919 % 10000000).cast("string"), 7, "0")))
        .select(col("c_custkey"),
          (regexp_count(col("contact"), lit(emailPat)) +
            regexp_count(col("contact"), lit(phonePat))).cast("long").as("n_pii"),
          regexp_replace(regexp_replace(col("contact"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>").as("masked"))
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (
              SELECT c_custkey,
                'Contact user' || c_custkey || ' at user' || c_custkey ||
                '@example.com or +1-' ||
                lpad(CAST(c_custkey * 7919 % 10000000 AS VARCHAR), 7, '0') AS contact
              FROM customer)
            SELECT c_custkey,
              CAST(len(regexp_extract_all(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) +
                   len(regexp_extract_all(contact, '\+?[0-9][0-9-]{6,}[0-9]')) AS BIGINT) AS n_pii,
              regexp_replace(
                regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                '\+?[0-9][0-9-]{6,}[0-9]', '<PHONE>', 'g') AS masked
            FROM c ORDER BY c_custkey"""))

  // Embedding normalization + int8 quantization: the prep step before any
  // ANN index build (unit vectors make cosine = dot; int8 cuts the index
  // 4×). All per-row HOF math — the fold over the array is sequential on
  // both engines, so the double accumulation is bit-identical; quantized
  // ints cross the boundary as a joined string (arrays never reach the
  // comparator). Zero shuffle at any scale.
  private val embNormalize = Op(
    "emb_normalize",
    (s, d) => t(s, d, "embeddings")
      .withColumn("ss", expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      .where(col("ss") > 0)
      .select(col("vec_id"),
        expr("concat_ws(',', transform(embedding, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / sqrt(ss) + 0.5) AS BIGINT)))")
          .as("q8"))
      .orderBy("vec_id"),
    Some("""WITH e AS (
              SELECT vec_id, embedding,
                list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS ss
              FROM embeddings)
            SELECT vec_id,
              array_to_string(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / sqrt(ss) + 0.5) AS BIGINT)), ',') AS q8
            FROM e WHERE ss > 0 ORDER BY vec_id"""))

  // Centroid assignment — the building block under IVF indexing and k-means
  // corpus clustering, as a fully deterministic oracle-checked key (the
  // sim_ann_ivf key exercises the same shape but is recall-tested only):
  // the first 8 vectors are the centroids, every other vector goes to its
  // max-cosine centroid (ties to the smallest centroid id on the ROUNDED
  // similarity, so both engines pick identically). Centroids broadcast and
  // the corpus scans once map-side; the argmax is max(struct(sim, -cid))
  // with partial (map-side) aggregation, so the one shuffle carries one
  // pre-reduced row per vector — a window argmax would shuffle all
  // k×N scored rows just to rank them.
  private val embCentroidAssign = Op(
    "emb_centroid_assign",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val cen = broadcast(e.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("v").as("vb")))
      e.where(col("vec_id") >= 8).select(col("vec_id"), col("v").as("va"))
        .crossJoin(cen)
        .select(col("vec_id"), col("cid"), round(cosine(s), 6).as("sim"))
        .groupBy("vec_id")
        .agg(max(struct(col("sim"), (-col("cid")).as("neg_cid"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("centroid_id"), col("m.sim").as("sim"))
        .orderBy("vec_id")
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
                 c AS (SELECT vec_id AS cid, v AS vb FROM v WHERE vec_id < 8),
                 sc AS (SELECT a.vec_id, c.cid,
                              round(list_cosine_similarity(a.v, c.vb), 6) AS sim
                        FROM v a CROSS JOIN c WHERE a.vec_id >= 8),
                 r AS (SELECT vec_id, cid, sim,
                              row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cid) AS rn
                       FROM sc)
            SELECT vec_id, cid AS centroid_id, sim
            FROM r WHERE rn = 1 ORDER BY vec_id"""))

  // Within-document repetition ratio — the Gopher-style repetition filter
  // signal at n-gram granularity: fraction of a document's 3-gram
  // OCCURRENCES that are repeats of an earlier 3-gram
  // (1 − distinct/total). Machine-generated or template-stuffed text
  // scores high; flagged at ≥ 0.2. Map-side only: the distinct count
  // comes from the native ShingleSet expression, the total from the token
  // count — no explode, no shuffle except the presentation sort.
  private val textRepetition = Op(
    "text_repetition",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      t(s, d, "documents")
        .withColumn("nt", size(tokens(col("text"))))
        .where(col("nt") >= 3)
        .select(col("doc_id"), col("nt").cast("long").as("n_tokens"),
          expr("size(graft_shingles(trim(regexp_replace(lower(text), '\\\\s+', ' ')), 3))")
            .cast("long").as("n_distinct"),
          (col("nt") - 2).cast("long").as("n_total"))
        .withColumn("rep_ratio", expr(
          "floor((1.0 - CAST(n_distinct AS DOUBLE) / n_total) * 1e4 + 0.5) / 1e4"))
        .withColumn("flagged", col("rep_ratio") >= 0.2)
        .select("doc_id", "n_tokens", "n_distinct", "n_total", "rep_ratio", "flagged")
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            f AS (SELECT doc_id, tk, len(tk) AS nt FROM t WHERE len(tk) >= 3),
            g AS (
              SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(list_transform(range(len(tk) - 2),
                       i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS BIGINT)
                       AS n_distinct,
                     CAST(nt - 2 AS BIGINT) AS n_total
              FROM f)
            SELECT doc_id, n_tokens, n_distinct, n_total,
                   floor((1.0 - CAST(n_distinct AS DOUBLE) / n_total) * 1e4 + 0.5) / 1e4
                     AS rep_ratio,
                   floor((1.0 - CAST(n_distinct AS DOUBLE) / n_total) * 1e4 + 0.5) / 1e4
                     >= 0.2 AS flagged
            FROM g ORDER BY doc_id"""))

  // Corpus mixing — the training-data recipe step after cleaning/dedup:
  // rebalance the language (or domain) mixture by DETERMINISTIC per-group
  // downsampling. Each document's keep decision is a pure function of its
  // id (md5-prefix uniform, the sample_hash pattern — reproducible across
  // engines, retries, and partitionings; no rand()), with the rate chosen
  // per group: here the dominant language keeps 25%, zh 75%, the rest ~100%.
  // Map-side filter — no shuffle except the presentation sort; at 100 TB
  // the rates come from a broadcast recipe table instead of a CASE.
  private val corpusMix = Op(
    "corpus_mix",
    (s, d) => t(s, d, "documents")
      .where(md5(concat_ws("-", col("doc_id"))) <
        when(col("lang") === "en", "40")
          .when(col("lang") === "zh", "c0")
          .otherwise("ff"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, n_chars
            FROM documents
            WHERE md5(concat_ws('-', doc_id)) <
              CASE WHEN lang = 'en' THEN '40'
                   WHEN lang = 'zh' THEN 'c0'
                   ELSE 'ff' END
            ORDER BY doc_id"""))

  // Deterministic WEIGHTED (importance) sampling: keep each document with
  // probability proportional to its length — sampling documents ∝ tokens is
  // how you sample TOKENS uniformly, the corpus-subsetting step between
  // "uniform over docs" (sample_hash) and "fixed per-class rates"
  // (corpus_mix). The acceptance test is pure hash arithmetic: an md5-prefix
  // uniform compared against the row's weight formatted as an 8-digit hex
  // threshold — reproducible across engines, retries, and cluster sizes,
  // and map-side except the broadcast of the global max (one tiny
  // aggregate). The threshold is clamped to 2^32−1 ('ffffffff') BEFORE hex:
  // for n_chars == mx the unclamped value is exactly 2^32, whose 9-digit
  // hex '100000000' an 8-char lpad would TRUNCATE to '10000000' — keeping
  // the longest documents (the ones importance sampling most wants) at
  // p≈1/16 instead of ≈1. Both engines apply the identical clamp.
  private val sampleWeighted = Op(
    "sample_weighted",
    (s, d) => {
      val docs = t(s, d, "documents")
      val mx = docs.agg(max("n_chars").as("mx"))
      docs.crossJoin(broadcast(mx))
        .where(substring(md5(concat_ws("-", col("doc_id"))), 1, 8) <
          expr("""lpad(lower(hex(CAST(least(n_chars * 4294967296 div mx,
                 4294967295) AS BIGINT))), 8, '0')"""))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_chars
            FROM documents
            WHERE substr(md5(concat_ws('-', doc_id)), 1, 8) <
              lpad(lower(hex(CAST(least(n_chars * 4294967296 //
                (SELECT max(n_chars) FROM documents), 4294967295) AS BIGINT))), 8, '0')
            ORDER BY doc_id"""))

  // Overlapping token chunking — the pretraining/RAG windowing step: each
  // document splits into 32-token chunks at stride 24 (8-token overlap so
  // no boundary context is lost), including the partial tail chunk. Chunks
  // cross the comparison boundary as md5 digests (raw chunk text would
  // dominate the output). Map-side explode, no shuffle except the sort;
  // chunk count per doc is ceil(nt/stride) so output scales linearly.
  private val textChunkOverlap = Op(
    "text_chunk_overlap",
    (s, d) => t(s, d, "documents")
      .withColumn("tk", tokens(col("text")))
      .withColumn("nt", size(col("tk")))
      .where(col("nt") >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST((nt - 1) div 24 AS INT)),
          |  c -> named_struct(
          |    'chunk_id', CAST(c AS BIGINT),
          |    'n_tok', CAST(least(32, nt - c*24) AS BIGINT),
          |    'chunk_sig', md5(array_join(slice(tk, c*24 + 1, 32), ' '))))""".stripMargin))
        .as("ch"))
      .select(col("doc_id"), col("ch.chunk_id"), col("ch.n_tok"), col("ch.chunk_sig"))
      .orderBy("doc_id", "chunk_id"),
    Some("""WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            f AS (SELECT doc_id, tk, len(tk) AS nt FROM t WHERE len(tk) >= 3),
            c AS (SELECT doc_id, nt, tk,
                         unnest(range(0, (nt - 1) // 24 + 1)) AS chunk_id
                  FROM f)
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(least(32, nt - chunk_id*24) AS BIGINT) AS n_tok,
                   md5(array_to_string(tk[CAST(chunk_id*24 + 1 AS INT) :
                                          CAST(chunk_id*24 + 32 AS INT)], ' ')) AS chunk_sig
            FROM c ORDER BY doc_id, chunk_id"""))

  // Prefix dedup — catches TRUNCATION duplicates (same article cut at
  // different lengths), which full-text hashing misses and shingle Jaccard
  // only catches when the shared prefix dominates both docs. Group on the
  // md5 of the first 20 normalized tokens; emit only groups with >1 doc,
  // with the survivor (min id), the group size, and whether lengths differ
  // (the truncation signature). One hash shuffle, same scale shape as
  // dedup_exact.
  private val dedupPrefix = Op(
    "dedup_prefix",
    (s, d) => t(s, d, "documents")
      .withColumn("tk", tokens(col("text")))
      .where(size(col("tk")) >= 20)
      .select(col("doc_id"), col("n_chars"),
        md5(expr("array_join(slice(tk, 1, 20), ' ')")).as("pfx"))
      .groupBy("pfx")
      .agg(min(col("doc_id")).as("survivor_id"),
        count(lit(1)).as("n_docs"),
        (countDistinct(col("n_chars")) > 1).as("lengths_differ"))
      .where(col("n_docs") > 1)
      .select("pfx", "survivor_id", "n_docs", "lengths_differ")
      .orderBy("pfx"),
    Some("""WITH t AS (
              SELECT doc_id, n_chars,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            p AS (SELECT doc_id, n_chars,
                         md5(array_to_string(tk[1:20], ' ')) AS pfx
                  FROM t WHERE len(tk) >= 20)
            SELECT pfx, min(doc_id) AS survivor_id,
                   count(*) AS n_docs,
                   count(DISTINCT n_chars) > 1 AS lengths_differ
            FROM p GROUP BY pfx HAVING count(*) > 1
            ORDER BY pfx"""))

  // The capstone composition — the steps above chained into the single
  // query a corpus builder actually ships: length + repetition quality
  // gates, exact-dup survivors, truncation-prefix survivors, benchmark
  // decontamination against the (broadcast) eval set, then deterministic
  // language-mixture downsampling. Every stage is one of this file's
  // oracle-checked primitives, so the whole pipeline is itself
  // oracle-checked end-to-end; at 100 TB the same plan runs with three
  // key shuffles (norm-text, prefix, shingle) and map-side everything else.
  private val corpusBuild = Op(
    "corpus_build",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      // quality: long enough, not repetition-collapsed
      val quality = docs
        .withColumn("nt", size(tokens(col("text"))))
        .where(col("n_chars") >= 100 && col("nt") >= 3)
        .withColumn("n_distinct", expr(
          "size(graft_shingles(trim(regexp_replace(lower(text), '\\\\s+', ' ')), 3))"))
        .where(expr(
          "floor((1.0 - CAST(n_distinct AS DOUBLE) / (nt - 2)) * 1e4 + 0.5) / 1e4 < 0.2"))
      // exact-dup survivors (min id per normalized text); the window keys
      // on the md5 digest so the shuffle/sort comparator sees a fixed
      // 32-char key, not whole documents
      val w1 = Window.partitionBy(md5(normText(col("text"))))
      val exact = quality
        .withColumn("keep1", col("doc_id") === min(col("doc_id")).over(w1))
        .where(col("keep1"))
      // truncation-prefix survivors (min id per 20-token prefix; short docs pass)
      val w2 = Window.partitionBy(col("pfx"))
      val prefix = exact
        .withColumn("pfx", when(col("nt") >= 20,
          md5(expr("array_join(slice(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '), 1, 20), ' ')")))
          .otherwise(concat(lit("solo-"), col("doc_id"))))
        .withColumn("keep2", col("doc_id") === min(col("doc_id")).over(w2))
        .where(col("keep2"))
      // decontamination: no shingle shared with the eval set (doc_id < 5),
      // and the eval docs themselves stay out of the corpus
      val sh = shinglesFrom(docs)
      val evalSet = broadcast(
        sh.where(col("doc_id") < 5).select(col("s").as("es")).distinct())
      val contaminated = sh.join(evalSet, col("s") === col("es"))
        .select("doc_id").distinct()
      val clean = prefix.where(col("doc_id") >= 5)
        .join(contaminated, Seq("doc_id"), "left_anti")
      // mixture: deterministic per-language downsampling
      clean
        .where(md5(concat_ws("-", col("doc_id"))) <
          when(col("lang") === "en", "40")
            .when(col("lang") === "zh", "c0")
            .otherwise("ff"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },
    Some(raw"""WITH d AS (
              SELECT doc_id, lang, n_chars, text,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            q AS (
              SELECT *, len(tk) AS nt,
                     len(list_distinct(list_transform(range(len(tk) - 2),
                       i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))) AS n_distinct
              FROM d WHERE n_chars >= 100 AND len(tk) >= 3),
            quality AS (
              SELECT * FROM q
              WHERE floor((1.0 - CAST(n_distinct AS DOUBLE) / (nt - 2)) * 1e4 + 0.5) / 1e4 < 0.2),
            exact AS (
              SELECT * FROM (
                SELECT *, min(doc_id) OVER (
                  PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS m1
                FROM quality) WHERE doc_id = m1),
            pfxd AS (
              SELECT *, CASE WHEN nt >= 20
                             THEN md5(array_to_string(tk[1:20], ' '))
                             ELSE 'solo-' || doc_id END AS pfx
              FROM exact),
            pref AS (
              SELECT * FROM (
                SELECT *, min(doc_id) OVER (PARTITION BY pfx) AS m2 FROM pfxd)
              WHERE doc_id = m2),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(range(len(tk) - 2),
                       i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS s
              FROM d WHERE len(tk) >= 3),
            contaminated AS (
              SELECT DISTINCT c.doc_id
              FROM sh c JOIN (SELECT DISTINCT s FROM sh WHERE doc_id < 5) e
                ON c.s = e.s),
            clean AS (
              SELECT p.* FROM pref p
              WHERE p.doc_id >= 5
                AND p.doc_id NOT IN (SELECT doc_id FROM contaminated))
            SELECT doc_id, lang, n_chars
            FROM clean
            WHERE md5(concat_ws('-', doc_id)) <
              CASE WHEN lang = 'en' THEN '40'
                   WHEN lang = 'zh' THEN 'c0'
                   ELSE 'ff' END
            ORDER BY doc_id"""))

  // INCREMENTAL dedup — the production shape at 100 TB: a new batch dedupes
  // against the already-deduped corpus (and against itself, min-id-wins)
  // WITHOUT re-processing the corpus; only batch×corpus and batch×batch
  // candidates are scored, never corpus×corpus again. Here the even
  // doc_ids stand in for the existing store and the odd ids for the
  // arriving batch; a corpus near-dup always blocks, an earlier batch doc
  // blocks its later near-dups. Shares the session-cached Jaccard pair set
  // with the other dedup keys, so the marginal cost is two filters and an
  // anti-join-shaped left join.
  private val dedupIncremental = Op(
    "dedup_incremental",
    (s, d) => {
      val pairs = jaccardPairs(s, d) // (doc_a < doc_b, jaccard ≥ 0.8), cached
      val blocked = pairs.where(col("doc_b") % 2 === 1)
        .select(col("doc_b").as("doc_id")) // lower-id partner (corpus or earlier batch)
        .unionByName(pairs
          .where(col("doc_a") % 2 === 1 && col("doc_b") % 2 === 0)
          .select(col("doc_a").as("doc_id"))) // higher-id corpus partner
        .distinct()
      t(s, d, "documents").where(col("doc_id") % 2 === 1).select("doc_id")
        .join(blocked.withColumn("hit", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"), col("hit").isNotNull.as("dropped"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $jaccardCtes,
            blocked AS (
              SELECT doc_b AS doc_id FROM jp WHERE doc_b % 2 = 1
              UNION
              SELECT doc_a FROM jp WHERE doc_a % 2 = 1 AND doc_b % 2 = 0),
            batch AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1)
            SELECT b.doc_id, (bl.doc_id IS NOT NULL) AS dropped
            FROM batch b LEFT JOIN blocked bl ON b.doc_id = bl.doc_id
            ORDER BY b.doc_id"""))

  // Character-level Shannon entropy as a quality signal (gibberish ≈
  // log2(alphabet), repeated filler ≈ 0 — the C4/Gopher-family "natural
  // text" check the ratio rules can't express). The per-document histogram +
  // entropy is ONE pass inside codegen via the native
  // [[graft.functions.CharEntropy]] expression; the declarative alternative
  // (explode every character, groupBy doc) would shuffle |text| rows per
  // document. Oracle: DuckDB's entropy() aggregate over the exploded
  // characters — the LEFT JOIN keeps empty documents (entropy 0) in lockstep
  // with the engine's non-null 0.0.
  private val textEntropy = Op(
    "text_entropy",
    (s, d) => {
      graft.functions.GraftExtensions.register(s)
      t(s, d, "documents")
        .select(col("doc_id"),
          // NULL text → 0.0, matching the oracle's LEFT JOIN + coalesce
          // (the expression itself is null-intolerant like any Catalyst
          // UnaryExpression)
          coalesce(round(expr("graft_char_entropy(text)"), 4), lit(0.0))
            .as("char_entropy"))
        .orderBy("doc_id")
    },
    Some("""SELECT d.doc_id, coalesce(e.char_entropy, 0.0) AS char_entropy
            FROM documents d LEFT JOIN (
              SELECT doc_id, round(entropy(c), 4) AS char_entropy
              FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
                    FROM documents)
              GROUP BY doc_id) e ON d.doc_id = e.doc_id
            ORDER BY d.doc_id"""))

  // Semantic dedup clusters (the SemDeDup shape): near-dup EDGES come from
  // the sign-bucketed cosine join (same blocking + threshold discipline as
  // `dedup_embedding`), then large-star/small-star contraction turns pairs
  // into components and one representative survives per cluster — the
  // embedding-space twin of `dedup_clusters`. At 100 TB the bucket equi-join
  // is the only candidate generator (never all-pairs) and the fixpoint is
  // the same O(log² n)-round contraction the text path uses; the oracle
  // replays components with a recursive transitive-closure CTE.
  private val dedupEmbeddingClusters = Op(
    "dedup_embedding_clusters",
    (s, d) => {
      val e = signBucketed(s, d)
      // per-bucket occupancy: tiny (≤ 2^16 rows), broadcast into the probe
      val occ = broadcast(e.groupBy("bk").agg(count(lit(1)).as("bn")))
      val eo = e.join(occ, Seq("bk"))
      // cold buckets (≤ EmbBucketCap): the exact within-bucket pair join —
      // byte-identical behavior to the uncapped r17 path at every test SF
      val cold = eo.where(col("bn") <= EmbBucketCap)
      val coldPairs = cold.as("a").join(cold.as("b"),
          col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("u"), col("b.vec_id").as("v"),
          col("a.v").as("va"), col("b.v").as("vb"))
      // hot buckets: the minhash-star idiom in embedding space (VERDICT
      // r17 #4). Sub-bucket by the FULL 16-bit sign code — a saturated
      // bucket is a near-dup flood, and flood members share all 16 signs —
      // then (member → code-rep) stars + all-pairs over the code reps:
      // O(occ) + O(reps²) where reps = distinct codes, instead of O(occ²).
      // For replica floods the components are IDENTICAL to all-pairs
      // (members reach their rep at cos 1, reps replay the base-level
      // pair set); every edge still verifies exact cosine ≥ 0.4, so no
      // false edge is possible at any occupancy.
      val hot = eo.where(col("bn") > EmbBucketCap)
      val reps = hot.groupBy("bk", "c16")
        .agg(min("vec_id").as("rep"), expr("min_by(v, vec_id)").as("rv"))
      val star = hot.join(reps, Seq("bk", "c16"))
        .where(col("vec_id") =!= col("rep"))
        .select(col("rep").as("u"), col("vec_id").as("v"),
          col("rv").as("va"), col("v").as("vb"))
      val repPairs = reps.as("a").join(reps.as("b"),
          col("a.bk") === col("b.bk") && col("a.rep") < col("b.rep"))
        .select(col("a.rep").as("u"), col("b.rep").as("v"),
          col("a.rv").as("va"), col("b.rv").as("vb"))
      val edges = coldPairs.unionByName(star).unionByName(repPairs)
        .where(round(cosine(s), 6) >= 0.4)
        .select("u", "v")
      val labels = connectedComponents(edges)
      val vecs = t(s, d, "embeddings").select(col("vec_id"))
      val w = Window.partitionBy("cluster_rep")
      vecs.join(labels, vecs("vec_id") === labels("node"), "left")
        .select(col("vec_id"),
          coalesce(col("lab"), col("vec_id")).as("cluster_rep"))
        .withColumn("cluster_size", count(lit(1)).over(w))
        .withColumn("is_survivor",
          (col("vec_id") === col("cluster_rep")).cast("boolean"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE ${bkRelSql("vv")},
            occ AS (SELECT bk, count(*) AS bn FROM vv GROUP BY bk),
            cp AS (
              SELECT a.vec_id AS pu, b.vec_id AS pv, a.v AS av, b.v AS bv
              FROM vv a JOIN vv b ON a.bk = b.bk AND a.vec_id < b.vec_id
              JOIN occ o ON o.bk = a.bk AND o.bn <= $EmbBucketCap),
            reps AS (
              SELECT vv.bk, vv.c16, MIN(vv.vec_id) AS rep
              FROM vv JOIN occ o ON o.bk = vv.bk AND o.bn > $EmbBucketCap
              GROUP BY vv.bk, vv.c16),
            rv AS (SELECT r.bk, r.c16, r.rep, x.v
                   FROM reps r JOIN vv x ON x.vec_id = r.rep),
            st AS (
              SELECT r.rep AS pu, m.vec_id AS pv, r.v AS av, m.v AS bv
              FROM vv m JOIN rv r ON m.bk = r.bk AND m.c16 = r.c16
              WHERE m.vec_id <> r.rep),
            rp AS (
              SELECT a.rep AS pu, b.rep AS pv, a.v AS av, b.v AS bv
              FROM rv a JOIN rv b ON a.bk = b.bk AND a.rep < b.rep),
            p AS (
              SELECT pu, pv FROM (SELECT * FROM cp
                                  UNION ALL SELECT * FROM st
                                  UNION ALL SELECT * FROM rp)
              WHERE round(list_cosine_similarity(av, bv), 6) >= 0.4),
            e AS (SELECT pu AS u, pv AS v FROM p
                  UNION ALL SELECT pv, pu FROM p),
            reach(u, v) AS (
              SELECT u, v FROM e
              UNION
              SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
            lab AS (
              SELECT u AS vec_id, least(u, min(v)) AS cluster_rep
              FROM reach GROUP BY u),
            allv AS (
              SELECT em.vec_id, coalesce(l.cluster_rep, em.vec_id) AS cluster_rep
              FROM embeddings em LEFT JOIN lab l ON em.vec_id = l.vec_id)
            SELECT vec_id, cluster_rep,
                   count(*) OVER (PARTITION BY cluster_rep) AS cluster_size,
                   vec_id = cluster_rep AS is_survivor
            FROM allv ORDER BY vec_id"""))

  // PMI-ranked bigram collocations — corpus statistics for tokenizer and
  // quality work: which adjacent word pairs co-occur far more than chance
  // ("new york" vs "the the"). Unigram and bigram counts are map-side
  // combinable aggregates (two shuffles on word keys, both partial-agg
  // friendly); the two scalar totals ride a 1-row cross join that AQE
  // broadcasts; the min-count filter runs BEFORE the unigram joins so the
  // joined relation is the rare-pair set, not the full bigram stream. PMI
  // uses identical double-arithmetic shape on both engines so 4-dp rounding
  // agrees.
  private val textCollocations = Op(
    "text_collocations",
    (s, d) => {
      val tk = t(s, d, "documents")
        .select(tokens(col("text")).as("tk")).where(size(col("tk")) >= 2)
        .trackedCache()
      val uni = tk.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val bi = tk.select(explode(expr(
          "transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS w1, tk[i+1] AS w2))"))
          .as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val totals = tk.agg(
        sum(size(col("tk"))).cast("double").as("n_uni"),
        sum(size(col("tk")) - 1).cast("double").as("n_bi"))
      bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
        .where(col("n_pair") >= 5)
        .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
        .crossJoin(totals)
        .select(col("w1"), col("w2"), col("n_pair"),
          round(log(
            (col("n_pair").cast("double") * col("n_uni") * col("n_uni")) /
              (col("n_bi") * col("c1").cast("double") * col("c2").cast("double"))), 4)
            .as("pmi"))
        .orderBy(desc("pmi"), asc("w1"), asc("w2"))
        .limit(50)
    },
    Some("""WITH toks AS (
              SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            t2 AS (SELECT tk FROM toks WHERE len(tk) >= 2),
            uni AS (
              SELECT w, count(*) AS cw
              FROM (SELECT unnest(tk) AS w FROM t2) GROUP BY w),
            bi AS (
              SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
                     count(*) AS n_pair
              FROM (SELECT unnest(list_transform(range(len(tk) - 1),
                       i -> tk[i+1] || ' ' || tk[i+2])) AS bg
                    FROM t2)
              GROUP BY 1, 2 HAVING count(*) >= 5),
            totals AS (
              SELECT CAST(sum(len(tk)) AS DOUBLE) AS n_uni,
                     CAST(sum(len(tk) - 1) AS DOUBLE) AS n_bi
              FROM t2)
            SELECT w1, w2, n_pair,
                   round(ln((CAST(n_pair AS DOUBLE) * n_uni * n_uni) /
                            (n_bi * CAST(u1.cw AS DOUBLE) * CAST(u2.cw AS DOUBLE))), 4)
                     AS pmi
            FROM bi
            JOIN uni u1 ON bi.w1 = u1.w
            JOIN uni u2 ON bi.w2 = u2.w
            CROSS JOIN totals
            ORDER BY pmi DESC, w1, w2 LIMIT 50"""))

  // Deterministic training-shard write — the last step of a corpus pipeline:
  // assign every document a stable shard by content-independent hash (first
  // md5 hex digit of the id → 16 shards, uniform and reproducible across
  // engines and runs), WRITE the corpus partitioned by shard, and return the
  // per-shard manifest (doc count, char total, lang spread, id range) read
  // back from the written files — the manifest a training loader consumes.
  // One partitioned write, one map-side-combinable aggregate; at 100 TB the
  // same plan writes each shard from its own tasks with no skew (hash digit
  // is uniform by construction).
  private val corpusShardWrite = Op(
    "corpus_shard_write",
    (s, d) => {
      val out = tmp("graft_csw_")
      t(s, d, "documents")
        .withColumn("shard", substring(md5(col("doc_id").cast("string")), 1, 1))
        .write.mode("overwrite").partitionBy("shard").parquet(out)
      s.read.parquet(out)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("shard")
    },
    Some("""SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   count(DISTINCT lang) AS n_langs,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents GROUP BY 1 ORDER BY shard"""))

  /** Deterministic ±1 sign for the random-projection matrix: +1 when the
    * first hex digit of md5("i_j") is 0–7, −1 otherwise — reproducible from
    * public md5 on any engine (the DuckDB oracle derives the same sign in
    * SQL), no seeded RNG anywhere. */
  private def jlSign(i: Int, j: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${i}_${j}".getBytes("UTF-8"))
    if (((digest(0) >> 4) & 0xf) <= 7) 1.0 else -1.0
  }

  // Random-projection dimensionality reduction (Johnson–Lindenstrauss with a
  // ±1 sign matrix): 64-dim embeddings → 4 projected coordinates, the cheap
  // preprocessing step before banding/clustering when the raw dimension is
  // large. The sign matrix is DERIVED (md5 of the coordinate pair), so the
  // projection is a pure map-side expression — zero shuffles, zero state,
  // trivially parallel at 100 TB — and the oracle recomputes the identical
  // matrix in SQL. Each output coordinate is a zip_with product + ordered
  // fold inside codegen.
  private val embDimReduce = Op(
    "emb_dim_reduce",
    (s, d) => {
      // inDim pins the embeddings fixture's 64-dim contract on BOTH sides
      // (oracle hard-codes it too); a dim change fails loudly via null sums
      // from the length-mismatched zip_with, never silently.
      val inDim = 64; val outDim = 4
      val mat = array((0 until outDim).map(j =>
        array((0 until inDim).map(i => lit(jlSign(i, j))): _*)): _*)
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("m", mat)
        .select(col("vec_id") +: (0 until outDim).map(j =>
          round(expr(
            s"aggregate(zip_with(v, m[$j], (x, s) -> x * s), 0D, (acc, x) -> acc + x)"),
            4).as(s"r$j")): _*)
        .orderBy("vec_id")
    },
    Some("""WITH x AS (
              SELECT vec_id, i, CAST(embedding AS DOUBLE[])[i + 1] AS xv
              FROM embeddings, (SELECT unnest(range(64)) AS i))
            SELECT vec_id,
                   round(sum(xv * CASE WHEN substr(md5(i || '_0'), 1, 1) <= '7'
                                       THEN 1.0 ELSE -1.0 END), 4) AS r0,
                   round(sum(xv * CASE WHEN substr(md5(i || '_1'), 1, 1) <= '7'
                                       THEN 1.0 ELSE -1.0 END), 4) AS r1,
                   round(sum(xv * CASE WHEN substr(md5(i || '_2'), 1, 1) <= '7'
                                       THEN 1.0 ELSE -1.0 END), 4) AS r2,
                   round(sum(xv * CASE WHEN substr(md5(i || '_3'), 1, 1) <= '7'
                                       THEN 1.0 ELSE -1.0 END), 4) AS r3
            FROM x GROUP BY vec_id ORDER BY vec_id"""))

  // Per-document TF-IDF keywords — the standard per-doc salience signal a
  // corpus curation pipeline uses for topic tagging and near-topic
  // filtering. One cached (doc_id, term, tf) relation feeds BOTH the term
  // document-frequency aggregate and the scoring join, so the tokenize +
  // explode pass runs once. Shapes at 100 TB: the tf aggregate is
  // map-side-combinable on (doc_id, term); df is a two-phase count over the
  // same relation keyed by term (vocab-sized, shuffles fine, AQE
  // broadcasts it when small); the per-doc top-3 is one window shuffle on
  // doc_id. The score's single multiply (tf * ln(N/df)) has no sum-order
  // dependence, so 4-dp rounding agrees bit-for-bit across engines.
  private val textTfidf = Op(
    "text_tfidf",
    (s, d) => {
      val tf = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .trackedCache()
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = tf.select(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round(col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df").cast("double")), 4)
            .as("tfidf"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .where(col("rn") <= 3)
        .orderBy("doc_id", "rn")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
            scored AS (
              SELECT tf.doc_id, tf.term,
                     round(CAST(tf AS DOUBLE) *
                           ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 4) AS tfidf
              FROM tf JOIN df USING (term) CROSS JOIN n),
            r AS (SELECT doc_id, term, tfidf,
                         CAST(row_number() OVER (PARTITION BY doc_id
                           ORDER BY tfidf DESC, term) AS INT) AS rn
                  FROM scored)
            SELECT doc_id, term, tfidf, rn FROM r
            WHERE rn <= 3 ORDER BY doc_id, rn"""))

  /** Sliding-window span length for [[dedupSubstring]] (tokens per hashed
    * span). 8 is small enough to catch partial template reuse the
    * whole-doc keys miss, large enough that chance collisions are ~0. */
  private[graft] val SubstringSpanTokens = 8

  // Cross-document duplicated-span detection — the scalable analog of
  // suffix-array substring dedup (Lee et al., "Deduplicating Training Data
  // Makes Language Models Better"): hash every sliding 8-token span, find
  // spans present in ≥ 2 distinct documents, and score each document by
  // the fraction of its spans that are cross-doc duplicates. Strictly
  // LINEAR at every step — explode is O(tokens), the span-df aggregate is
  // a two-phase distinct on the span hash (map-side partials), and the
  // flag joins back on the same equi-key — no pair generation anywhere, so
  // a boilerplate span shared by a billion docs costs one counter, not a
  // quadratic candidate set. Complements dedup_ngram_jaccard (whole-doc
  // similarity) and text_repetition (within-doc repeats).
  private val dedupSubstring = Op(
    "dedup_substring",
    (s, d) => {
      val spans = t(s, d, "documents")
        .withColumn("tk", tokens(col("text")))
        .where(size(col("tk")) >= SubstringSpanTokens)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(0, size(tk) - $SubstringSpanTokens),
             |  i -> md5(array_join(slice(tk, i + 1, $SubstringSpanTokens), ' ')))""".stripMargin))
          .as("h"))
        .trackedCache()
      // "seen in ≥ 2 distinct docs" ⟺ min(doc_id) < max(doc_id): plain
      // min/max partials are map-side-combinable single-pass aggregates,
      // where a count-distinct would pay a second Expand/shuffle phase
      val dupSpans = spans.groupBy("h")
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .where(col("mn") < col("mx"))
        .select(col("h"), lit(1L).as("span_df"))
      spans.join(dupSpans, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          count(col("span_df")).as("n_dup_spans"))
        .withColumn("dup_ratio", expr(
          "floor(CAST(n_dup_spans AS DOUBLE) / n_spans * 1e4 + 0.5) / 1e4"))
        .withColumn("flagged", col("dup_ratio") >= 0.5)
        .select("doc_id", "n_spans", "n_dup_spans", "dup_ratio", "flagged")
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            spans AS (
              SELECT doc_id,
                     unnest(list_transform(range(len(tk) - ${SubstringSpanTokens - 1}),
                       i -> md5(array_to_string(tk[i+1:i+$SubstringSpanTokens], ' ')))) AS h
              FROM t WHERE len(tk) >= $SubstringSpanTokens),
            dup AS (
              SELECT h FROM spans GROUP BY h
              HAVING min(doc_id) < max(doc_id)),
            g AS (
              SELECT s.doc_id, count(*) AS n_spans,
                     count(dup.h) AS n_dup_spans
              FROM spans s LEFT JOIN dup ON s.h = dup.h
              GROUP BY s.doc_id)
            SELECT doc_id, n_spans, n_dup_spans,
                   floor(CAST(n_dup_spans AS DOUBLE) / n_spans * 1e4 + 0.5) / 1e4
                     AS dup_ratio,
                   (floor(CAST(n_dup_spans AS DOUBLE) / n_spans * 1e4 + 0.5) / 1e4)
                     >= 0.5 AS flagged
            FROM g ORDER BY doc_id"""))

  /** Squared-L2 distance between the probe vector `va` and a centroid
    * `vb`, as a strictly ordered fold (bit-identical on both engines). */
  private def sqDist: Column = expr(
    "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)")

  // Two Lloyd iterations of k-means (k = 8) over the embedding corpus —
  // the clustering step under cluster-balanced sampling and SemDeDup-style
  // pruning, made fully deterministic so DuckDB can replay it: centroids
  // initialize from the first 8 vectors, assignment is argmin of squared
  // L2 ROUNDED to 6 dp (ties to the smaller centroid id), and the updated
  // centroid means are ROUNDED to 4 dp before the second assignment — the
  // coarse grid makes the probability that engine-specific summation order
  // lands a mean on a rounding boundary ~1e-9 per coordinate (a fine grid
  // is MORE fragile: boundary-hit odds scale with 1/step). Scale shape:
  // centroids broadcast to every assignment (k×dim doubles), the mean
  // update is a partial→final aggregate on (cid, dim), and the only
  // shuffles carry one row per (cid, dim) — the corpus itself never
  // shuffles. More rounds = the same plan repeated; two suffice to
  // exercise assign → update → reassign.
  private val embKmeans = Op(
    "emb_kmeans",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("va"))
        .sharedCache()
      def assign(cen: DataFrame): DataFrame =
        e.crossJoin(broadcast(cen))
          .select(col("vec_id"), col("cid"), round(sqDist, 6).as("dist"))
          .groupBy("vec_id")
          .agg(min(struct(col("dist"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
      val cen0 = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("va").as("vb"))
      val cen1 = assign(cen0)
        .join(e, Seq("vec_id"))
        .select(col("cid"), posexplode(col("va")).as(Seq("i", "x")))
        .groupBy("cid", "i").agg(avg(col("x")).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("i"), round(col("m"), 4).as("m"))))
          .as("sm"))
        .select(col("cid"), expr("transform(sm, s -> s.m)").as("vb"))
      assign(cen1)
        .select(col("vec_id"), col("cid").as("cluster_id"),
          round(col("dist"), 4).as("dist"))
        .orderBy("vec_id")
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va
                       FROM embeddings),
                 c0 AS (SELECT vec_id AS cid, va AS vb FROM v WHERE vec_id < 8),
                 s1 AS (SELECT v.vec_id, c0.cid,
                               round(list_sum(list_transform(range(len(va)),
                                 i -> (va[i+1] - vb[i+1]) * (va[i+1] - vb[i+1]))), 6) AS dist
                        FROM v CROSS JOIN c0),
                 a1 AS (SELECT vec_id, cid FROM (
                          SELECT vec_id, cid,
                                 row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) AS rn
                          FROM s1) WHERE rn = 1),
                 m1 AS (SELECT cid, i, round(avg(x), 4) AS m
                        FROM (SELECT a1.cid,
                                     unnest(range(len(va))) AS i,
                                     unnest(va) AS x
                              FROM a1 JOIN v USING (vec_id))
                        GROUP BY cid, i),
                 c1 AS (SELECT cid, list(m ORDER BY i) AS vb FROM m1 GROUP BY cid),
                 s2 AS (SELECT v.vec_id, c1.cid,
                               round(list_sum(list_transform(range(len(va)),
                                 i -> (va[i+1] - vb[i+1]) * (va[i+1] - vb[i+1]))), 6) AS dist
                        FROM v CROSS JOIN c1),
                 a2 AS (SELECT vec_id, cid, dist FROM (
                          SELECT vec_id, cid, dist,
                                 row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) AS rn
                          FROM s2) WHERE rn = 1)
            SELECT vec_id, cid AS cluster_id, round(dist, 4) AS dist
            FROM a2 ORDER BY vec_id"""))

  // Global per-dimension affine int8 quantization — the other standard
  // embedding compression (emb_normalize covers per-VECTOR norm scaling):
  // each dimension's corpus-wide [min, max] maps linearly onto [-127, 127].
  // The stats pass is an order-independent (exactly deterministic) min/max
  // aggregate per dimension — 64 rows total, collapsed into two lookup
  // arrays and broadcast back via a 1-row cross join — and the quantization
  // itself is a pure zip_with inside codegen: zero shuffles touch the
  // corpus, so the plan is two linear scans at any scale.
  private val embQuantize = Op(
    "emb_quantize",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val stats = e.select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .groupBy()
        .agg(array_sort(collect_list(struct(col("i"), col("mn"), col("mx"))))
          .as("sm"))
        .select(expr("transform(sm, s -> s.mn)").as("mns"),
          expr("transform(sm, s -> s.mx)").as("mxs"))
      e.crossJoin(broadcast(stats))
        .select(col("vec_id"), expr(
          """concat_ws(',', zip_with(v, sequence(0, size(v) - 1), (x, i) ->
            |  CASE WHEN mxs[i] = mns[i] THEN 0L
            |       ELSE CAST(floor((x - mns[i]) / (mxs[i] - mns[i]) * 254.0 + 0.5)
            |              AS BIGINT) - 127L END))""".stripMargin).as("q8"))
        .orderBy("vec_id")
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
                 st AS (SELECT i, min(x) AS mn, max(x) AS mx
                        FROM (SELECT unnest(range(len(v))) AS i,
                                     unnest(v) AS x FROM v)
                        GROUP BY i),
                 lk AS (SELECT list(mn ORDER BY i) AS mns,
                               list(mx ORDER BY i) AS mxs
                        FROM st)
            SELECT vec_id,
                   array_to_string(list_transform(range(len(v)), i ->
                     CASE WHEN mxs[i+1] = mns[i+1] THEN 0
                          ELSE CAST(floor((v[i+1] - mns[i+1]) /
                                 (mxs[i+1] - mns[i+1]) * 254.0 + 0.5) AS BIGINT) - 127
                     END), ',') AS q8
            FROM v CROSS JOIN lk ORDER BY vec_id"""))

  // Deterministic curriculum ordering — the training-manifest step that
  // orders a corpus easy→hard (here: length stages) with a stable shuffle
  // inside each stage. The 100 TB-critical part is HOW the global position
  // is computed: a partition-less row_number would funnel the entire corpus
  // through ONE task (Exchange SinglePartition), so instead each stage
  // ranks independently (one shuffle on the stage key) and a tiny
  // cumulative-offset table — #stages rows, broadcast back — lifts the
  // per-stage ranks to global positions. Two-phase global ranking: same
  // answer, no single-task bottleneck (PlanSpec pins no SinglePartition).
  private val corpusCurriculum = Op(
    "corpus_curriculum",
    (s, d) => {
      val staged = t(s, d, "documents")
        .select(col("doc_id"), expr("n_chars div 100").as("stage"),
          md5(col("doc_id").cast("string")).as("h"))
      val ranked = staged.withColumn("rn",
        row_number().over(Window.partitionBy("stage").orderBy("h", "doc_id")))
      // cumulative offsets over the tiny per-stage count table via a
      // theta-join aggregate, NOT a partition-less running-sum window — the
      // whole plan stays free of Exchange SinglePartition (PlanSpec pins
      // it), so nothing anywhere funnels through one task
      val counts = staged.groupBy("stage").agg(count(lit(1)).as("n"))
      val offsets = counts.as("a")
        .join(counts.as("b"), col("b.stage") < col("a.stage"), "left")
        .groupBy(col("a.stage").as("stage"))
        .agg(coalesce(sum(col("b.n")), lit(0L)).as("off"))
      ranked.join(broadcast(offsets), Seq("stage"))
        .select(col("doc_id"), col("stage"),
          (col("off") + col("rn")).as("global_pos"))
        .orderBy("global_pos")
    },
    Some("""SELECT doc_id, n_chars // 100 AS stage,
                   row_number() OVER (ORDER BY n_chars // 100,
                     md5(CAST(doc_id AS VARCHAR)), doc_id) AS global_pos
            FROM documents ORDER BY global_pos"""))

  // Feature hashing (the "hashing trick") — fixed-width token features
  // without a vocabulary table: each token maps to one of 256 buckets via
  // its md5 prefix (a plain hex-string bucket, portable to any engine), so
  // the vectorizer needs NO global state, no dictionary broadcast, and no
  // fit pass — the property that makes it the default featurizer at
  // 100 TB. Per-doc bucket counts are one map-side-combinable aggregate;
  // the fixed-width signature keeps arrays off the comparator boundary.
  private val textHashFeatures = Op(
    "text_hash_features",
    (s, d) => {
      val bc = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .select(col("doc_id"), substring(md5(col("term")), 1, 2).as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      bc.groupBy("doc_id")
        .agg(count(lit(1)).as("n_buckets"),
          min(struct((-col("cnt")).as("neg"), col("bucket"))).as("m"),
          md5(concat_ws("|",
            sort_array(collect_list(concat_ws(":", col("bucket"), col("cnt"))))))
            .as("sig"))
        .select(col("doc_id"), col("n_buckets"),
          col("m.bucket").as("top_bucket"), (-col("m.neg")).as("top_cnt"),
          col("sig"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
              FROM documents),
            bc AS (
              SELECT doc_id, substr(md5(term), 1, 2) AS bucket,
                     count(*) AS cnt
              FROM toks GROUP BY 1, 2)
            SELECT doc_id, count(*) AS n_buckets,
                   (min({'neg': -cnt, 'b': bucket})).b AS top_bucket,
                   -(min({'neg': -cnt, 'b': bucket})).neg AS top_cnt,
                   md5(array_to_string(
                     list(bucket || ':' || cnt ORDER BY bucket || ':' || cnt),
                     '|')) AS sig
            FROM bc GROUP BY doc_id ORDER BY doc_id"""))

  // Budget-constrained data selection: keep the highest-quality documents
  // until a global character budget is exhausted — the "select the best N
  // tokens" step of training-set construction. Quality is an EXACT integer
  // permyriad (distinct-token ratio ×10000 via integer division — no float
  // rounding at the ordering boundary, so both engines sort identically).
  // The global cumulative sum uses the same two-phase shape as
  // corpus_curriculum: per-bucket running sums (one shuffle on the coarse
  // score bucket) lifted by a tiny broadcast offset table — a partition-
  // less running-sum window would funnel the corpus through ONE task
  // (PlanSpec pins no Exchange SinglePartition).
  private val corpusTokenBudget = Op(
    "corpus_token_budget",
    (s, d) => {
      val q = t(s, d, "documents")
        .withColumn("tk", tokens(col("text")))
        .select(col("doc_id"), col("n_chars"),
          expr("size(array_distinct(tk)) * 10000L div size(tk)").as("score_pm"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("bucket", expr("score_pm div 500"))
      val w = Window.partitionBy("bucket")
        .orderBy(col("score_pm").desc, col("h"), col("doc_id"))
      val within = q.withColumn("cum_in", sum(col("n_chars")).over(w))
      val counts = q.groupBy("bucket").agg(sum(col("n_chars")).as("bn"))
      val offsets = counts.as("a")
        .join(counts.as("b"), col("b.bucket") > col("a.bucket"), "left")
        .groupBy(col("a.bucket").as("bucket"))
        .agg(coalesce(sum(col("b.bn")), lit(0L)).as("off"))
      within.join(broadcast(offsets), Seq("bucket"))
        .select(col("doc_id"), col("score_pm"), col("n_chars"),
          (col("off") + col("cum_in")).as("cum_chars"))
        .where(col("cum_chars") <= 100000L)
        .orderBy("cum_chars")
    },
    Some("""WITH tk AS (
              SELECT doc_id, n_chars,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            q AS (
              SELECT doc_id, n_chars,
                     (len(list_distinct(tk)) * 10000) // len(tk) AS score_pm,
                     md5(CAST(doc_id AS VARCHAR)) AS h
              FROM tk),
            c AS (
              SELECT doc_id, score_pm, n_chars,
                     CAST(sum(n_chars) OVER
                       (ORDER BY score_pm DESC, h, doc_id)
                       AS BIGINT) AS cum_chars
              FROM q)
            SELECT doc_id, score_pm, n_chars, cum_chars FROM c
            WHERE cum_chars <= 100000 ORDER BY cum_chars"""))

  // One BPE training round, distributed the way real tokenizer training
  // scales: first collapse the corpus to its word-frequency table (the
  // map-side-combinable aggregate that turns 100 TB of text into a
  // vocabulary-sized relation), THEN expand each distinct word once into
  // its adjacent character pairs weighted by the word's count. Pair
  // frequencies are a second small aggregate; the top-20 merge candidates
  // read out via TakeOrderedAndProject with a total-order tiebreak. The
  // expensive explode runs over distinct words, never over raw rows.
  private val textBpeTrain = Op(
    "text_bpe_train",
    (s, d) => {
      val wf = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wc"))
      wf.select(col("w"), col("wc"),
          explode(expr("sequence(1, length(w) - 1)")).as("i"))
        .select(expr("substr(w, i, 1)").as("a"),
          expr("substr(w, i + 1, 1)").as("b"), col("wc"))
        .groupBy("a", "b").agg(sum(col("wc")).as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b"))
        .limit(20)
    },
    Some("""WITH words AS (
              SELECT unnest(string_split(text, ' ')) AS w FROM documents),
            wf AS (
              SELECT w, count(*) AS wc FROM words
              WHERE length(w) >= 2 GROUP BY w),
            pos AS (
              SELECT w, wc, unnest(range(1, length(w))) AS i FROM wf),
            pairs AS (
              SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, wc
              FROM pos)
            SELECT a, b, CAST(sum(wc) AS BIGINT) AS freq
            FROM pairs GROUP BY a, b
            ORDER BY freq DESC, a, b LIMIT 20"""))

  // Deterministic multi-epoch corpus shuffle — training loaders need a
  // DIFFERENT but REPRODUCIBLE document order every epoch, without a global
  // sort: order within hash shards. Per (doc, epoch) the shuffle key is
  // md5("<doc_id>:<epoch>"); its first hex char is the shard (16 shards),
  // the full digest orders documents inside the shard. Every stage keys on
  // (epoch, shard) — at 100 TB that is one shuffle into shard-sized
  // partitions, each sorted independently (the exact shape
  // corpus_shard_write persists), never an Exchange SinglePartition. Any
  // engine, retry, or cluster size reproduces the identical order.
  private val corpusEpochShuffle = Op(
    "corpus_epoch_shuffle",
    (s, d) => {
      val w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
      t(s, d, "documents")
        .select(col("doc_id"), explode(expr("array(0L, 1L)")).as("epoch"))
        .withColumn("h", md5(concat_ws(":", col("doc_id"), col("epoch"))))
        .withColumn("shard", substring(col("h"), 1, 1))
        .withColumn("pos", row_number().over(w).cast("long"))
        .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
        .orderBy("epoch", "shard", "pos")
    },
    Some("""WITH e AS (SELECT unnest([CAST(0 AS BIGINT), 1]) AS epoch),
            keyed AS (
              SELECT doc_id, epoch,
                     md5(doc_id || ':' || epoch) AS h
              FROM documents CROSS JOIN e),
            sharded AS (
              SELECT epoch, substr(h, 1, 1) AS shard, doc_id,
                     CAST(row_number() OVER
                       (PARTITION BY epoch, substr(h, 1, 1)
                        ORDER BY h, doc_id) AS BIGINT) AS pos
              FROM keyed)
            SELECT epoch, shard, pos, doc_id FROM sharded
            ORDER BY epoch, shard, pos"""))

  // Tokenizer-vocabulary coverage audit — the eval a team runs before
  // committing to a vocab: per document, what fraction of token OCCURRENCES
  // the top-K corpus vocabulary covers (the complement is the OOV rate that
  // becomes UNK tokens downstream). The vocab is a corpus-wide count top-K
  // (tiny at any scale — vocabulary grows sublinearly) BROADCAST back onto
  // the exploded token stream, so the fact side shuffles once on doc_id for
  // the per-doc aggregate and never on the vocab join. Coverage is an exact
  // integer permyriad (×10000 integer division) — no float at the boundary.
  private val textVocabCoverage = Op(
    "text_vocab_coverage",
    (s, d) => {
      // the token stream feeds both the vocab build and the coverage join;
      // recomputing the codegen'd tokenize+explode twice measures FASTER
      // than caching the exploded stream (2.3 s vs 3.5 s at sf0.1 — the
      // cache materialization dominates), and at 100 TB caching a
      // corpus-sized explode is exactly the wrong call
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(1000)
        .select(col("term"), lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          count(col("in_vocab")).as("n_covered"))
        .select(col("doc_id"), col("n_tokens"), col("n_covered"),
          expr("n_covered * 10000L div n_tokens").as("coverage_pm"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
              FROM documents),
            vocab AS (
              SELECT term FROM (
                SELECT term, count(*) AS cnt FROM toks GROUP BY term)
              ORDER BY cnt DESC, term LIMIT 1000),
            j AS (
              SELECT t.doc_id,
                     CASE WHEN v.term IS NULL THEN 0 ELSE 1 END AS c
              FROM toks t LEFT JOIN vocab v ON t.term = v.term)
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(c) AS BIGINT) AS n_covered,
                   (CAST(sum(c) AS BIGINT) * 10000) // count(*) AS coverage_pm
            FROM j GROUP BY doc_id ORDER BY doc_id"""))

  // Product quantization — the compression half of IVF-PQ, the standard
  // billion-vector ANN layout: each vector splits into 8 contiguous 8-dim
  // sub-blocks, each block assigned to its nearest of 16 codebook entries
  // (deterministic init: the corresponding sub-blocks of vec_id 1..16, the
  // sim_ann_ivf leader recipe), so a 64-dim float vector compresses to 8
  // code bytes (64× smaller — the difference between an index that fits in
  // RAM and one that doesn't at 100 TB). The codebook is a 128-row
  // BROADCAST; block scoring is map-side; the per-(vector, block) argmin is
  // a partial-aggregable min(struct(dist, cid)) — one shuffle on vec_id.
  // Distances round to 6 dp before the argmin with a cid tie-break
  // (emb_centroid_assign protocol) — engine-independent codes.
  private val embProductQuantize = Op(
    "emb_product_quantize",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val blocks = e.select(col("vec_id"),
        explode(expr(
          "transform(sequence(0, 7), b -> struct(b AS b, slice(v, b * 8 + 1, 8) AS sv))"))
          .as("s"))
        .select(col("vec_id"), col("s.b").as("b"), col("s.sv").as("sv"))
      val codebook = broadcast(
        blocks.where(col("vec_id").between(1, 16))
          .select(col("b").as("cb"), col("vec_id").as("cid"),
            col("sv").as("cv")))
      blocks.join(codebook, col("b") === col("cb"))
        .withColumn("dist", round(expr(
          "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"),
          6))
        .groupBy("vec_id", "b")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .groupBy("vec_id")
        .agg(
          expr("array_join(transform(array_sort(collect_list(struct(b, m.cid AS c))), " +
            "x -> CAST(x.c AS STRING)), '-')").as("pq_code"),
          // exact integer micro-units: each block dist is already a 6-dp
          // value, so ×1e6 rounds to an exact BIGINT and the sum is
          // order-independent (a float re-sum can flip a half-even round)
          sum(expr("CAST(round(m.dist * 1000000) AS BIGINT)"))
            .as("distortion_u"))
        .orderBy("vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            bs AS (SELECT unnest(range(8)) AS b),
            blocks AS (
              SELECT vec_id, b, v[b * 8 + 1 : b * 8 + 8] AS sv
              FROM e CROSS JOIN bs),
            codebook AS (
              SELECT b AS cb, vec_id AS cid, sv AS cv
              FROM blocks WHERE vec_id BETWEEN 1 AND 16),
            scored AS (
              SELECT bl.vec_id, bl.b, c.cid,
                     round(list_sum(list_transform(range(len(bl.sv)),
                       i -> (bl.sv[i+1] - c.cv[i+1]) * (bl.sv[i+1] - c.cv[i+1]))),
                       6) AS dist
              FROM blocks bl JOIN codebook c ON bl.b = c.cb),
            am AS (
              SELECT vec_id, b,
                     (min({'d': dist, 'c': cid})).c AS code,
                     (min({'d': dist, 'c': cid})).d AS dist
              FROM scored GROUP BY vec_id, b)
            SELECT vec_id,
                   array_to_string(list(CAST(code AS VARCHAR) ORDER BY b), '-')
                     AS pq_code,
                   CAST(sum(CAST(round(dist * 1000000) AS BIGINT)) AS BIGINT)
                     AS distortion_u
            FROM am GROUP BY vec_id ORDER BY vec_id"""))

  // Asymmetric-distance (ADC) top-k search over the PQ index — the query
  // half of IVF-PQ: the probe computes one 8×16 lookup table (its true
  // distance to every codebook entry, per block), and every database
  // vector's approximate distance is then just 8 LUT fetches summed —
  // NO per-pair float math at query time. At 100 TB the LUT is a broadcast
  // of 128 rows and the scan touches only the 8-byte codes, not the
  // vectors. Distances quantize to exact integer micro-units before the
  // sum (same protocol as emb_product_quantize) so ranking is BIGINT-exact;
  // top-10 plans as TakeOrderedAndProject with a vec_id tie-break.
  private val simPqAdc = Op(
    "sim_pq_adc",
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val blocks = e.select(col("vec_id"),
        explode(expr(
          "transform(sequence(0, 7), b -> struct(b AS b, slice(v, b * 8 + 1, 8) AS sv))"))
          .as("s"))
        .select(col("vec_id"), col("s.b").as("b"), col("s.sv").as("sv"))
      val codebook = broadcast(
        blocks.where(col("vec_id").between(1, 16))
          .select(col("b").as("cb"), col("vec_id").as("cid"),
            col("sv").as("cv")))
      val codes = blocks.join(codebook, col("b") === col("cb"))
        .withColumn("dist", round(expr(
          "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"),
          6))
        .groupBy("vec_id", "b")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("vec_id"), col("b"), col("m.cid").as("code"))
      val lut = broadcast(blocks.where(col("vec_id") === 42)
        .select(col("b").as("lb"), col("sv").as("pv"))
        .join(codebook, col("lb") === col("cb"))
        .withColumn("pd", expr(
          "CAST(round(aggregate(zip_with(pv, cv, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x) * 1000000) AS BIGINT)"))
        .select(col("lb"), col("cid").as("lcid"), col("pd")))
      codes.join(lut, col("b") === col("lb") && col("code") === col("lcid"))
        .where(col("vec_id") =!= 42)
        .groupBy("vec_id").agg(sum("pd").as("adc_u"))
        .orderBy(col("adc_u"), col("vec_id"))
        .limit(10)
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            bs AS (SELECT unnest(range(8)) AS b),
            blocks AS (
              SELECT vec_id, b, v[b * 8 + 1 : b * 8 + 8] AS sv
              FROM e CROSS JOIN bs),
            codebook AS (
              SELECT b AS cb, vec_id AS cid, sv AS cv
              FROM blocks WHERE vec_id BETWEEN 1 AND 16),
            scored AS (
              SELECT bl.vec_id, bl.b, c.cid,
                     round(list_sum(list_transform(range(len(bl.sv)),
                       i -> (bl.sv[i+1] - c.cv[i+1]) * (bl.sv[i+1] - c.cv[i+1]))),
                       6) AS dist
              FROM blocks bl JOIN codebook c ON bl.b = c.cb),
            codes AS (
              SELECT vec_id, b, (min({'d': dist, 'c': cid})).c AS code
              FROM scored GROUP BY vec_id, b),
            lut AS (
              SELECT c.cb AS lb, c.cid AS lcid,
                     CAST(round(list_sum(list_transform(range(len(p.sv)),
                       i -> (p.sv[i+1] - c.cv[i+1]) * (p.sv[i+1] - c.cv[i+1])))
                       * 1000000) AS BIGINT) AS pd
              FROM blocks p JOIN codebook c ON p.b = c.cb
              WHERE p.vec_id = 42)
            SELECT cd.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adc_u
            FROM codes cd JOIN lut l ON cd.b = l.lb AND cd.code = l.lcid
            WHERE cd.vec_id <> 42
            GROUP BY cd.vec_id
            ORDER BY adc_u, vec_id LIMIT 10"""))

  // Sentence segmentation stats per document: terminator-run counting
  // ([.!?]+ occurrences) and whitespace tokenization — both pure map-side
  // regex over the text column (zero shuffle, codegen'd), the pre-filter
  // shape a quality pipeline runs before any per-sentence processing.
  // Words-per-sentence divides two exact integers once, rounded.
  private val textSentenceStats = Op(
    "text_sentence_stats",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        expr("CAST(regexp_count(text, '[.!?]+') AS BIGINT)")
          .as("n_sentences"),
        expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)")
          .as("n_words"))
      .withColumn("words_per_sent",
        round(col("n_words") / greatest(col("n_sentences"), lit(1L)), 2))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
                AS n_sentences,
              CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                AS n_words,
              round(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                    / greatest(len(regexp_extract_all(text, '[.!?]+')), 1), 2)
                AS words_per_sent
            FROM documents ORDER BY doc_id"""))

  // Grid-bounded kNN join over the embeddings' first two dims: top-3
  // nearest neighbors per point, candidates restricted to the 3×3 grid
  // neighborhood (the join_spatial_grid bucketing — work scales with local
  // density, never all-pairs). Ranking is BIGINT-exact: squared micro-unit
  // distances with a vec_id tie-break, so the per-point row_number top-3 is
  // engine-independent. Points with an empty neighborhood simply emit no
  // rows — the radius-bounded contract of a grid kNN.
  private val joinKnnGrid = Op(
    "join_knn_grid",
    (s, d) => {
      t(s, d, "embeddings").createOrReplaceTempView("emb_knn")
      s.sql("""
        WITH p AS (SELECT vec_id,
                          CAST(round(CAST(element_at(embedding, 1) AS DOUBLE)
                                     * 1000000) AS BIGINT) AS x,
                          CAST(round(CAST(element_at(embedding, 2) AS DOUBLE)
                                     * 1000000) AS BIGINT) AS y
                   FROM emb_knn),
             cells AS (SELECT vec_id, x, y,
                              CAST(floor(x / 20000.0) AS BIGINT) AS cx,
                              CAST(floor(y / 20000.0) AS BIGINT) AS cy
                       FROM p),
             probe AS (SELECT vec_id, x, y, cx + dx AS gx, cy + dy AS gy
                       FROM cells
                       CROSS JOIN (SELECT dx FROM VALUES (-1), (0), (1)
                                   AS t(dx))
                       CROSS JOIN (SELECT dy FROM VALUES (-1), (0), (1)
                                   AS u(dy))),
             cand AS (SELECT a.vec_id AS src, b.vec_id AS nb,
                             (a.x - b.x)*(a.x - b.x)
                             + (a.y - b.y)*(a.y - b.y) AS d2
                      FROM probe a JOIN cells b
                        ON a.gx = b.cx AND a.gy = b.cy
                       AND a.vec_id <> b.vec_id),
             ranked AS (SELECT src, nb, d2,
                               ROW_NUMBER() OVER (PARTITION BY src
                                                  ORDER BY d2, nb) AS rk
                        FROM cand)
        SELECT src, nb, CAST(rk AS BIGINT) AS rk, d2
        FROM ranked WHERE rk <= 3
        ORDER BY src, rk""")
    },
    Some("""WITH p AS (SELECT vec_id,
                              CAST(round(CAST(embedding[1] AS DOUBLE)
                                         * 1000000) AS BIGINT) AS x,
                              CAST(round(CAST(embedding[2] AS DOUBLE)
                                         * 1000000) AS BIGINT) AS y
                       FROM embeddings),
                 cells AS (SELECT vec_id, x, y,
                                  CAST(floor(x / 20000.0) AS BIGINT) AS cx,
                                  CAST(floor(y / 20000.0) AS BIGINT) AS cy
                           FROM p),
                 probe AS (SELECT vec_id, x, y, cx + dx AS gx, cy + dy AS gy
                           FROM cells
                           CROSS JOIN (VALUES (-1), (0), (1)) t(dx)
                           CROSS JOIN (VALUES (-1), (0), (1)) u(dy)),
                 cand AS (SELECT a.vec_id AS src, b.vec_id AS nb,
                                 (a.x - b.x)*(a.x - b.x)
                                 + (a.y - b.y)*(a.y - b.y) AS d2
                          FROM probe a JOIN cells b
                            ON a.gx = b.cx AND a.gy = b.cy
                           AND a.vec_id <> b.vec_id),
                 ranked AS (SELECT src, nb, d2,
                                   ROW_NUMBER() OVER (PARTITION BY src
                                                      ORDER BY d2, nb) AS rk
                            FROM cand)
            SELECT src, nb, CAST(rk AS BIGINT) AS rk, d2
            FROM ranked WHERE rk <= 3
            ORDER BY src, rk"""))

  // End-to-end corpus assembly in ONE declarative query — the composition
  // proof that the pipeline stages fuse: quality gate (length + language)
  // → exact dedup (normalized-text survivor, min-id rule) → per-source
  // budget (top-10 by id). Catalyst pipelines all three — the gate's
  // predicate pushes into the scan, the dedup is one shuffle on the
  // normalized key, the budget one window on source — no materialization
  // between stages, which is exactly how the composed pipeline should run
  // at 100 TB (operators that only compose via intermediate tables pay a
  // full write+read per stage).
  private val corpusE2ePipeline = Op(
    "corpus_e2e_pipeline",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_e2e")
      s.sql("""
        WITH q AS (SELECT doc_id, source, lang, n_chars,
                          lower(trim(text)) AS norm
                   FROM docs_e2e
                   WHERE n_chars BETWEEN 100 AND 2000
                     AND lang IN ('en', 'de', 'fr', 'es')),
             surv AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY norm),
             kept AS (SELECT q.doc_id, q.source, q.lang, q.n_chars
                      FROM q JOIN surv ON q.doc_id = surv.doc_id),
             ranked AS (SELECT *, ROW_NUMBER() OVER
                          (PARTITION BY source ORDER BY doc_id) AS rk
                        FROM kept)
        SELECT doc_id, source, lang, n_chars, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 10
        ORDER BY source, rk""")
    },
    Some("""WITH q AS (SELECT doc_id, source, lang, n_chars,
                              lower(trim(text)) AS norm
                       FROM documents
                       WHERE n_chars BETWEEN 100 AND 2000
                         AND lang IN ('en', 'de', 'fr', 'es')),
                 surv AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY norm),
                 kept AS (SELECT q.doc_id, q.source, q.lang, q.n_chars
                          FROM q JOIN surv ON q.doc_id = surv.doc_id),
                 ranked AS (SELECT *, ROW_NUMBER() OVER
                              (PARTITION BY source ORDER BY doc_id) AS rk
                            FROM kept)
            SELECT doc_id, source, lang, n_chars, CAST(rk AS BIGINT) AS rk
            FROM ranked WHERE rk <= 10
            ORDER BY source, rk"""))

  // ORACLE-CHECKED MinHash/LSH near-dup detection — the cross-engine proof
  // of the banded-minhash pipeline (the production `dedup_minhash` uses
  // seeded xxhash64, which no oracle can replay; this variant derives every
  // hash from md5, which both engines implement bit-identically, so the
  // WHOLE pipeline — shingling → 8-permutation signatures → 4×2 banding →
  // candidate join → signature-overlap estimate — hash-matches DuckDB).
  // Plan shape mirrors the production key's constant factor: ONE md5 per
  // shingle occurrence, the 8 permutation orderings derived from that
  // fixed-width digest by hex rotation (a bijection on digests, so each
  // rotation is a valid permutation of the hash ordering), and all 8 mins
  // partial-aggregated in a single GROUP BY doc_id — no seed explode, no
  // 8× shuffle volume. Candidates come from a band-key equi-join (never
  // all-pairs); the estimate joins two 8-element signature arrays.
  private val dedupMinhashMd5 = Op(
    "dedup_minhash_md5",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_mh")
      // materialize the per-doc signature array once (guide §2.4): arr is
      // referenced by the band explode AND both sides of the verify join —
      // the inline spelling re-ran the shingle+md5+min pipeline 4× in the
      // r18 before-plan. One row of 8 strings per doc, tiny at any SF.
      s.sql("""
        WITH toks AS (SELECT doc_id,
                             split(lower(trim(text)), '\\s+') AS t
                      FROM docs_mh),
             sh AS (SELECT doc_id, g
                    FROM toks
                    LATERAL VIEW explode(transform(sequence(1, size(t) - 2),
                      i -> concat_ws(' ', element_at(t, i),
                                     element_at(t, i + 1),
                                     element_at(t, i + 2)))) AS g
                    WHERE size(t) >= 3),
             hm AS (SELECT doc_id, md5(CAST(g AS BINARY)) AS m FROM sh),
             sig AS (SELECT doc_id,
                            MIN(m) AS h0,
                            MIN(concat(substr(m, 5),  substr(m, 1, 4)))  AS h1,
                            MIN(concat(substr(m, 9),  substr(m, 1, 8)))  AS h2,
                            MIN(concat(substr(m, 13), substr(m, 1, 12))) AS h3,
                            MIN(concat(substr(m, 17), substr(m, 1, 16))) AS h4,
                            MIN(concat(substr(m, 21), substr(m, 1, 20))) AS h5,
                            MIN(concat(substr(m, 25), substr(m, 1, 24))) AS h6,
                            MIN(concat(substr(m, 29), substr(m, 1, 28))) AS h7
                     FROM hm GROUP BY doc_id)
        SELECT doc_id, array(h0, h1, h2, h3, h4, h5, h6, h7) AS sig
        FROM sig""")
        .trackedCkpt().createOrReplaceTempView("arr_mh")
      s.sql("""
        WITH arr AS (SELECT doc_id, sig FROM arr_mh),
             bands AS (SELECT doc_id, b,
                              element_at(sig, 2 * b + 1) AS b1,
                              element_at(sig, 2 * b + 2) AS b2
                       FROM arr
                       LATERAL VIEW explode(sequence(0, 3)) AS b),
             cand AS (SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
                      FROM bands a JOIN bands c
                        ON a.b = c.b AND a.b1 = c.b1 AND a.b2 = c.b2
                       AND a.doc_id < c.doc_id)
        SELECT d1, d2,
               CAST(aggregate(zip_with(x.sig, y.sig,
                      (p, q) -> CAST(p = q AS INT)), 0, (acc, v) -> acc + v)
                    AS BIGINT) AS n_match,
               round(aggregate(zip_with(x.sig, y.sig,
                      (p, q) -> CAST(p = q AS INT)), 0, (acc, v) -> acc + v)
                     / CAST(8 AS DOUBLE), 4) AS est_jaccard
        FROM cand JOIN arr x ON x.doc_id = d1 JOIN arr y ON y.doc_id = d2
        ORDER BY d1, d2""")
    },
    Some("""WITH toks AS (SELECT doc_id,
                                 string_split_regex(lower(trim(text)), '\s+')
                                   AS t
                          FROM documents),
                 sh AS (SELECT doc_id,
                               unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                                 AS g
                        FROM toks WHERE len(t) >= 3),
                 hm AS (SELECT doc_id, md5(g) AS m FROM sh),
                 sig AS (SELECT doc_id,
                                MIN(m) AS h0,
                                MIN(substr(m, 5)  || substr(m, 1, 4))  AS h1,
                                MIN(substr(m, 9)  || substr(m, 1, 8))  AS h2,
                                MIN(substr(m, 13) || substr(m, 1, 12)) AS h3,
                                MIN(substr(m, 17) || substr(m, 1, 16)) AS h4,
                                MIN(substr(m, 21) || substr(m, 1, 20)) AS h5,
                                MIN(substr(m, 25) || substr(m, 1, 24)) AS h6,
                                MIN(substr(m, 29) || substr(m, 1, 28)) AS h7
                         FROM hm GROUP BY doc_id),
                 arr AS (SELECT doc_id,
                                [h0, h1, h2, h3, h4, h5, h6, h7] AS sig
                         FROM sig),
                 bands AS (SELECT doc_id, b, sig[2*b+1] AS b1,
                                  sig[2*b+2] AS b2
                           FROM arr CROSS JOIN
                             (SELECT unnest(range(4)) AS b)),
                 cand AS (SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
                          FROM bands a JOIN bands c
                            ON a.b = c.b AND a.b1 = c.b1 AND a.b2 = c.b2
                           AND a.doc_id < c.doc_id)
            SELECT d1, d2,
                   CAST(list_sum(list_transform(range(8),
                          i -> CAST(x.sig[i+1] = y.sig[i+1] AS INT)))
                        AS BIGINT) AS n_match,
                   round(list_sum(list_transform(range(8),
                          i -> CAST(x.sig[i+1] = y.sig[i+1] AS INT)))
                         / 8.0, 4) AS est_jaccard
            FROM cand JOIN arr x ON x.doc_id = d1 JOIN arr y ON y.doc_id = d2
            ORDER BY d1, d2"""))

  /** Shared SQL builder for the ORACLE-CHECKED SimHash twin — one template
    * rendered for both engines (engine differences: hex→int, bit shift,
    * xor spelling, tokenizer). The 64 bit-majority sums and 4 chunk
    * assemblies are generated, not hand-written, so Spark and DuckDB can
    * never drift structurally. */
  private def simhashMd5Sql(
      spark: Boolean,
      sigView: Option[String] = None,
      sigOnly: Boolean = false): String = {
    def hex4(j: Int) =
      if (spark) s"CAST(conv(substr(m, ${4 * j + 1}, 4), 16, 10) AS INT)"
      else s"CAST(('0x' || substr(m, ${4 * j + 1}, 4)) AS INT)"
    def bit(j: Int, k: Int) =
      if (spark) s"(shiftright(h$j, $k) & 1)" else s"((h$j >> $k) & 1)"
    def xorB(a: String, b: String) =
      if (spark) s"($a ^ $b)" else s"xor($a, $b)"
    val toks =
      if (spark)
        """toks AS (SELECT DISTINCT doc_id, t FROM (
          |  SELECT doc_id, explode(split(trim(regexp_replace(lower(text),
          |    '\\s+', ' ')), ' ')) AS t FROM docs_shm))""".stripMargin
      else
        """toks AS (SELECT DISTINCT doc_id, t FROM (
          |  SELECT doc_id, unnest(string_split(trim(regexp_replace(
          |    lower(text), '\s+', ' ', 'g')), ' ')) AS t FROM documents))"""
          .stripMargin
    val md5t = if (spark) "md5(CAST(t AS BINARY))" else "md5(t)"
    val bandJ =
      if (spark) "LATERAL VIEW explode(sequence(0, 3)) AS j"
      else "CROSS JOIN (SELECT unnest(range(4)) AS j)"
    val chunkAt =
      if (spark) "element_at(array(c0, c1, c2, c3), j + 1)"
      else "([c0, c1, c2, c3])[j + 1]"
    val sums = (for (j <- 0 until 4; k <- 0 until 16)
      yield s"CAST(SUM(${bit(j, k)}) AS BIGINT) AS s${j}_$k")
      .mkString(",\n       ")
    val chunks = (0 until 4).map(j =>
      (0 until 16)
        .map(k => s"(CASE WHEN 2 * s${j}_$k > n THEN ${1 << k} ELSE 0 END)")
        .mkString("CAST(", " + ", s" AS INT) AS c$j"))
      .mkString(",\n       ")
    val ham = (0 until 4)
      .map(j => s"bit_count(${xorB(s"x.c$j", s"y.c$j")})")
      .mkString("CAST(", " + ", " AS INT)")
    // Spark side hashes the VOCABULARY once and joins back (r18 opt
    // round): md5 + 4 conv() calls per (doc, token) occurrence was the
    // key's hot loop, but the hash depends only on the token — the
    // distinct-token relation is ~20× smaller at every SF and the join
    // back is an AQE broadcast. Values are identical, so the DuckDB
    // mirror keeps the direct spelling (engines agree row for row).
    val hashRel =
      if (spark)
        s"""vh AS (SELECT t, ${(0 until 4)
          .map(j => s"${hex4(j)} AS h$j").mkString(", ")}
           |        FROM (SELECT t, $md5t AS m
           |              FROM (SELECT DISTINCT t FROM toks))),
           |h AS (SELECT doc_id, h0, h1, h2, h3 FROM toks JOIN vh USING (t)),"""
          .stripMargin
      else
        s"""hm AS (SELECT doc_id, $md5t AS m FROM toks),
           |h AS (SELECT doc_id, ${(0 until 4)
          .map(j => s"${hex4(j)} AS h$j").mkString(", ")} FROM hm),"""
          .stripMargin
    // Spark's SQL engine INLINES every CTE reference, so `sig` — referenced
    // by bands once and by the hamming verify twice — would re-run the
    // whole tokenize→md5→64-sum pipeline three times (12 scans of
    // documents in the r18 before-plan, guide §2.4/§3.3). The Spark path
    // therefore materializes sig once (cache(), the production
    // dedup_simhash idiom) and splices the view name in; DuckDB
    // materializes CTEs on its own, so the oracle keeps the one-string
    // spelling. Same rows either way — sig is a deterministic function of
    // the corpus.
    val sigCte = sigView match {
      case Some(v) => s"sig AS (SELECT doc_id, c0, c1, c2, c3 FROM $v)"
      case None =>
        s"""$toks,
           |$hashRel
           |bits AS (SELECT doc_id, COUNT(*) AS n,
           |       $sums
           |       FROM h GROUP BY doc_id),
           |sig AS (SELECT doc_id,
           |       $chunks
           |       FROM bits)""".stripMargin
    }
    if (sigOnly) return s"WITH $sigCte SELECT doc_id, c0, c1, c2, c3 FROM sig"
    s"""WITH $sigCte,
       |bands AS (SELECT doc_id, j, $chunkAt AS chunk
       |          FROM sig $bandJ),
       |cold AS (SELECT j, chunk FROM bands
       |         GROUP BY j, chunk HAVING COUNT(*) <= 256),
       |cap AS (SELECT b.doc_id, b.j, b.chunk
       |        FROM bands b JOIN cold ON b.j = cold.j
       |                             AND b.chunk = cold.chunk),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM cap a JOIN cap c
       |           ON a.j = c.j AND a.chunk = c.chunk
       |          AND a.doc_id < c.doc_id),
       |hd AS (SELECT doc_a, doc_b, $ham AS hamming
       |       FROM cand JOIN sig x ON x.doc_id = doc_a
       |                 JOIN sig y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, hamming FROM hd
       |WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin
  }

  // ORACLE-CHECKED SimHash near-dup twin — the cross-engine proof of the
  // whole simhash pipeline (the production `dedup_simhash` uses seeded
  // xxhash64 per token, which no oracle can replay; this twin derives the
  // per-token 64-bit hash from md5 — 4×16-bit hex chunks — which both
  // engines produce bit-identically, so tokenize → per-bit majority →
  // 4×16-bit chunk banding (pigeonhole: hamming ≤ 3 GUARANTEED to collide
  // on ≥1 chunk; 4–6 best-effort — such pairs can spread 2+2+1+1 across
  // all four chunks and miss, identically in both engines)
  // → frequency-capped candidate join → hamming verify hash-matches
  // DuckDB end to end). Same plan constant factor as the production key:
  // one md5 per distinct (doc, token), 64 bit-majority sums in ONE
  // partial-aggregated GROUP BY, candidates from an equi-join — never
  // all-pairs. The xxhash production key stays the fast path.
  private val dedupSimhashMd5 = Op(
    "dedup_simhash_md5",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_shm")
      // materialize the tiny per-doc signature once (see simhashMd5Sql):
      // one row of 4 ints per doc, consumed three times downstream.
      // Unconditional (not scale-aware): the upstream is the per-distinct-
      // token md5 pipeline, expensive at every SF. Lazy + tracked: the
      // consuming query materializes it in one job; released at key end.
      val sig = s.sql(simhashMd5Sql(spark = true, sigOnly = true))
        .trackedCkpt()
      sig.createOrReplaceTempView("sig_shm")
      s.sql(simhashMd5Sql(spark = true, sigView = Some("sig_shm")))
    },
    Some(simhashMd5Sql(spark = false)))

  // ORACLE-CHECKED winnowing twin — replays text_fingerprint's pipeline
  // (char-8-gram rolling hash, min per 4-window, distinct-fingerprint
  // readout) with an md5-derived gram hash (first 8 hex chars as int64)
  // instead of the native TextWinnow xxhash64, so DuckDB can replay it
  // bit-identically. Pure per-row HOF arithmetic — zero shuffle except
  // the output sort, exactly like the production key; the native
  // expression stays the fast path (one primitive pass vs one md5 per
  // gram here — the twin is the correctness vehicle, not the hot loop).
  private val textFingerprintMd5 = Op(
    "text_fingerprint_md5",
    (s, d) => {
      // native Md5Winnow expression — one primitive loop per row, output
      // bit-identical to the HOF SQL spelling (equivalence asserted in
      // TextWinnowSpec; the HOF chain pays an interpreted lambda frame +
      // hex round-trip per gram: 6.8 s vs ~1.5 s at sf0.1 — and a naive
      // un-let-bound HOF was O(len²) md5 calls from CollapseProject
      // inlining, 185 s for 500 docs)
      graft.functions.GraftExtensions.register(s)
      t(s, d, "documents")
        .where(length(col("text")) >= 11)
        .select(col("doc_id"), expr("graft_md5_winnow(text)").as("w"))
        .select(col("doc_id"), col("w.n_fp").as("n_fp"),
          col("w.fp_min").as("fp_min"), col("w.fp_max").as("fp_max"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(len(list_distinct(fps)) AS INT) AS n_fp,
                   list_min(fps) AS fp_min,
                   list_max(fps) AS fp_max
            FROM (
              SELECT doc_id,
                     list_transform(range(1, length(text) - 9),
                       w -> list_min(hs[w:w+3])) AS fps
              FROM (
                SELECT doc_id, text,
                       list_transform(range(1, length(text) - 6),
                         i -> CAST(('0x' || substr(md5(substr(text, i, 8)),
                                1, 8)) AS BIGINT)) AS hs
                FROM documents WHERE length(text) >= 11))
            ORDER BY doc_id"""))

  // Per-document n-gram novelty against everything that came before it (in
  // doc_id order): the corpus-diversity curve a curation pipeline watches —
  // a shrinking novelty score means new data is mostly re-treading old
  // shingles. "First seen in doc k" is a single min-aggregate per distinct
  // shingle (one shuffle on the shingle hash); per-doc novelty is then an
  // exact count ratio. No pairwise comparison anywhere — linear at 100 TB.
  private val textNovelty = Op(
    "text_novelty",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_nv")
      s.sql("""
        WITH toks AS (SELECT doc_id,
                             split(lower(trim(text)), '\\s+') AS t
                      FROM docs_nv),
             sh AS (SELECT DISTINCT doc_id, g
                    FROM toks
                    LATERAL VIEW explode(transform(sequence(1, size(t) - 2),
                      i -> concat_ws(' ', element_at(t, i),
                                     element_at(t, i + 1),
                                     element_at(t, i + 2)))) AS g
                    WHERE size(t) >= 3),
             first AS (SELECT g, MIN(doc_id) AS first_doc
                       FROM sh GROUP BY g)
        SELECT sh.doc_id,
               COUNT(*) AS n_shingles,
               CAST(COUNT_IF(first_doc = sh.doc_id) AS BIGINT) AS n_novel,
               round(COUNT_IF(first_doc = sh.doc_id) / CAST(COUNT(*)
                     AS DOUBLE), 4) AS novelty
        FROM sh JOIN first ON sh.g = first.g
        GROUP BY sh.doc_id
        ORDER BY sh.doc_id""")
    },
    Some("""WITH toks AS (SELECT doc_id,
                                 string_split_regex(lower(trim(text)), '\s+')
                                   AS t
                          FROM documents),
                 sh AS (SELECT DISTINCT doc_id,
                               unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                                 AS g
                        FROM toks WHERE len(t) >= 3),
                 f AS (SELECT g, MIN(doc_id) AS first_doc
                       FROM sh GROUP BY g)
            SELECT sh.doc_id,
                   COUNT(*) AS n_shingles,
                   CAST(COUNT(*) FILTER (WHERE first_doc = sh.doc_id)
                        AS BIGINT) AS n_novel,
                   round(COUNT(*) FILTER (WHERE first_doc = sh.doc_id)
                         / CAST(COUNT(*) AS DOUBLE), 4) AS novelty
            FROM sh JOIN f ON sh.g = f.g
            GROUP BY sh.doc_id
            ORDER BY sh.doc_id"""))

  // Flesch reading-ease + Flesch–Kincaid grade per document — the
  // classic readability pair, from three regex counts per row (sentences
  // '[.!?]+', whitespace words, and the vowel-group syllable proxy — the
  // standard dictionary-free approximation). Pure map-side expression
  // work: no shuffle at all except the output sort; at 100 TB this is a
  // single codegen'd scan, the same discipline as text_quality /
  // text_sentence_stats (whose tokenization it reuses verbatim so the
  // per-doc word counts agree across the text family). Scores cross the
  // compare boundary under the floor(x*1e4+0.5)/1e4 protocol (§7.6.2):
  // engine round() implementations disagreed on one half-way doc at
  // sf0.1 (caught by the round-9 sf1/sf0.1 compare).
  private val textReadability = Op(
    "text_readability",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_fre")
      s.sql("""
        WITH c AS (SELECT doc_id,
                          greatest(CAST(regexp_count(text, '[.!?]+')
                                        AS BIGINT), 1L) AS ns,
                          greatest(CAST(size(split(trim(text), '\\s+'))
                                        AS BIGINT), 1L) AS nw,
                          CAST(regexp_count(lower(text), '[aeiouy]+')
                               AS BIGINT) AS sy
                   FROM docs_fre)
        SELECT doc_id, ns AS n_sentences, nw AS n_words,
               sy AS n_syllables,
               floor((206.835D - 1.015D * nw / ns - 84.6D * sy / nw)
                     * 10000.0D + 0.5D) / 10000.0D
                 AS flesch_ease,
               floor((0.39D * nw / ns + 11.8D * sy / nw - 15.59D)
                     * 10000.0D + 0.5D) / 10000.0D
                 AS fk_grade
        FROM c ORDER BY doc_id""")
    },
    Some("""WITH c AS (SELECT doc_id,
                              greatest(CAST(len(regexp_extract_all(
                                    text, '[.!?]+')) AS BIGINT), 1)
                                AS ns,
                              greatest(CAST(len(string_split_regex(
                                    trim(text), '\s+')) AS BIGINT), 1)
                                AS nw,
                              CAST(len(regexp_extract_all(
                                    lower(text), '[aeiouy]+'))
                                   AS BIGINT) AS sy
                       FROM documents)
            SELECT doc_id, ns AS n_sentences, nw AS n_words,
                   sy AS n_syllables,
                   -- ::DOUBLE on every literal: DuckDB parses 0.39 as
                   -- DECIMAL(3,2), and decimal-lane arithmetic lands one
                   -- ulp away from Spark's all-double evaluation
                   floor((206.835::DOUBLE - 1.015::DOUBLE * nw / ns
                          - 84.6::DOUBLE * sy / nw)
                         * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE
                     AS flesch_ease,
                   floor((0.39::DOUBLE * nw / ns + 11.8::DOUBLE * sy / nw
                          - 15.59::DOUBLE)
                         * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE
                     AS fk_grade
            FROM c ORDER BY doc_id"""))

  // Length-filter threshold sweep — docs and tokens retained at each
  // candidate min-length cutoff {100, 250, 500, 1000, 2000} chars: the
  // planning table behind a corpus length filter (what quality_gate
  // APPLIES at one threshold, this PRICES across the policy options —
  // the corpus-side sibling of privacy_risk_curve). One map-side doc
  // measurement, one 5-way conditional rollup against the exploded
  // threshold list; totals ride along in the same pass. At 100 TB the
  // only exchange is the 5-row aggregate.
  private val corpusFilterSweep = Op(
    "corpus_filter_sweep",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_fs")
      s.sql("""
        WITH dc AS (SELECT CAST(length(text) AS BIGINT) AS nc,
                           CAST(size(split(trim(text), '\\s+'))
                                AS BIGINT) AS nt
                    FROM docs_fs),
             tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                            CAST(SUM(nt) AS BIGINT) AS ttok
                     FROM dc),
             th AS (SELECT explode(array(100, 250, 500, 1000, 2000))
                             AS min_chars)
        SELECT CAST(th.min_chars AS BIGINT) AS min_chars,
               CAST(SUM(CASE WHEN dc.nc >= th.min_chars THEN 1 ELSE 0
                        END) AS BIGINT) AS docs_kept,
               round(CAST(SUM(CASE WHEN dc.nc >= th.min_chars
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / MAX(tot.nd), 6) AS doc_share,
               CAST(SUM(CASE WHEN dc.nc >= th.min_chars THEN dc.nt
                        ELSE 0 END) AS BIGINT) AS tokens_kept,
               round(CAST(SUM(CASE WHEN dc.nc >= th.min_chars
                                   THEN dc.nt ELSE 0 END) AS DOUBLE)
                     / MAX(tot.ttok), 6) AS token_share
        FROM dc CROSS JOIN th CROSS JOIN tot
        GROUP BY th.min_chars ORDER BY min_chars""")
    },
    Some("""WITH dc AS (SELECT CAST(length(text) AS BIGINT) AS nc,
                               CAST(len(string_split_regex(trim(text),
                                        '\s+')) AS BIGINT) AS nt
                        FROM documents),
                 tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                                CAST(SUM(nt) AS BIGINT) AS ttok
                         FROM dc),
                 th AS (SELECT unnest([100, 250, 500, 1000, 2000])
                                 AS min_chars)
            SELECT CAST(th.min_chars AS BIGINT) AS min_chars,
                   CAST(SUM(CASE WHEN dc.nc >= th.min_chars
                            THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
                   round(CAST(SUM(CASE WHEN dc.nc >= th.min_chars
                                       THEN 1 ELSE 0 END) AS DOUBLE)
                         / MAX(tot.nd), 6) AS doc_share,
                   CAST(SUM(CASE WHEN dc.nc >= th.min_chars
                            THEN dc.nt ELSE 0 END) AS BIGINT)
                     AS tokens_kept,
                   round(CAST(SUM(CASE WHEN dc.nc >= th.min_chars
                                       THEN dc.nt ELSE 0 END)
                              AS DOUBLE) / MAX(tot.ttok), 6)
                     AS token_share
            FROM dc CROSS JOIN th CROSS JOIN tot
            GROUP BY th.min_chars ORDER BY min_chars"""))

  // Heaps'-law fit — vocabulary growth V(N) ≈ K·N^β, the dual of
  // text_zipf_fit (Zipf: how often words repeat; Heaps: how fast NEW
  // words keep arriving — what sizes a tokenizer vocab or a dedup
  // dictionary as the corpus scales). Cumulative-vocab-at-prefix is
  // inherently sequential, so it is re-expressed as joins: each word's
  // FIRST doc (one rollup) against doc-id thresholds at {5,10,25,50,
  // 100}% of max — vocab at a cutoff is "words whose first doc ≤
  // cutoff", token mass is a conditional sum, both exact BIGINTs. The
  // 5-point log-log OLS for (K, β) is scalar double work on one row.
  private val textHeapsFit = Op(
    "text_heaps_fit",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_hp")
      // materialize the 5-row prefix table once (guide §2.4): pt feeds
      // the OLS aggregate AND the readout join — the inline spelling
      // re-ran the vocabulary explode+min 8x in the r18 before-plan.
      s.sql("""
        WITH w AS (SELECT doc_id, w AS word
                   FROM docs_hp
                   LATERAL VIEW explode(split(lower(trim(text)),
                                              '\\s+')) AS w),
             fw AS (SELECT word, CAST(MIN(doc_id) AS BIGINT) AS fd
                    FROM w GROUP BY 1),
             dt AS (SELECT doc_id,
                           CAST(size(split(trim(text), '\\s+'))
                                AS BIGINT) AS nt
                    FROM docs_hp),
             mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mid
                    FROM docs_hp),
             th AS (SELECT CAST(pct AS BIGINT) AS pct,
                           CAST(round(mx.mid * pct / 100.0D) AS BIGINT)
                             AS cut
                    FROM mx LATERAL VIEW
                      explode(array(5, 10, 25, 50, 100)) AS pct),
             pk AS (SELECT th.pct, th.cut,
                           CAST(SUM(CASE WHEN dt.doc_id <= th.cut
                                    THEN dt.nt ELSE 0 END) AS BIGINT)
                             AS toks
                    FROM th CROSS JOIN dt GROUP BY th.pct, th.cut),
             pvv AS (SELECT th.pct,
                            CAST(SUM(CASE WHEN fw.fd <= th.cut
                                     THEN 1 ELSE 0 END) AS BIGINT)
                              AS vocab
                     FROM th CROSS JOIN fw GROUP BY th.pct)
        SELECT pk.pct, pk.cut, pk.toks, pvv.vocab
        FROM pk JOIN pvv ON pk.pct = pvv.pct""")
        .trackedCkpt().createOrReplaceTempView("pt_hp")
      s.sql("""
        WITH pt AS (SELECT pct, cut, toks, vocab FROM pt_hp),
             ols AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                            SUM(ln(CAST(toks AS DOUBLE))) AS sx,
                            SUM(ln(CAST(vocab AS DOUBLE))) AS sy,
                            SUM(ln(CAST(toks AS DOUBLE))
                                * ln(CAST(toks AS DOUBLE))) AS sxx,
                            SUM(ln(CAST(toks AS DOUBLE))
                                * ln(CAST(vocab AS DOUBLE))) AS sxy
                     FROM pt),
             f AS (SELECT (k * sxy - sx * sy)
                            / (k * sxx - sx * sx) AS beta,
                          exp(sy / k - (k * sxy - sx * sy)
                                       / (k * sxx - sx * sx)
                                       * sx / k) AS kk
                   FROM ols)
        SELECT pt.pct AS prefix_pct, pt.toks AS n_tokens,
               pt.vocab AS vocab_size,
               round(f.beta, 4) AS heaps_beta,
               round(f.kk, 4) AS heaps_k
        FROM pt CROSS JOIN f ORDER BY prefix_pct""")
    },
    Some("""WITH w AS (SELECT doc_id, unnest(string_split_regex(
                                lower(trim(text)), '\s+')) AS word
                       FROM documents),
                 fw AS (SELECT word, CAST(MIN(doc_id) AS BIGINT) AS fd
                        FROM w GROUP BY 1),
                 dt AS (SELECT doc_id,
                               CAST(len(string_split_regex(trim(text),
                                        '\s+')) AS BIGINT) AS nt
                        FROM documents),
                 mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mid
                        FROM documents),
                 th AS (SELECT CAST(pct AS BIGINT) AS pct,
                               CAST(round(mx.mid * pct / 100.0)
                                    AS BIGINT) AS cut
                        FROM mx, unnest([5, 10, 25, 50, 100])
                                   AS t(pct)),
                 pk AS (SELECT th.pct, th.cut,
                               CAST(SUM(CASE WHEN dt.doc_id
                                                  <= th.cut
                                        THEN dt.nt ELSE 0 END)
                                    AS BIGINT) AS toks
                        FROM th CROSS JOIN dt
                        GROUP BY th.pct, th.cut),
                 pvv AS (SELECT th.pct,
                                CAST(SUM(CASE WHEN fw.fd <= th.cut
                                         THEN 1 ELSE 0 END)
                                     AS BIGINT) AS vocab
                         FROM th CROSS JOIN fw GROUP BY th.pct),
                 pt AS (SELECT pk.pct, pk.cut, pk.toks, pvv.vocab
                        FROM pk JOIN pvv ON pk.pct = pvv.pct),
                 ols AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                                SUM(ln(CAST(toks AS DOUBLE))) AS sx,
                                SUM(ln(CAST(vocab AS DOUBLE))) AS sy,
                                SUM(ln(CAST(toks AS DOUBLE))
                                    * ln(CAST(toks AS DOUBLE)))
                                  AS sxx,
                                SUM(ln(CAST(toks AS DOUBLE))
                                    * ln(CAST(vocab AS DOUBLE)))
                                  AS sxy
                         FROM pt),
                 f AS (SELECT (k * sxy - sx * sy)
                                / (k * sxx - sx * sx) AS beta,
                              exp(sy / k - (k * sxy - sx * sy)
                                           / (k * sxx - sx * sx)
                                           * sx / k) AS kk
                       FROM ols)
            SELECT pt.pct AS prefix_pct, pt.toks AS n_tokens,
                   pt.vocab AS vocab_size,
                   round(f.beta, 4) AS heaps_beta,
                   round(f.kk, 4) AS heaps_k
            FROM pt CROSS JOIN f ORDER BY prefix_pct"""))

  // Shard-balance audit — the skew report for the corpus_shard_write
  // layout: per-shard token mass under the same md5 assignment (two hex
  // chars → 256 shards), reduced to the numbers a training-loader SRE
  // reads: max/mean (the straggler stall factor — epoch time is set by
  // the FULLEST shard), min/mean, and the coefficient of variation.
  // One explode-free scan (n_chars is the mass proxy), one 256-row
  // rollup, scalar doubles on exact BIGINT moments.
  private val corpusShardBalance = Op(
    "corpus_shard_balance",
    (s, d) => {
      t(s, d, "documents").createOrReplaceTempView("docs_sb")
      s.sql("""
        WITH sh AS (SELECT substring(md5(CAST(doc_id AS STRING)), 1, 2)
                             AS shard,
                           CAST(COUNT(*) AS BIGINT) AS n_docs,
                           CAST(SUM(n_chars) AS BIGINT) AS mass
                    FROM docs_sb GROUP BY 1),
             m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
                          CAST(SUM(mass) AS BIGINT) AS tot,
                          CAST(MIN(mass) AS BIGINT) AS mn,
                          CAST(MAX(mass) AS BIGINT) AS mx,
                          CAST(SUM(mass * mass) AS BIGINT) AS ss
                   FROM sh)
        SELECT n_shards, tot AS total_chars, mn AS min_shard,
               mx AS max_shard,
               round(CAST(mx AS DOUBLE) * n_shards / tot, 4)
                 AS max_over_mean,
               round(CAST(mn AS DOUBLE) * n_shards / tot, 4)
                 AS min_over_mean,
               round(sqrt((CAST(ss AS DOUBLE)
                           - CAST(tot AS DOUBLE) * tot / n_shards)
                          / (n_shards - 1))
                     / (CAST(tot AS DOUBLE) / n_shards), 4) AS cv
        FROM m""")
    },
    Some("""WITH sh AS (SELECT substr(md5(CAST(doc_id AS VARCHAR)),
                                      1, 2) AS shard,
                               CAST(COUNT(*) AS BIGINT) AS n_docs,
                               CAST(SUM(n_chars) AS BIGINT) AS mass
                        FROM documents GROUP BY 1),
                 m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
                              CAST(SUM(mass) AS BIGINT) AS tot,
                              CAST(MIN(mass) AS BIGINT) AS mn,
                              CAST(MAX(mass) AS BIGINT) AS mx,
                              CAST(SUM(mass * mass) AS BIGINT) AS ss
                       FROM sh)
            SELECT n_shards, tot AS total_chars, mn AS min_shard,
                   mx AS max_shard,
                   round(CAST(mx AS DOUBLE) * n_shards / tot, 4)
                     AS max_over_mean,
                   round(CAST(mn AS DOUBLE) * n_shards / tot, 4)
                     AS min_over_mean,
                   round(sqrt((CAST(ss AS DOUBLE)
                               - CAST(tot AS DOUBLE) * tot
                                 / n_shards)
                              / (n_shards - 1))
                         / (CAST(tot AS DOUBLE) / n_shards), 4)
                     AS cv
            FROM m"""))

  // Model-based quality scoring — the fasttext-classifier-gate shape every
  // production corpus pipeline runs (CCNet/DCLM-style): extract per-doc
  // features map-side, apply a PUBLISHED fixed-weight logistic model, gate
  // on the score. The model here is a deterministic stand-in (hand-set
  // weights over the same features text_quality publishes) — the Spark
  // side (feature extraction → dot product → sigmoid → gate, all codegen'd
  // scalar math, zero shuffles) is the real 100 TB plumbing; swapping in
  // learned weights is a literal swap. Score published at a floor-rounded
  // 4 dp (§7.6.2 tie protocol); the keep flag compares the ROUNDED score,
  // which removes most cross-engine noise but is NOT a bit-identity
  // guarantee: z feeds libm exp/ln, whose ULP differences between the JVM
  // and DuckDB can in principle flip the floor(x*10000+0.5) rounding — and
  // hence keep at the exact 0.5 boundary — the same boundary class as the
  // agg_zscore_outliers caveat. No test-scale doc sits on that boundary.
  private val qualityLogisticScore = Op(
    "quality_logistic_score",
    (s, d) => t(s, d, "documents")
      .withColumn("tk", tokens(col("text")))
      .withColumn("nt", size(col("tk")).cast("double"))
      .withColumn("stop_ratio", expr(
        "size(filter(tk, t -> t IN ('the', 'a', 'of', 'and'))) / CAST(size(tk) AS DOUBLE)"))
      .withColumn("uniq_ratio", size(array_distinct(col("tk"))) / col("nt"))
      .withColumn("z",
        lit(-3.0) + log(col("nt")) * 0.8 + col("stop_ratio") * 2.5 +
          col("uniq_ratio") * 1.5)
      .withColumn("score",
        floor(lit(10000.0) / (lit(1.0) + exp(-col("z"))) + 0.5) / 10000.0)
      .select(col("doc_id"), col("score"),
        (col("score") >= 0.5).as("keep"))
      .orderBy("doc_id"),
    Some("""WITH f AS (
              SELECT doc_id,
                CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS DOUBLE) AS nt,
                len(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
                    t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop,
                CAST(len(list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS DOUBLE) AS n_uniq
              FROM documents),
            z AS (
              SELECT doc_id,
                -3.0 + ln(nt) * 0.8 + (n_stop / nt) * 2.5 +
                  (n_uniq / nt) * 1.5 AS z
              FROM f)
            SELECT doc_id,
              floor(10000.0 / (1.0 + exp(-z)) + 0.5) / 10000.0 AS score,
              floor(10000.0 / (1.0 + exp(-z)) + 0.5) / 10000.0 >= 0.5 AS keep
            FROM z ORDER BY doc_id"""))

  // Near-dup threshold calibration sweep: how many candidate pairs clear
  // each Jaccard cutoff 0.5..1.0 — the report that decides WHERE to set
  // the dedup threshold before committing to a corpus-wide pass (too low
  // deletes paraphrases, too high keeps templates). Rides the SAME capped
  // shared-shingle candidate join as dedup_ngram_jaccard (one cached
  // materialization per session, MaxShingleDf skew guard), so the sweep
  // costs one groupBy more than the pair listing. Jaccard quantizes to an
  // exact integer bp (round-4 × 10⁴) before the threshold compare — no
  // float boundary can split the engines. The pair relation FIRST
  // collapses to per-j_bp counts — a ≤10001-row relation bounded by the
  // bp DOMAIN, not the corpus — and only that collapsed relation meets
  // the 6-row threshold grid in the ≥ theta join, so the
  // BroadcastNestedLoopJoin's build side can never grow with data volume
  // (the r15 spelling theta-joined the UNBOUNDED pair relation — ADVICE
  // r15 item 3). Thresholds left-join so a clean corpus publishes zeros,
  // not an empty relation.
  /** Demo bucket cap for the standalone minhash-star key: the production
    * cap (64) sits above every test-SF bucket occupancy, which would make
    * the key's oracle a trivially-empty compare. 1 puts every multi-doc
    * band bucket in play at sf0.001/sf0.01 (measured: 669/679 candidates,
    * 25/24 verified pairs) so the signature build, bucket-anchor election,
    * and full-set exact-Jaccard verification are all value-checked against
    * DuckDB on non-empty relations. */
  private[graft] val MinhashStarDemoBucket = 1

  // The bounded-recall fallback as its own oracle-checked listing key
  // (VERDICT r16 #1): verified (doc → saturated-band-anchor) near-dup
  // edges at a demo bucket cap low enough that test-scale data saturates.
  // The clustering keys run the identical pass at the production cap
  // ([[StarBucketCap]]) via [[minhashStarEdges]]; this key proves the
  // mechanism itself — ≤8 candidates per doc, full-shingle-set
  // verification — value-exact against the DuckDB replay.
  private val dedupMinhashStar = Op(
    "dedup_minhash_star",
    (s, d) => minhashStarEdgesFrom(t(s, d, "documents"), MinhashStarDemoBucket)
      .orderBy("u", "v"),
    Some(s"""WITH $shingleBaseCtes,
            ${minhashStarCtes(MinhashStarDemoBucket)}
            SELECT u, v, jaccard FROM hse ORDER BY u, v"""))

  private val dedupThresholdSweep = Op(
    "dedup_threshold_sweep",
    (s, d) => {
      val jc = shingleIntersectionsFrom(t(s, d, "documents"))
        .select(expr("CAST(round(round(i / CAST(ns_a + ns_b - i AS DOUBLE)"
          + ", 4) * 10000) AS BIGINT)").as("j_bp"))
        .groupBy("j_bp").agg(count(lit(1)).as("n"))
      val th = s.range(5, 11).select((col("id") * 1000).as("t_bp"))
      th.join(jc, col("j_bp") >= col("t_bp"), "left")
        .groupBy("t_bp")
        .agg(sum(coalesce(col("n"), lit(0L))).as("n_pairs_ge"))
        .orderBy("t_bp")
    },
    Some(s"""WITH $jaccardCtes,
            jall AS (SELECT CAST(round(round(i * 1.0 / (na.ns + nb.ns - i),
                            4) * 10000) AS BIGINT) AS j_bp
                     FROM inter
                     JOIN sizes na ON na.doc_id = doc_a
                     JOIN sizes nb ON nb.doc_id = doc_b),
            jc AS (SELECT j_bp, CAST(COUNT(*) AS BIGINT) AS n
                   FROM jall GROUP BY 1),
            th AS (SELECT unnest(range(5, 11)) * 1000 AS t_bp)
            SELECT CAST(t_bp AS BIGINT) AS t_bp,
                   CAST(SUM(COALESCE(jc.n, 0)) AS BIGINT) AS n_pairs_ge
            FROM th LEFT JOIN jc ON jc.j_bp >= th.t_bp
            GROUP BY t_bp ORDER BY t_bp"""))

  val ops: Seq[Op] = Seq(
    dedupMinhashStar, dedupNearExact, simRangeSearch,
    dedupThresholdSweep,
    qualityLogisticScore,
    textReadability, corpusFilterSweep, textHeapsFit, corpusShardBalance,
    corpusEpochShuffle, textVocabCoverage, embProductQuantize,
    simPqAdc, textSentenceStats, joinKnnGrid, corpusE2ePipeline,
    dedupMinhashMd5, dedupSimhashMd5, textFingerprintMd5, textNovelty,
    textBpeTrain, corpusTokenBudget,
    textTfidf, dedupSubstring, embKmeans, embQuantize,
    corpusCurriculum, textHashFeatures,
    dedupExact, dedupNgramJaccard, dedupContainment, dedupClusters,
    dedupSurvivor, dedupMinhash,
    dedupSimhash, dedupPrefix, corpusBuild,
    dedupEmbedding, qualityGate, textPiiMask, embNormalize,
    dedupEmbeddingClusters, textCollocations, corpusShardWrite, embDimReduce,
    simCosineTopk, simTopkBatch, simAnnLsh, simAnnIvf, simAnnPersisted,
    embCosineHistogram,
    embCentroidAssign,
    embKnnGraph, embHubnessAnn,
    textStats, textTopterms, textLangid, textLangidConfusion,
    textQuality, textLmScore, textTokenBpe,
    textFingerprint, decontamCheck, packSequences, corpusMix, textChunkOverlap,
    textRepetition, textEntropy, dedupIncremental, sampleWeighted)
}

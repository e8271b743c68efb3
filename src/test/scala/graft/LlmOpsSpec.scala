package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded-hash LLM ops have no DuckDB oracle (SURVEY.md §7.5.4) — verified
  * here with planted near-duplicates and consistency against exact baselines. */
class LlmOpsSpec extends AnyFunSuite {
  import TestSpark._

  /** Temp "documents" table with planted near-dups:
    * 1↔2 near-identical (1 token of ~60 differs), 3 unrelated. */
  private lazy val plantedDir: String = {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (1 to 60).map(i => s"other$i").mkString(" ")
    val dir = TempDirs.tmp("g_planted_")
    Seq((1L, "en", base), (2L, "en", near), (3L, "en", other))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_minhash surfaces the planted near-duplicate pair only") {
    val pairs = SparkEntry.queries("dedup_minhash")(spark, plantedDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("dedup_simhash hamming distance separates near-dups from unrelated") {
    val rows = SparkEntry.queries("dedup_simhash")(spark, plantedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.contains((1L, 2L)))
    assert(!rows.contains((1L, 3L)) && !rows.contains((2L, 3L)))
  }

  // Property with a PLANTED HOT BUCKET: several hundred unrelated docs share
  // one 16-bit chunk value (the boilerplate-collapse pathology that makes the
  // band self-join quadratic). The frequency cap must drop that bucket from
  // candidate generation, while a planted near-dup pair — which also sits in
  // the hot bucket but co-collides on a cold chunk — must still surface.
  test("simhash frequency cap skips hot buckets but keeps near-dups (property)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = Gen.listOfN(300, Gen.long)
    (0 until 3).foreach { i =>
      val rnd = gen(Gen.Parameters.default, Seed(1234L + i)).get
      // every doc shares chunk0 = 0x1234 (hot, 302 docs >> cap); upper 48
      // bits random, so non-planted pairs sit at hamming ~24
      val crowd = rnd.zipWithIndex.map { case (r, idx) =>
        (idx.toLong, (r & ~0xFFFFL) | 0x1234L)
      }
      // constant base (independent of the crowd) so no crowd doc lands
      // within hamming 6 by sharing generated upper bits
      val base = 0xD00DFACEBEEF1234L
      val planted = Seq((9001L, base), (9002L, base ^ (1L << 63)))
      val sig = (crowd ++ planted).toDF("doc_id", "sim")
      val pairs = operators.LlmOps.simhashCandidatePairs(sig, maxBucket = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(pairs.toSeq === Seq((9001L, 9002L, 1)),
        s"seed ${1234L + i}: expected only the planted pair, got ${pairs.toSeq}")
    }
  }

  // PLANTED HOT BAND BUCKET for the MinHash guard: 300 docs collide on one
  // (band, bh) bucket (identical-text / boilerplate collapse — quadratic
  // candidates if uncapped), while a planted pair sits in the hot bucket AND
  // co-collides on a second, cold band. The cap must drop the hot bucket
  // entirely (no crowd pairs) yet keep the pair via its cold collision.
  test("minhash frequency cap skips hot band buckets but keeps co-collisions") {
    import spark.implicits._
    val crowd = (1 to 300).map(i => (i.toLong, 0, 42L))
    val planted = Seq((9001L, 0, 42L), (9002L, 0, 42L), // also in the hot bucket
      (9001L, 1, 777L), (9002L, 1, 777L)) // cold co-collision
    val banded = (crowd ++ planted).toDF("doc_id", "band", "bh")
    val pairs = operators.LlmOps.minhashCandidatePairs(banded, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq.sorted === Seq((9001L, 9002L)),
      s"expected only the planted cold-band pair, got ${pairs.length} pairs")
  }

  // End-to-end: a 70-doc crowd of byte-identical texts collides on ALL 16
  // bands (every bucket df=70 > 64), so the cap must suppress the crowd
  // completely — identical texts are dedup_exact's job — while the planted
  // near-dup pair (distinct signatures, rare bands) still surfaces.
  test("dedup_minhash drops identical-text crowds but keeps near-dups") {
    import spark.implicits._
    val crowd = (1 to 70).map(i => (100L + i, "en",
      (1 to 60).map(j => s"c$j").mkString(" ")))
    val base = (1 to 60).map(i => s"m$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"m$i").mkString(" ")
    val dir = TempDirs.tmp("g_mh_crowd_")
    (crowd ++ Seq((9001L, "en", base), (9002L, "en", near)))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("dedup_minhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((9001L, 9002L)),
      s"expected only the near-dup pair, got ${pairs.toSeq}")
  }

  // The lpad-truncation pin: every doc at the global max length has
  // (unclamped) threshold exactly 2^32 = '100000000' (9 hex digits), which
  // an 8-char lpad would truncate to '10000000' and keep only ~1/16 of the
  // longest docs. With the clamp to 'ffffffff' ALL max-length docs pass
  // (md5 prefix ≥ 'ffffffff' has probability 2^-32). Shorter docs keep
  // their proportional rate.
  test("sample_weighted keeps every max-length doc and ~1/4 of quarter-length") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_sw_")
    val longs = (1L to 200L).map(i => (i, "en", "x", 4000))
    val shorts = (1001L to 1400L).map(i => (i, "en", "x", 1000))
    (longs ++ shorts).toDF("doc_id", "lang", "text", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = SparkEntry.queries("sample_weighted")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(kept.count(_._2 == 4000) === 200, "every max-length doc must be kept")
    val shortRate = kept.count(_._2 == 1000).toDouble / 400
    assert(shortRate > 0.15 && shortRate < 0.35,
      s"quarter-length keep rate $shortRate far from 0.25")
  }

  // PLANTED HOT SHINGLE: 70 docs (> MaxShingleDf = 64) share one identical
  // 3-token text, i.e. one shingle with df=70. Uncapped, that single hot key
  // would generate 70·69/2 = 2415 candidate pairs (all Jaccard 1.0 — visible
  // in the output, not just the candidate set). The df-cap must drop the hot
  // shingle so NONE of them surface, while a 60-token near-dup pair whose
  // shared shingles are all rare (df=2) must still come through with its
  // exact Jaccard. Identical texts are upstream dedup_exact's job.
  test("jaccard df-cap drops hot-shingle crowds but keeps rare near-dups") {
    import spark.implicits._
    val crowd = (1 to 70).map(i => (100L + i, "en", "common alpha beta"))
    val base = (1 to 60).map(i => s"r$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"r$i").mkString(" ")
    val docs = (crowd ++ Seq((9001L, "en", base), (9002L, "en", near)))
      .toDF("doc_id", "lang", "text")
    val pairs = operators.LlmOps.jaccardPairsFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 58 shingles/doc, 55 shared → 55/61 ≈ 0.9016
    assert(pairs.toSeq === Seq((9001L, 9002L, 0.9016)),
      s"expected only the rare near-dup pair, got ${pairs.length} pairs")
  }

  // The native ShingleSet expression must agree (as a set per doc) with the
  // HOF spelling it replaced — split, transform over positions, concat_ws,
  // array_distinct — including short-doc and repeated-shingle edge cases.
  test("ShingleSet equals the HOF shingle formulation on real documents") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, expr, size => asize}
    graft.functions.GraftExtensions.register(spark)
    val extra = Seq((9101L, "en", "one two"), (9102L, "en", "a  a a  a"),
      (9103L, "en", "  x y z  "), (9104L, "en", "")).toDF("doc_id", "lang", "text")
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").unionByName(extra)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val native = pairs(docs.select(col("doc_id"), explode(expr(
      "graft_shingles(trim(regexp_replace(lower(text), '\\\\s+', ' ')), 3)")).as("s")))
    val hof = pairs(docs
      .withColumn("tk", expr("split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')"))
      .where(asize(col("tk")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))")).as("s")))
    assert(native.nonEmpty)
    assert(native === hof)
  }

  test("connectedComponents finds planted components (chain, triangle, pair)") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter > 1 exercises iteration), triangle 10-11-12,
    // isolated edge 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("u", "v")
    val labels = operators.LlmOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L))
    assert(Seq(20L, 21L).forall(labels(_) == 20L))
  }

  test("dedup_clusters groups the planted near-dup pair under one rep") {
    val rows = SparkEntry.queries("dedup_clusters")(spark, plantedDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.toSeq === Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false)))
  }

  // r16: a duplicate group larger than MaxShingleDf (64) loses EVERY
  // shingle to the df cap, so the jaccard path alone cannot cluster it —
  // the linear exact-duplicate star edges must (the corpus-x200 probe's
  // finding). 70 byte-identical docs + 1 unique: all 70 cluster under the
  // min id with size 70; the unique doc stays out of the edge set.
  test("dedup_clusters clusters identical crowds past the df cap") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_cl_crowd_")
    val crowd = (1 to 70).map(i =>
      (i.toLong, "en", (1 to 40).map(j => s"w$j").mkString(" ")))
    (crowd :+ ((999L, "en", "totally different text here")))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dedup_clusters")(spark, dir).collect()
    assert(rows.length === 70, s"expected the 70-crowd, got ${rows.length}")
    assert(rows.forall(_.getLong(1) == 1L), "all must label under doc 1")
    assert(rows.forall(_.getLong(2) == 70L), "cluster_size must be 70")
  }

  // r17: a NEAR-identical (not byte-identical) crowd past the df cap — the
  // one recall hole r16 left open. Every shared shingle is hot (df=70>64)
  // so the capped jaccard path emits nothing, and the texts differ so the
  // exact-star pass can't collapse them either. The minhash-star pass
  // must: co-bucket the crowd on its rotated-minhash fingerprints, elect
  // the bucket anchor (min doc), emit one bounded candidate per member,
  // verify it at full-shingle-set Jaccard (38/40 = 0.95), and cluster all
  // 70 — while a boilerplate co-occupant sharing a hot shingle (no shared
  // band, or Jaccard fails) must stay out.
  test("dedup_clusters clusters PERTURBED crowds past the df cap (minhash-star)") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_cl_pcrowd_")
    val base = (1 to 40).map(j => s"w$j").mkString(" ")
    val crowd = (1 to 70).map(i => (i.toLong, "en", s"$base uq$i"))
    // shares the (hot) "w1 w2 w3" shingle but nothing else similar
    val boiler = (999L, "en", "w1 w2 w3 " + (1 to 40).map(j => s"z$j").mkString(" "))
    (crowd :+ boiler)
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dedup_clusters")(spark, dir).collect()
    val inCrowd = rows.filter(_.getLong(0) <= 70L)
    assert(inCrowd.length === 70, s"expected the 70-crowd, got ${inCrowd.length}")
    assert(inCrowd.forall(_.getLong(1) == 1L), "all must label under doc 1")
    assert(inCrowd.forall(_.getLong(2) == 70L), "cluster_size must be 70")
    assert(!rows.exists(_.getLong(0) == 999L),
      "boilerplate co-occupant must fail verification and stay unclustered")
  }

  // Precision unit for the minhash-star pass itself: ≤8 candidates per doc
  // (one per band) and verification uses FULL shingle sets, so the emitted
  // edge list is exactly crowd→anchor and nothing else.
  // r18 boundary stress (VERDICT r17 #2): a 65-doc crowd at true pairwise
  // Jaccard 0.82 (84 shared words + 9 unique per member: i = 82, union =
  // 100) sits past the shingle-df cap (pair path blind) but fills its
  // per-band mode bucket to only ~p²·65 ≈ 53 occupants (p = 2j/(1+j) =
  // 0.90) — UNDER a 64 bucket cap. This is why StarBucketCap is 8, not
  // MaxBandBucket: at cap 64 the star pass emits ZERO edges for this crowd
  // (both paths blind → splinter); at cap 8 it must connect all 65. Same
  // corpus, both caps, md5-deterministic.
  test("65-doc j=0.82 crowd: star pass blind at cap 64, full recall at cap 8") {
    import spark.implicits._
    val common = (1 to 84).map(k => s"cw$k").mkString(" ")
    val docs = (1 to 65).map(i =>
      (i.toLong, "en", common + " " + (1 to 9).map(k => s"d${i}u$k").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val atPairCap = operators.LlmOps.minhashStarEdgesFrom(docs, 64).count()
    assert(atPairCap === 0L,
      s"cap 64 must be blind to the 65-crowd (got $atPairCap edges) — " +
        "if this starts passing, the mode-bucket math changed")
    val edges = operators.LlmOps.minhashStarEdgesFrom(docs, operators.LlmOps.StarBucketCap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "cap 8 must fire on the mode bucket")
    // union-find over the star edges: the crowd must be ONE component
    val parent = scala.collection.mutable.Map((1L to 65L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (u, v) => parent(find(u)) = find(v) }
    val comps = (1L to 65L).map(find).distinct
    assert(comps.size === 1,
      s"all 65 must connect through star edges, got ${comps.size} components")
  }

  test("minhashStarEdgesFrom links perturbed crowds to the anchor, rejects boilerplate") {
    import spark.implicits._
    val base = (1 to 40).map(j => s"w$j").mkString(" ")
    val docs = ((1 to 70).map(i => (i.toLong, "en", s"$base uq$i")) :+
      ((999L, "en", "w1 w2 w3 " + (1 to 40).map(j => s"z$j").mkString(" "))))
      .toDF("doc_id", "lang", "text")
    val edges = operators.LlmOps.minhashStarEdgesFrom(docs, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges === (2 to 70).map(i => (i.toLong, 1L)).toSet,
      s"expected the 69 crowd→anchor edges only, got ${edges.size}")
  }

  test("dedup_exact keeps one survivor per duplicated text") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_exact_")
    Seq((1L, "en", "same  text"), (2L, "en", "Same Text"), (3L, "en", "unique"))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("dedup_exact")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("sim_ann_lsh cosine values agree with the brute-force baseline") {
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = SparkEntry.queries("sim_ann_lsh")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(ann.nonEmpty)
    // every ANN hit that is also in the exact top-10 must carry the same score
    ann.foreach { case (id, sim) =>
      brute.get(id).foreach(b => assert(math.abs(b - sim) < 1e-9)) }
  }

  test("sim_ann_ivf recalls most of the exact top-10 with nprobe=2") {
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = SparkEntry.queries("sim_ann_ivf")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, sim) =>
      brute.get(id).foreach(b => assert(math.abs(b - sim) < 1e-9)) }
    // measured 0.7 at sf0.001 (the suite's SF) — pinned just below so a
    // regression in leader assignment or probing trips it. Context: the
    // synthetic embeddings are isotropic (intra-label avg cosine ≈
    // inter-label ≈ 0), so at larger SFs ANY inverted-file scheme's recall
    // converges to the scan fraction (nprobe/nlist = 0.25); higher recall
    // here reflects the small-corpus regime, not index quality.
    val recall = ivf.count(p => brute.contains(p._1)).toDouble / brute.size
    assert(recall >= 0.65, s"IVF recall@10 too low: $recall (measured 0.7)")
  }

  // The mixture op's whole purpose is hitting target rates: with the en
  // threshold at 0x40/0x100 the kept-fraction must concentrate near 25%
  // (md5 prefixes are uniform), and the op must be idempotent — rerunning
  // the filter on its own output keeps everything (pure function of ids).
  test("corpus_mix keeps ~25% of en docs and is idempotent") {
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val out = SparkEntry.queries("corpus_mix")(spark, "/root/testdata/sf0.01").cache()
    val enAll = docs.where(col("lang") === "en").count().toDouble
    val enKept = out.collect().count(_.getString(1) == "en")
    val rate = enKept / enAll
    assert(rate > 0.15 && rate < 0.35, s"en keep-rate $rate far from 0.25")
    val again = SparkEntry.queries("corpus_mix")(spark, "/root/testdata/sf0.01")
    assert(again.collect().toSeq === out.collect().toSeq, "must be deterministic")
  }

  test("text_fingerprint is deterministic across runs") {
    val a = SparkEntry.queries("text_fingerprint")(spark, sfDir).collect()
    val b = SparkEntry.queries("text_fingerprint")(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("agg_approx_distinct: exact side exact, sketch verdict true per group") {
    val rows = SparkEntry.queries("agg_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(3))))
      .toMap
    val exact = Tables.load(spark, sfDir, "events")
      .groupBy("event_type").agg(countDistinct("user_id").as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === exact.keySet)
    exact.foreach { case (k, e) =>
      val (ne, ok) = rows(k)
      assert(ne === e, s"$k: audit-side exact distinct must match")
      assert(ok, s"$k: HLL estimate left the 5% bound")
    }
  }

  // The counting unit is CODE POINTS — the unit DuckDB's string_split('')
  // uses — not UTF-16 units. 𝄞 (U+1D11E) is a surrogate PAIR in UTF-16:
  // code-point frequencies of "a𝄞𝄞b" are a:1, 𝄞:2, b:1 (n=4) →
  // H = log2(4) − (2·log2 2)/4 = 1.5 exactly (DuckDB agrees); a UTF-16-unit
  // walk would see 6 units and report ~1.918.
  test("CharEntropy counts code points, not UTF-16 units (non-BMP)") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val h = Seq("a𝄞𝄞b").toDF("text")
      .selectExpr("graft_char_entropy(text) AS h").collect().head.getDouble(0)
    assert(math.abs(h - 1.5) < 1e-12, s"got $h")
  }

  // The native one-pass CharEntropy expression must agree with the
  // declarative formulation it replaces (explode every character, groupBy,
  // aggregate the entropy formula) — the same equivalence contract
  // TextWinnowSpec and MultimodalSpec pin for the other native expressions.
  // (Holds on BMP text only: split(text, '') yields UTF-16 units, the
  // native expression counts code points — see CharEntropy's scaladoc.)
  test("CharEntropy equals the exploded groupBy formulation") {
    graft.functions.GraftExtensions.register(spark)
    val docs = Tables.load(spark, sfDir, "documents")
      .where(col("doc_id") % 7 === 0)
    val native = docs
      .select(col("doc_id"), expr("graft_char_entropy(text)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val declarative = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .where(col("c") =!= "")
      .groupBy("doc_id", "c").count()
      .groupBy("doc_id")
      .agg(expr("log2(sum(count)) - sum(count * log2(count)) / sum(count)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(native.keySet === declarative.keySet)
    assert(native.nonEmpty)
    native.foreach { case (k, h) =>
      assert(math.abs(h - declarative(k)) < 1e-9, s"doc $k: $h vs ${declarative(k)}")
    }
  }

  // Semantic-dedup clusters: a partition of all vec_ids where every
  // dedup_embedding pair (same blocking + threshold) lands in one cluster
  // and the representative is the cluster minimum.
  test("dedup_embedding_clusters partitions vecs and co-clusters every near-dup pair") {
    val rows = SparkEntry.queries("dedup_embedding_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nVecs = Tables.load(spark, sfDir, "embeddings").count()
    assert(rows.size === nVecs)                       // every vector labelled once
    rows.foreach { case (v, rep) => assert(rep <= v) } // rep = cluster min
    val pairs = SparkEntry.queries("dedup_embedding")(spark, sfDir)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(rows(a) === rows(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("text_collocations ranks by PMI descending with min pair count") {
    val rows = SparkEntry.queries("text_collocations")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    val pmis = rows.map(_.getDouble(3))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b }, "not sorted by pmi desc")
    assert(rows.forall(_.getLong(2) >= 5), "pair below min count")
  }

  test("corpus_shard_write manifest covers every document exactly once") {
    val m = SparkEntry.queries("corpus_shard_write")(spark, sfDir).collect()
    assert(m.forall(r => "0123456789abcdef".contains(r.getString(0))))
    val docs = Tables.load(spark, sfDir, "documents")
    assert(m.map(_.getLong(1)).sum === docs.count())
    assert(m.map(_.getLong(2)).sum ===
      docs.agg(sum("n_chars")).collect()(0).getLong(0))
  }

  // The md5-derived sign matrix is public arithmetic: recompute one row's
  // projection in the driver and compare against the operator's output.
  test("emb_dim_reduce matches a driver-side recomputation of the JL projection") {
    def sign(i: Int, j: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_${j}".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) <= 7) 1.0 else -1.0
    }
    val v = Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") === 7).select("embedding")
      .collect()(0).getSeq[Float](0).map(_.toDouble)
    val expected = (0 until 4).map(j =>
      BigDecimal(v.indices.foldLeft(0.0)((acc, i) => acc + v(i) * sign(i, j)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val got = SparkEntry.queries("emb_dim_reduce")(spark, sfDir)
      .where(col("vec_id") === 7).collect()(0)
    (0 until 4).foreach { j =>
      assert(math.abs(got.getDouble(j + 1) - expected(j)) < 1e-9,
        s"r$j: ${got.getDouble(j + 1)} vs ${expected(j)}")
    }
  }

  // Planted fixture: docs 1/2 differ at token 30 of 60, doc 3 is unrelated.
  // Doc 2's only term with df=1 is its edit, so TF-IDF must surface it.
  test("text_tfidf ranks the df=1 edit token first for the edited doc") {
    val top = SparkEntry.queries("text_tfidf")(spark, plantedDir)
      .where(col("doc_id") === 2 && col("rn") === 1).collect()(0)
    assert(top.getString(1) === "changed", top.toString)
  }

  // Same fixture through the span lens: 60-token docs sharing all but one
  // token share exactly the 8-token windows that avoid position 30 —
  // 22 spans from the prefix + 23 from the suffix of 53 total — while the
  // unrelated doc shares none.
  test("dedup_substring counts exactly the planted shared spans") {
    val rows = SparkEntry.queries("dedup_substring")(spark, plantedDir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(rows(1L) === ((53L, 45L, true)), s"doc1: ${rows(1L)}")
    assert(rows(2L) === ((53L, 45L, true)), s"doc2: ${rows(2L)}")
    assert(rows(3L) === ((53L, 0L, false)), s"doc3: ${rows(3L)}")
  }

  test("corpus_curriculum emits a stage-monotone permutation of 1..N") {
    val rows = SparkEntry.queries("corpus_curriculum")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val n = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_._2).sorted.toSeq === (1L to n).toSeq,
      "global positions are not a permutation of 1..N")
    // positions ordered by stage: every stage-s doc precedes every stage-s'
    // doc for s < s' (the two-phase offset ranking equals a global sort)
    assert(rows.sortBy(_._2).map(_._1).toSeq === rows.map(_._1).sorted.toSeq)
  }

  test("text_hash_features buckets are 2-hex-char and top_cnt bounds the doc") {
    val rows = SparkEntry.queries("text_hash_features")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(2).matches("[0-9a-f]{2}")))
    assert(rows.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 256))
    // top bucket count can never exceed the doc's token count
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), size(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => r.getLong(3) <= toks(r.getLong(0)).toLong))
  }

  test("emb_kmeans assigns every vector to one of k=8 clusters, deterministically") {
    val a = SparkEntry.queries("emb_kmeans")(spark, sfDir).collect()
    val b = SparkEntry.queries("emb_kmeans")(spark, sfDir).collect()
    val n = Tables.load(spark, sfDir, "embeddings").count()
    assert(a.length.toLong === n)
    assert(a.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8))
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq,
      "two runs disagree — the centroid rounding protocol is broken")
    // each vector's distance to its own cluster is a true squared L2 (>= 0)
    assert(a.forall(_.getDouble(2) >= 0.0))
  }

  // Affine int8 quantization endpoints: a coordinate equal to the global
  // per-dim minimum must map to -127, the maximum to +127 — recomputed
  // driver-side from the raw vectors.
  test("emb_quantize maps per-dimension min/max to the int8 endpoints") {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val dim0 = vecs.map(_._2(0))
    val loId = vecs.minBy(_._2(0))._1; val hiId = vecs.maxBy(_._2(0))._1
    val q = SparkEntry.queries("emb_quantize")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1).split(',')(0).toLong)
      .toMap
    assert(dim0.min < dim0.max) // fixture sanity: dimension 0 is not constant
    assert(q(loId) === -127L, s"min of dim0 (vec $loId) → ${q(loId)}")
    assert(q(hiId) === 127L, s"max of dim0 (vec $hiId) → ${q(hiId)}")
  }

  // BPE pair counting on a planted two-word corpus: "abab" ×3 + "ab" ×1 has
  // pair (a,b) 7 times (weighted by word frequency), (b,a) 3 times.
  test("text_bpe_train counts word-frequency-weighted adjacent pairs") {
    import spark.implicits._
    val dir = TempDirs.tmp("g_bpe_")
    Seq((0L, "abab abab ab"), (1L, "abab x"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_bpe_train")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // "x" is a 1-char word → filtered; pairs come only from abab (wc=3) and
    // ab (wc=1): ab appears 2×3 + 1×1 = 7, ba appears 1×3 = 3
    assert(got === Map(("a", "b") -> 7L, ("b", "a") -> 3L), s"got $got")
  }

  // The two-phase offset+within-bucket cumsum must reconstruct an exact
  // global prefix sum: consecutive cum values differ by exactly the row's
  // own n_chars, and the whole selection stays within budget.
  test("corpus_token_budget emits an exact in-budget prefix sum") {
    val rows = SparkEntry.queries("corpus_token_budget")(spark, sfDir)
      .collect().map(r => (r.getLong(2), r.getLong(3))) // (n_chars, cum)
    assert(rows.nonEmpty)
    assert(rows.last._2 <= 100000L)
    assert(rows.head._2 === rows.head._1, "first cum = own size")
    rows.zip(rows.tail).foreach { case ((_, c1), (n2, c2)) =>
      assert(c2 - c1 === n2, s"cum gap ${c2 - c1} != row size $n2")
    }
  }

  test("corpus_epoch_shuffle is a permutation per epoch with contiguous shard positions") {
    val rows = SparkEntry.queries("corpus_epoch_shuffle")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet === Set(0L, 1L))
    byEpoch.values.foreach { ep =>
      assert(ep.length.toLong === nDocs, "each epoch permutes the full corpus")
      assert(ep.map(_._4).distinct.length.toLong === nDocs)
      ep.groupBy(_._2).values.foreach { sh =>
        assert(sh.map(_._3).sorted.toSeq === (1L to sh.length.toLong))
      }
    }
    // the two epochs order documents differently (shard of doc 0 differs
    // somewhere across the corpus with overwhelming probability)
    val e0 = byEpoch(0L).sortBy(d => (d._2, d._3)).map(_._4)
    val e1 = byEpoch(1L).sortBy(d => (d._2, d._3)).map(_._4)
    assert(e0.toSeq !== e1.toSeq)
  }

  test("text_vocab_coverage bounds coverage by token count") {
    val rows = SparkEntry.queries("text_vocab_coverage")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    assert(rows.length.toLong === nDocs)
    rows.foreach { case (nTok, nCov, pm) =>
      assert(nCov >= 0 && nCov <= nTok)
      assert(pm >= 0 && pm <= 10000)
      assert(pm === nCov * 10000 / nTok)
    }
  }

  test("emb_product_quantize codebook vectors compress losslessly to themselves") {
    val rows = SparkEntry.queries("emb_product_quantize")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nVecs = Tables.load(spark, sfDir, "embeddings").count()
    assert(rows.length.toLong === nVecs)
    rows.foreach { case (_, code, du) =>
      val parts = code.split("-")
      assert(parts.length === 8)
      parts.foreach(p => assert(p.toInt >= 1 && p.toInt <= 16))
      assert(du >= 0L)
    }
    // a codebook vector's nearest centroid in every block is itself
    rows.filter(r => r._1 >= 1 && r._1 <= 16).foreach { case (vid, code, du) =>
      assert(du === 0L)
      assert(code === Array.fill(8)(vid.toString).mkString("-"))
    }
  }

  test("sim_pq_adc returns a sorted top-10 excluding the probe") {
    val rows = SparkEntry.queries("sim_pq_adc")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === 10)
    assert(!rows.exists(_._1 == 42L), "probe excluded from its own results")
    rows.foreach { case (_, adc) => assert(adc >= 0L) }
    assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.toSeq)
    val again = SparkEntry.queries("sim_pq_adc")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq === rows.toSeq, "ADC ranking is deterministic")
  }

  test("corpus_e2e_pipeline output passes every stage's own contract") {
    val rows = SparkEntry.queries("corpus_e2e_pipeline")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val ids = rows.map(_._1)
    assert(ids.distinct.length === ids.length, "dedup stage leaves unique docs")
    rows.foreach { case (_, _, lang, nChars, rk) =>
      assert(nChars >= 100 && nChars <= 2000, "quality gate bounds held")
      assert(Set("en", "de", "fr", "es").contains(lang))
      assert(rk >= 1 && rk <= 10, "per-source budget held")
    }
    rows.groupBy(_._2).foreach { case (_, perSrc) =>
      assert(perSrc.map(_._5).sorted.toSeq === (1L to perSrc.length).toSeq)
    }
  }

  test("dedup_minhash_md5 candidates honor the band guarantee") {
    val rows = SparkEntry.queries("dedup_minhash_md5")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "planted near-duplicates must produce candidates")
    rows.foreach { case (d1, d2, m, est) =>
      assert(d1 < d2)
      // a banded candidate shares at least one 2-seed band
      assert(m >= 2 && m <= 8)
      assert(math.abs(est - m / 8.0) < 1e-9)
    }
    assert(rows.map(p => (p._1, p._2)).distinct.length === rows.length)
  }

  test("dedup_simhash_md5 pairs honor the hamming bound and band guarantee") {
    val rows = SparkEntry.queries("dedup_simhash_md5")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty, "shared-vocabulary corpus must produce near pairs")
    rows.foreach { case (a, b, h) =>
      assert(a < b)
      assert(h >= 0 && h <= 6)
    }
    assert(rows.map(p => (p._1, p._2)).distinct.length === rows.length)
  }

  test("text_fingerprint_md5 covers every long-enough doc with sane bounds") {
    val rows = SparkEntry.queries("text_fingerprint_md5")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val eligible = Tables.load(spark, sfDir, "documents")
      .where("length(text) >= 11").count()
    assert(rows.length.toLong === eligible)
    rows.foreach { case (_, nFp, fpMin, fpMax) =>
      assert(nFp >= 1)
      assert(fpMin <= fpMax)
      assert(fpMin >= 0L, "md5-derived 32-bit fingerprints are non-negative")
    }
  }

  test("text_novelty: first doc is all-novel and novel counts add up") {
    val rows = SparkEntry.queries("text_novelty")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val firstDoc = rows.minBy(_._1)
    assert(firstDoc._4 === 1.0, "the earliest doc introduces every shingle it has")
    rows.foreach { case (_, n, novel, score) =>
      assert(novel >= 0 && novel <= n)
      assert(score >= 0.0 && score <= 1.0)
    }
    // every distinct shingle is novel in exactly one doc
    val distinctShingles = Tables.load(spark, sfDir, "documents")
      .selectExpr("explode(transform(sequence(1, size(split(lower(trim(text)), '\\\\s+')) - 2), " +
        "i -> concat_ws(' ', element_at(split(lower(trim(text)), '\\\\s+'), i), " +
        "element_at(split(lower(trim(text)), '\\\\s+'), i + 1), " +
        "element_at(split(lower(trim(text)), '\\\\s+'), i + 2)))) AS g")
      .distinct().count()
    assert(rows.map(_._3).sum === distinctShingles)
  }

  test("signBits adapts the LSH width to corpus size, pinned at test scales") {
    import graft.operators.LlmOps.signBits
    // every oracle-checked scale ships <= 2000 vectors -> 4 bits, so the
    // static 4-bit oracle replays stay exact (the invariant the adaptive
    // width must never break)
    assert(signBits(0) === 4)
    assert(signBits(500) === 4)
    assert(signBits(2000) === 4)
    assert(signBits(4096) === 4)     // target 16 <= 2^4
    assert(signBits(40000) === 8)    // the sf10 probe instance
    assert(signBits(1000000) === 12)
    assert(signBits(1L << 40) === 16) // capped: dim budget, not unbounded
    // occupancy contract: 2^bits buckets keep expected occupancy <= 256
    // until the cap; monotone in n
    var prev = 4
    for (n <- Seq(1L, 100L, 5000L, 100000L, 10000000L, 1L << 35)) {
      val b = signBits(n)
      assert(b >= prev, s"signBits not monotone at n=$n")
      if (b < 16) assert(n <= (1L << b) * 256L, s"occupancy > 256 at n=$n")
      prev = b
    }
  }

  test("text_sentence_stats ratio is consistent with its own counts") {
    val rows = SparkEntry.queries("text_sentence_stats")(spark, sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (nSent, nWords, wps) =>
      assert(nSent >= 0 && nWords >= 1)
      val expected = math.round(
        nWords.toDouble / math.max(nSent, 1L) * 100).toDouble / 100
      assert(math.abs(wps - expected) < 1e-9)
    }
  }
}

package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing: binary column model, fixed-width feature contract,
  * partition-parallel determinism (the decode itself is a marked stub). */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("mm_feature_extract yields fixed-width L1-normalized features") {
    val df = SparkEntry.queries("mm_feature_extract")(spark, sfDir).cache()
    // features cross the comparison boundary as a comma-joined string of
    // 1e6-scaled ints (raw arrays crash the driver comparator)
    assert(df.schema("features_sig").dataType === StringType)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val fs = r.getString(2).split(",").map(_.toLong)
      assert(fs.length === operators.Multimodal.StubDecoder.dims)
      val l1 = fs.sum / 1e6
      assert(math.abs(l1 - 1.0) < 1e-3, s"L1 norm $l1 for doc ${r.getLong(0)}")
    }
  }

  test("mm_feature_extract is deterministic across partitions counts") {
    val a = SparkEntry.queries("mm_feature_extract")(spark, sfDir).collect()
    val b = SparkEntry.queries("mm_feature_extract")(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq)
  }

  // The native ByteWindows expression must agree element-for-element with
  // the interpreted HOF spelling it replaced (hex the payload, decode each
  // byte with instr arithmetic, aggregate slices per window) — the same
  // equivalence contract TextWinnowSpec pins for text_fingerprint.
  test("ByteWindows equals the HOF hex-decode formulation on real payloads") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftExtensions.register(spark)
    val p = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .withColumn("n", octet_length(col("payload")))
      .where(col("n") >= 64)
    val native = p.select(col("doc_id"),
        explode(expr("graft_byte_windows(payload, 64, 32)")).as("wn"))
      .select(col("doc_id"), col("wn.win_id"), col("wn.win_sum"), col("wn.win_max"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val hof = p.withColumn("h", hex(col("payload")))
      .withColumn("vals", expr(
        """transform(sequence(1, CAST(n AS INT)),
          |  i -> CAST(instr('0123456789ABCDEF', substr(h, i*2 - 1, 1)) - 1 AS BIGINT) * 16 +
          |       CAST(instr('0123456789ABCDEF', substr(h, i*2, 1)) - 1 AS BIGINT))""".stripMargin))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST((n - 64) div 32 AS INT)),
          |  w -> named_struct(
          |    'win_id', CAST(w AS BIGINT),
          |    'win_sum', aggregate(slice(vals, w*32 + 1, 64), CAST(0 AS BIGINT), (a, x) -> a + x),
          |    'win_max', array_max(slice(vals, w*32 + 1, 64))))""".stripMargin)).as("wn"))
      .select(col("doc_id"), col("wn.win_id"), col("wn.win_sum"), col("wn.win_max"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(native.nonEmpty)
    assert(native.sorted.toSeq === hof.sorted.toSeq)
  }

  test("StubDecoder contract: empty payload is safe, output width fixed") {
    val z = operators.Multimodal.StubDecoder.decode(Array.emptyByteArray)
    assert(z.length === operators.Multimodal.StubDecoder.dims)
    assert(z.forall(_ == 0f))
  }

  test("BlockMeanHash: small edits stay within a small Hamming distance") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill[Byte](4096)((rnd.nextInt(256) - 128).toByte)
    val edited = base.clone()
    // a handful of local byte edits — "same image, tiny change"
    for (i <- Seq(10, 11, 2000, 2001, 4000)) edited(i) = (edited(i) ^ 0x5f).toByte
    val h0 = functions.BlockMeanHash.compute(base)
    val h1 = functions.BlockMeanHash.compute(edited)
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 6,
      s"edit moved ${java.lang.Long.bitCount(h0 ^ h1)} bits")
    // empty payload is total
    assert(functions.BlockMeanHash.compute(Array.emptyByteArray) === 0L)
  }

  test("mm_dedup_phash_hex is the production pipeline on the same payloads") {
    // the oracle-checked twin runs the SAME Spark pipeline as the
    // production key — their outputs over the testdata must be identical
    // row for row (the twin adds only the DuckDB hex-arithmetic replay)
    val prod = SparkEntry.queries("mm_dedup_phash")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val twin = SparkEntry.queries("mm_dedup_phash_hex")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(twin === prod)
  }

  test("mm_dedup_phash finds planted near-identical payloads, banded join only") {
    val s = spark
    import s.implicits._
    def blob(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      Array.fill[Byte](2048)((r.nextInt(256) - 128).toByte)
    }
    val a = blob(1)
    val b = a.clone(); b(100) = (b(100) ^ 0x11).toByte // near-dup of a
    val others = (3L to 12L).map(i => (i, blob(i.toInt * 97)))
    val df = ((1L, a) +: (2L, b) +: others).toDF("doc_id", "payload")
    val pairs = operators.Multimodal.phashPairsFrom(df).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      s"planted pair missing from ${pairs.mkString(",")}")
    // every reported pair honors the Hamming bound
    pairs.foreach(r => assert(r.getAs[Number](2).intValue <= 12))
    // and the plan is a banded equi-join, never a cross product
    val p = operators.Multimodal.phashPairsFrom(df).queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(400))
  }

  test("mm_video_scene bounds scenes by frames; a one-frame doc is one scene") {
    val s = spark
    import s.implicits._
    val dir = TempDirs.tmp("g_scene_")
    Seq((1L, "short"),                    // < 64 bytes → 1 frame → 1 scene
        (2L, "x" * 300))                  // 5 frames → 1..5 scenes
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("mm_video_scene")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(rows(1L) === ((1, 1)), s"one-frame doc: ${rows(1L)}")
    val (nf, ns) = rows(2L)
    assert(nf === 5 && ns >= 1 && ns <= 5, s"doc2: $nf frames, $ns scenes")
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native TextWinnow expression must be bit-identical to the HOF
  * formulation it replaced (rolling xxhash64 8-grams, min per 4-window),
  * with and without whole-stage codegen. */
class TextWinnowSpec extends AnyFunSuite {
  import TestSpark._

  private def hofReference(d: String) =
    Tables.load(spark, d, "documents")
      .where(length(col("text")) >= 11)
      .withColumn("hs", expr(
        "transform(sequence(1, length(text) - 7), i -> xxhash64(substring(text, i, 8)))"))
      .withColumn("fps", expr(
        "transform(sequence(0, size(hs) - 4), i -> array_min(slice(hs, i + 1, 4)))"))
      .select(col("doc_id"),
        size(array_distinct(col("fps"))).as("n_fp"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"))
      .orderBy("doc_id")

  test("native winnow equals the HOF formulation on the documents table") {
    val native = SparkEntry.queries("text_fingerprint")(spark, sfDir).collect()
    val ref = hofReference(sfDir).collect()
    assert(native.toSeq === ref.toSeq)
  }

  private def md5HofReference(d: String) =
    Tables.load(spark, d, "documents")
      .where(length(col("text")) >= 11)
      .withColumn("hs", expr(
        "transform(sequence(1, length(text) - 7), i -> " +
          "CAST(conv(substr(md5(CAST(substring(text, i, 8) AS BINARY)), 1, 8), 16, 10) AS BIGINT))"))
      .withColumn("fps", expr(
        "transform(sequence(0, size(hs) - 4), i -> array_min(slice(hs, i + 1, 4)))"))
      .select(col("doc_id"),
        size(array_distinct(col("fps"))).as("n_fp"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"))
      .orderBy("doc_id")

  test("native md5 winnow equals the HOF formulation on the documents table") {
    val native = SparkEntry.queries("text_fingerprint_md5")(spark, sfDir)
      .collect()
    val ref = md5HofReference(sfDir).collect()
    assert(native.toSeq === ref.toSeq)
  }

  test("md5 winnow: multi-byte grams hash their UTF-8 bytes, short is null") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    val df = Seq("the quick brown fox jumps", "héllo wörld, 你好世界你好世界",
      "exactly11ch", "short").toDF("text")
    val got = df.select(expr("graft_md5_winnow(text)").as("w")).collect()
    assert(got(3).isNullAt(0), "sub-threshold text must be null")
    // cross-check one value against the SQL md5 spelling
    val sqlRef = df.where(length(col("text")) >= 11)
      .withColumn("hs", expr(
        "transform(sequence(1, length(text) - 7), i -> " +
          "CAST(conv(substr(md5(CAST(substring(text, i, 8) AS BINARY)), 1, 8), 16, 10) AS BIGINT))"))
      .selectExpr("array_min(transform(sequence(0, size(hs) - 4), i -> array_min(slice(hs, i + 1, 4)))) AS mn")
      .collect().map(_.getLong(0))
    val nativeMin = got.take(3).map(_.getStruct(0).getLong(1))
    assert(nativeMin.toSeq === sqlRef.toSeq)
  }

  test("interpreted eval equals codegen, and multi-byte text is walked by codepoints") {
    import spark.implicits._
    graft.functions.GraftExtensions.register(spark)
    // ASCII, multi-byte (CJK + accents), exactly-11 chars, and sub-threshold
    val df = Seq("the quick brown fox jumps", "héllo wörld, 你好世界你好世界",
      "exactly11ch", "short").toDF("text")
    val q = df.select(col("text"), expr("graft_winnow(text)").as("w"))
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    val cg = q.collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val noCg = q.collect()
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(cg.toSeq === noCg.toSeq)
    val byText = cg.map(r => r.getString(0) -> r.get(1)).toMap
    assert(byText("short") == null, "sub-threshold strings yield null")
    assert(byText("exactly11ch") != null)
    // multi-byte equivalence against the HOF chain on the same mini-df
    val hof = df.where(length(col("text")) >= 11)
      .withColumn("hs", expr(
        "transform(sequence(1, length(text) - 7), i -> xxhash64(substring(text, i, 8)))"))
      .withColumn("fps", expr(
        "transform(sequence(0, size(hs) - 4), i -> array_min(slice(hs, i + 1, 4)))"))
      .select(col("text"), struct(
        size(array_distinct(col("fps"))).as("n_fp"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max")).as("w"))
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    hof.foreach { case (t, w) => assert(byText(t) === w, s"mismatch for '$t'") }
  }
}

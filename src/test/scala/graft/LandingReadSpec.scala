package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.pipeline.LandingRead
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `LandingRead`'s driver-side parquet schema must be the schema Spark's
  * own inference gives the same paths, and every case it does not cover
  * must take Spark's path, with Spark's result or error. */
class LandingReadSpec extends AnyFunSuite {
  import TestSpark._
  import TempDirs.tmp
  import spark.implicits._

  /** The helper decodes a footer itself, and its relation has the schema
    * `spark.read.parquet` infers and reads the same rows. */
  private def sameAsSpark(paths: String*): StructType = {
    assert(LandingRead.footerRead(spark, Map.empty, paths).isDefined,
      s"no footer read for $paths")
    val got = LandingRead.load(spark, "parquet", Map.empty, paths)
    val want = spark.read.parquet(paths: _*)
    assert(got.schema === want.schema)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) === rows(want))
    got.schema
  }

  /** Spark's result, or its error message. */
  private def outcome(df: => DataFrame): Either[String, StructType] =
    try Right(df.schema) catch { case e: AnalysisException => Left(e.getMessage) }

  /** The helper leaves `paths` to Spark's inference: same schema or error. */
  private def sparksPath(path: String, opts: Map[String, String] = Map.empty)
      : Either[String, StructType] = {
    assert(LandingRead.footerRead(spark, opts, Seq(path)).isEmpty,
      s"footer read for $path")
    val got = outcome(LandingRead.load(spark, "parquet", opts, Seq(path)))
    assert(got === outcome(spark.read.options(opts).parquet(path)))
    got
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq

  /** A parquet file written without Spark (no row metadata), zero rows. */
  private def rawParquet(message: String): String = {
    val f = s"${tmp("g_landing_raw_")}/part-0.parquet"
    ExampleParquetWriter.builder(new Path(f))
      .withType(MessageTypeParser.parseMessageType(message))
      .withConf(new Configuration()).build().close()
    f
  }

  test("Spark-written files: row metadata, nullability and field metadata") {
    val dir = tmp("g_landing_spark_")
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    spark.range(40).select(col("id"), ($"id" % 3).as("g", meta),
        concat(lit("s"), $"id".cast("string")).as("s"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val s = sameAsSpark(dir)
    assert(s("g").metadata.getString("comment") === "kept")
    // the single-file path
    sameAsSpark(partFiles(dir).head)
  }

  test("sf0.01 reference tables, not written by Spark, each a single-file path") {
    val tables = new java.io.File(sf0_01).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted
      .filterNot(_.endsWith("events.parquet"))
    assert(tables.length >= 9)
    tables.foreach(t => sameAsSpark(t))
  }

  test("events after Tables.load has set nanos-as-long") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key -> spark.conf.get(key, "false")) {
      Tables.load(spark, sf0_01, "events")
      assert(spark.conf.get(key) === "true")
      sameAsSpark(s"$sf0_01/events.parquet")
    }
  }

  test("nested struct, array, map and decimal columns") {
    val dir = tmp("g_landing_nested_")
    spark.range(10).select(
      struct($"id".as("a"), struct(($"id" * 2).as("c")).as("b")).as("st"),
      array($"id", $"id" + 1).as("arr"),
      map($"id".cast("string"), array(struct($"id".as("x")))).as("m"),
      $"id".cast("decimal(20,4)").as("d"),
      $"id".cast("decimal(7,2)").as("d7"))
      .write.mode("overwrite").parquet(dir)
    val s = sameAsSpark(dir)
    assert(s("d").dataType === DecimalType(20, 4))
  }

  test("footer types follow the session's binary, INT96, NTZ and nanos settings") {
    val raw = rawParquet("message m { optional binary b; optional int96 t; " +
      "optional int64 ntz (TIMESTAMP(MICROS,false)); }")
    def types = sameAsSpark(raw).fields.map(_.dataType).toSeq
    assert(types === Seq(BinaryType, TimestampType, TimestampNTZType))
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assert(types.head === StringType)
    }
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      assert(types.last === TimestampType)
    }
    val nanos = rawParquet(
      "message m { optional int64 ns (TIMESTAMP(NANOS,true)); }")
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assert(sameAsSpark(nanos).head.dataType === LongType)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      assert(sparksPath(nanos).isLeft, "Spark cannot read nanos without the flag")
    }
    withConf("spark.sql.parquet.int96AsTimestamp" -> "false") {
      assert(sparksPath(raw).isLeft, "Spark refuses INT96 as binary")
    }
    // Spark-written INT96 carries its Spark type in the row metadata
    val dir = tmp("g_landing_int96_")
    withConf("spark.sql.parquet.outputTimestampType" -> "INT96") {
      Seq(java.sql.Timestamp.valueOf("2024-01-02 03:04:05")).toDF("ts")
        .write.mode("overwrite").parquet(dir)
    }
    assert(sameAsSpark(dir).head.dataType === TimestampType)
  }

  test("a k=1/ partitioned landing dir keeps Spark's partition column") {
    val dir = tmp("g_landing_part_")
    spark.range(20).select($"id", ($"id" % 2 + 1).cast("int").as("k"))
      .write.mode("overwrite").partitionBy("k").parquet(dir)
    val s = sameAsSpark(dir)
    assert(s.fieldNames.toSeq === Seq("id", "k") && s("k").dataType === IntegerType)
    // a data column that is also a partition column: Spark's path
    val both = tmp("g_landing_overlap_")
    spark.range(4).select($"id", lit("x").as("k"))
      .write.mode("overwrite").parquet(s"$both/k=1")
    assert(sparksPath(both).isRight)
  }

  test("_common_metadata, then _metadata, then the first data file; hidden files skipped") {
    def write(dir: String, df: DataFrame) = df.coalesce(1).write.mode("overwrite").parquet(dir)
    val a = tmp("g_landing_a_"); val b = tmp("g_landing_b_"); val c = tmp("g_landing_c_")
    write(a, Seq((1L, "x")).toDF("id", "s"))
    write(b, Seq((1L, 2.0)).toDF("id", "only_in_b"))
    write(c, Seq((1L, 3)).toDF("id", "only_in_c"))
    def copy(from: String, to: String) =
      Files.copy(Paths.get(partFiles(from).head), Paths.get(to))
    // stray files that sort before the part file and hold another schema
    copy(b, s"$a/.aaa.parquet.crc")
    copy(b, s"$a/_tmp")
    assert(sameAsSpark(a).fieldNames.toSeq === Seq("id", "s"))
    copy(c, s"$a/_metadata")
    assert(sameAsSpark(a).fieldNames.toSeq === Seq("id", "only_in_c"))
    copy(b, s"$a/_common_metadata")
    assert(sameAsSpark(a).fieldNames.toSeq === Seq("id", "only_in_b"))
    // explicit files, as the stream's schema tracking passes them: the
    // first by path decides
    assert(sameAsSpark(partFiles(c).head, partFiles(b).head).fieldNames.toSeq ===
      Seq("id", "only_in_b"))
  }

  test("mergeSchema, globs, _spark_metadata and empty dirs take Spark's path") {
    val dir = tmp("g_landing_merge_")
    Seq((1L, "x")).toDF("id", "s").write.mode("append").parquet(dir)
    Seq((2L, 2.0)).toDF("id", "extra").write.mode("append").parquet(dir)
    val merged = sparksPath(dir, Map("mergeSchema" -> "true"))
    assert(merged.map(_.fieldNames.toSet) === Right(Set("id", "s", "extra")))
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(sparksPath(dir) === merged)
    }
    assert(sparksPath(s"$dir/*.parquet").isRight)
    val empty = tmp("g_landing_empty_")
    val err = sparksPath(empty)
    assert(err.left.exists(_.contains("UNABLE_TO_INFER_SCHEMA")), err)
    assert(sparksPath(s"$empty/missing").isLeft)
    // a missing path beside an existing one: Spark's error, not a read of the rest
    val oneMissing = Seq(dir, s"$empty/missing")
    assert(LandingRead.footerRead(spark, Map.empty, oneMissing).isEmpty)
    assert(outcome(LandingRead.load(spark, "parquet", Map.empty, oneMissing)).isLeft)
    val sink = tmp("g_landing_sink_")
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite").parquet(sink)
    new java.io.File(sink, "_spark_metadata").mkdir()
    sparksPath(sink)
  }

  test("the footer read starts no Spark job; Spark's inference starts one") {
    val dir = tmp("g_landing_jobs_")
    spark.range(10).write.mode("overwrite").parquet(dir)
    assert(jobsOf(LandingRead.load(spark, "parquet", Map.empty, Seq(dir)).schema) === 0)
    assert(jobsOf(spark.read.parquet(dir).schema) === 1)
  }

  test("the footer read lists the landing dir once, as Spark's inference does") {
    val dir = tmp("g_landing_lists_")
    spark.range(10).repartition(3).write.mode("overwrite").parquet(dir)
    val path = s"${CountingFs.scheme}://$dir"
    def lists(df: => DataFrame): Int = {
      CountingFs.lists.set(0)
      df.schema
      CountingFs.lists.get
    }
    withConf(s"fs.${CountingFs.scheme}.impl" -> classOf[CountingFs].getName) {
      assert(lists(spark.read.parquet(path)) === 1)
      assert(lists(LandingRead.load(spark, "parquet", Map.empty, Seq(path))) === 1)
    }
  }
}

/** The local filesystem under its own scheme, counting `listStatus` calls. */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CountingFs.scheme}:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.lists.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingFs {
  val scheme = "graftcount"
  val lists = new AtomicInteger
}

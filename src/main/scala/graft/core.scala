package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator from SURVEY.md §2C.
  *
  * @param key    registry key (one per §2C row)
  * @param fn     builds the operator's result over the testdata dir
  * @param oracle equivalent ANSI SQL runnable by DuckDB over the same
  *               parquet tables (None for non-SQL-expressible / approximate /
  *               hash-seeded / streaming ops — driver records rows-only)
  *
  * ==Driver-boundary determinism protocol==
  * The driver hash-compares pandas frames (Spark parquet vs DuckDB result),
  * so both sides must agree on dtype as well as value:
  *   - '''Wrap every oracle integer `sum(...)` in `CAST(... AS BIGINT)`'''
  *     (window sums included): DuckDB sums integers to HUGEINT, which
  *     pandas widens to float64 while Spark emits int64 — equal values,
  *     mismatched hash (broke 5 round-5 keys).
  *   - '''No Array/Map result columns''': the driver's canonicalizer cannot
  *     hash collection cells — stringify with `array_join`/`to_json`
  *     (broke round-2 `agg_collect_sorted`, round-5 `maintenance_compact`).
  *   - Alias every computed column identically in Spark and SQL; pin a
  *     total ORDER BY (ties broken by a key column).
  * RegistrySpec enforces the no-collection rule; `tools/check.py` flags
  * int-vs-float dtype drift before the driver gate sees it.
  */
final case class Op(
    key: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Table loaders for the driver testdata (see /root/repo/FIXTURES.md §A). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Conditional map-side widening for PER-ROW-HEAVY consumers (csv/xml/
    * json parse, expression batteries): the test tables land as ONE
    * single-row-group parquet file, so the whole map side (and the range-
    * sampling pass an ORDER BY adds) otherwise runs on one core. When the
    * scan yields fewer splits than half the scheduler's parallelism,
    * spread rows with a deterministic hash on `key`; with real multi-file
    * inputs this is a no-op — no exchange added (guide §2,
    * scale-adaptive). Results are unaffected either way. */
  def widen(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions * 2 < par)
      df.repartition(par, df(key))
    else df
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "documents") {
      // The corpus table is where every consumer does heavy PER-ROW work
      // (normalization regex, shingle/token explode, md5 fingerprints) —
      // and the test corpora land as ONE single-row-group parquet file,
      // which caps the whole map side of every text/dedup key at one core
      // no matter the session's parallelism (measured: the raw shingle
      // explode alone was 2.7 s single-threaded at sf0.1).
      widen(spark, parquet(spark, dir, name), "doc_id")
    } else if (name == "events") {
      // events.ts has shipped under two physical schemas: nanosecond int64
      // (which Spark 4 only reads with nanosAsLong) and timestamp[us] with
      // isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Branch on the loaded
      // dtype and normalize every variant to a microsecond session-TZ
      // TimestampType — sessions pin UTC, so wall values match what DuckDB
      // resolves the file to and both engines order/bucket identically.
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      // set before the read: the footer decode follows the session's value
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = parquet(spark, dir, name)
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ =>
          raw
      }
    } else {
      parquet(spark, dir, name)
    }
  }

  /** `spark.read.parquet` of one table, with its schema decoded from the
    * file's footer on the driver ([[graft.pipeline.LandingRead.footerRead]])
    * instead of in Spark's schema-inference job; Spark's reader where that
    * read declines. */
  private def parquet(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    graft.pipeline.LandingRead.footerRead(spark, Map.empty, Seq(path))
      .getOrElse(spark.read.parquet(path))
  }
}

/** Scratch directories under `java.io.tmpdir`, each deleted recursively
  * when the JVM exits. The hook runs through Hadoop's shutdown manager at
  * a priority below Spark's own hook, so the SparkContext (and any stream
  * still writing into a dir) has stopped before the dirs go. */
object TempDirs {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => dirs.forEach(d => org.apache.hadoop.fs.FileUtil.fullyDelete(d)), 20)

  def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs.add(d)
    d.toString
  }
}

package graft.pipeline

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{GraftFooterSchema, ParquetOptions}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** How [[IngestionRunner]] reads landing files: its batch read and its
  * stream's schema tracking both go through [[load]]. `graft.Tables.load`
  * reads every registry table through [[footerRead]]. */
private[graft] object LandingRead {

  /** `spark.read.options(options).format(format).load(paths: _*)`, with
    * `schema` when one is given. Without one, csv infers its column types
    * (`inferSchema`, which json ignores), and parquet takes [[footerRead]]
    * when it applies. */
  def load(spark: SparkSession, format: String, options: Map[String, String],
      paths: Seq[String], schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.options(options)
    def read(r: DataFrameReader) = r.format(format).load(paths: _*)
    (schema, format) match {
      case (Some(s), _) => read(r.schema(s))
      case (None, "parquet") => footerRead(spark, options, paths).getOrElse(read(r))
      case (None, _) => read(r.option("inferSchema", "true"))
    }
  }

  /** The relation `spark.read.options(options).parquet(paths: _*)` would
    * build, with the data schema Spark's inference would give it decoded on
    * the driver from the one footer that inference reads. Spark 4.1 reads
    * that footer in a Spark job of its own, with the whole Hadoop
    * configuration compressed into the job's closure; this read saves that
    * job and nothing else.
    *
    * It takes the reader's steps from `DataSource.resolveRelation`: the
    * same path check (`checkAndGlobPathIfNecessary`), one `InMemoryFileIndex`
    * over the paths (Spark's hidden-file rules; a Spark job when there are
    * more paths or subdirectories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`), its
    * partition schema, and a `HadoopFsRelation` over that index. So the
    * paths are listed once, as in Spark's own inference. The footer is the
    * one `ParquetUtils.inferSchema` touches: among the listed files,
    * `_common_metadata`, else `_metadata`, else the first data file by path.
    * [[GraftFooterSchema]] decodes it with Spark's code and the session's
    * binary-as-string, INT96, timestamp-NTZ and nanos-as-long settings.
    * Nothing is cached: each call lists the paths and reads the footer.
    *
    * None, so that Spark's reader runs its inference and its result or
    * error stays Spark's, when:
    *   - `mergeSchema` is on, as a read option or as
    *     `spark.sql.parquet.mergeSchema`;
    *   - a path is a glob, or a directory with a `_spark_metadata` log;
    *   - a path does not exist, or the listing holds no file;
    *   - the footer schema names a partition column, or a name repeats in
    *     it or in the partition schema;
    *   - the listing or the footer read throws.
    * A None that comes after the listing (no file, a refused footer) leaves
    * the reader to list the paths again, on that path only. */
  def footerRead(spark: SparkSession, options: Map[String, String],
      paths: Seq[String]): Option[DataFrame] =
    try {
      val sqlConf = spark.sessionState.conf
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
      if (new ParquetOptions(options, sqlConf).mergeSchema ||
          paths.exists(_.exists("{}[]*?\\".contains(_))) ||
          FileStreamSink.hasMetadata(paths, hadoopConf, sqlConf)) None
      else {
        val index = new InMemoryFileIndex(spark,
          GraftFooterSchema.roots(paths, hadoopConf), options, None,
          FileStatusCache.getOrCreate(spark))
        val files = index.allFiles().sortBy(_.getPath.toString)
        def named(n: String) = files.find(_.getPath.getName == n)
        val summaries = Set("_common_metadata", "_metadata")
        val partitions = index.partitionSchema.fieldNames.map(_.toLowerCase)
        named("_common_metadata").orElse(named("_metadata"))
          .orElse(files.find(f => !summaries(f.getPath.getName)))
          .map(GraftFooterSchema.read(spark, _, hadoopConf))
          .filterNot(_.fieldNames.exists(n => partitions.contains(n.toLowerCase)))
          .map(s => spark.baseRelationToDataFrame(
            GraftFooterSchema.relation(spark, index, s, options)))
      }
    } catch { case NonFatal(_) => None }
}

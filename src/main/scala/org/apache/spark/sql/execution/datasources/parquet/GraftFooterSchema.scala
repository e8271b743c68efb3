package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{DataSource, FileIndex, HadoopFsRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** The steps of Spark's parquet read whose helpers are private to Spark's
  * packages: the reader's path check, the schema its inference decodes from
  * one file's footer (read in the calling thread), and the relation the
  * reader builds over a listed index. */
object GraftFooterSchema {

  /** `DataSource.resolveRelation`'s path check: each path qualified, and
    * Spark's error for one that does not exist. */
  def roots(paths: Seq[String], hadoopConf: Configuration): Seq[Path] =
    DataSource.checkAndGlobPathIfNecessary(paths, hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = false)

  /** The footer read, the converter's session settings and the decoding of
    * `ParquetFileFormat.mergeSchemasInParallel`. */
  def read(spark: SparkSession, file: FileStatus, hadoopConf: Configuration): StructType = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }

  /** The parquet relation `DataSource.resolveRelation` builds over `index`
    * with `dataSchema`, after its duplicate-name checks. */
  def relation(spark: SparkSession, index: FileIndex, dataSchema: StructType,
      options: Map[String, String]): HadoopFsRelation = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    Seq(dataSchema, index.partitionSchema)
      .foreach(SchemaUtils.checkSchemaColumnNameDuplication(_, caseSensitive))
    HadoopFsRelation(index, index.partitionSchema, dataSchema.asNullable, None,
      new ParquetFileFormat, CaseInsensitiveMap(options))(spark)
  }
}

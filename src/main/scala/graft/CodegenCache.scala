package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Sizes Spark's generated-class cache when a session starts.
  *
  * Spark keeps compiled codegen classes in one LRU cache per JVM. Its
  * capacity (`spark.sql.codegen.cache.maxEntries`, default 100) is read once,
  * when `CodeGenerator` is first initialized, and its key is the pair
  * (context class loader, code). In local mode the driver compiles each
  * whole-stage class to validate it and the task threads compile it again
  * under the executor's loader, so one class takes two entries. The eight
  * `ops-sf1` keys need more than 100, so at the default every pass evicts
  * the classes the next pass needs and Janino compiles them again.
  *
  * [[size]] initializes `CodeGenerator` with [[Entries]] entries. It does
  * nothing when `spark.sql.codegen.cache.maxEntries` is set in the
  * SparkConf, so the user's value wins, and nothing once the JVM has
  * generated code, because the capacity is fixed by then.
  */
object CodegenCache {
  val Entries = 1000

  /** The capacity to set, or None when the conf sets one itself. */
  def entries(conf: SparkConf): Option[Int] =
    if (conf.contains(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key)) None
    else Some(Entries)

  def size(session: SparkSession): Unit =
    entries(session.sparkContext.getConf).foreach { n =>
      val conf = new SQLConf
      conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, n)
      // the object's initializer builds the cache from SQLConf.get
      SQLConf.withExistingConf(conf)(CodeGenerator.getClass)
    }
}

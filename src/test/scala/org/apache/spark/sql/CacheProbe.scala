package org.apache.spark.sql

import org.apache.spark.sql.execution.{CacheManager, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryTableScanExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Which registry keys read each CacheManager entry: an InMemoryTableScan
  * over it in any plan the key executes, build-time actions included.
  *
  * Usage: Test/runMain org.apache.spark.sql.CacheProbe <sfDir> [key1,key2,...|ALL]
  *
  * Runs the keys in harness name order in one session and prints one
  * `PROBE creator=<key> readers=<keys> :: <columns> <plan>` line per entry.
  * `creator` is the key at whose end the entry was first seen (before the
  * key's release); an entry that never outlived a key body reads `?`. In
  * Spark's package for the CacheManager's entry list. */
object CacheProbe extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = graft.Harness.keys(args.lift(1).filter(_ != "ALL"))
    graft.Harness.withSession(keys) { sp =>
      val spark = sp.asInstanceOf[classic.SparkSession]
      val sc = spark.sparkContext
      val cm = spark.sharedState.cacheManager
      val f = classOf[CacheManager].getDeclaredField("cachedData")
      f.setAccessible(true)
      def entries = f.get(cm).asInstanceOf[IndexedSeq[execution.CachedData]]
      val ran = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = ran.add(qe)
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ran.add(qe)
      })
      val label = mutable.LinkedHashMap[CachedRDDBuilder, String]()
      val creator = mutable.Map[CachedRDDBuilder, String]()
      val readers = mutable.Map[CachedRDDBuilder, mutable.LinkedHashSet[String]]()
      def lbl(b: CachedRDDBuilder, out: Seq[String]) =
        label.getOrElseUpdate(b, out.mkString("(", ",", ")") + " " +
          b.cachedPlan.toString.linesIterator.take(3).map(_.trim).mkString(" / ").take(220))
      graft.Harness.run(keys) { k =>
        ran.clear()
        val before = entries.map(_.cachedRepresentation.cacheBuilder).toSet
        try {
          val df = graft.SparkEntry.queries(k)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
        } finally {
          org.apache.spark.GraftBus.drain(sc)
          for (cd <- entries) {
            val b = cd.cachedRepresentation.cacheBuilder
            lbl(b, cd.plan.output.map(_.name))
            if (!before(b) && !creator.contains(b)) creator(b) = k
          }
          ran.forEach { qe =>
            collectWithSubqueries(qe.executedPlan) { case s: InMemoryTableScanExec => s }
              .foreach { s =>
                val b = s.relation.cacheBuilder
                lbl(b, s.relation.output.map(_.name))
                readers.getOrElseUpdate(b, mutable.LinkedHashSet()) += k
              }
          }
          val live = entries.map(_.cachedRepresentation.cacheBuilder).toSet
          println(s"PROBEKEY $k live=${live.size}")
        }
      }
      for ((b, l) <- label) {
        val r = readers.getOrElse(b, mutable.LinkedHashSet())
        println(s"PROBE creator=${creator.getOrElse(b, "?")} readers=${r.mkString(",")} :: $l")
      }
    }
  }
}

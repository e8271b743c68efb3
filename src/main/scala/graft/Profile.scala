package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Optimization-round profiling harness (guide §1: measure first).
  *
  * Usage: runMain graft.Profile <sfDir> <outDir> [key1,key2,...|ALL] [plan]
  *
  * Keys default to SPARK_GRAFT_KEYS, or all of them. For each selected
  * registry key, measures with the noop sink (guide §1.4):
  *   - build_s   — driver-side DataFrame construction (op fn body)
  *   - build_jobs — Spark jobs the op fn body starts (eager work), counted
  *     under a job group of its own after the listener bus drains
  *   - plan_s    — analysis + optimization + physical planning
  *   - exec1_s   — first noop-write materialization (includes codegen)
  *   - exec_jobs — Spark jobs that first execution starts, counted under a
  *     job group of its own the way build_jobs is
  *   - exec_compiles — classes Janino compiles during that first execution
  *     (`CodegenMetrics.METRIC_COMPILATION_TIME` count)
  *   - exec2_s   — second noop-write of the same key, right after the first
  *   - warm_compiles — classes Janino compiles during the second write.
  *     Zero means this key's classes were still cached; keys run back to
  *     back, so eviction by other keys' classes never shows here
  *   - exchanges — Exchange nodes of the plan that ran (`ReusedExchange`
  *     not counted)
  * and writes `<outDir>/<key>.txt` with the `explain("formatted")` output of
  * the first write's executed plan, its adaptive plan final
  * (`isFinalPlan=true`), so plan claims (Exchange count, join strategy,
  * PushedFilters) are on record.
  * Emits one JSON line per key on stdout, prefixed PROFILE so it greps out.
  * The `plan` mode skips both executions and only builds, plans and dumps
  * the key's own plan, before adaptive execution.
  *
  * Measurement-only: never registered in SparkEntry, never run by the
  * driver; it exists so OPTIMIZATION_r18.md numbers are reproducible.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val keys = Harness.keys(args.lift(2).filter(_ != "ALL")
      .orElse(sys.env.get("SPARK_GRAFT_KEYS")))
    val planOnly = args.lift(3).contains("plan")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    Harness.withSession(keys) { spark =>
      val q = SparkEntry.queries
      val sc = spark.sparkContext
      // the query executions of the noop writes, in the order they finish
      val ran = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = ran.add(qe)
        override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      })
      def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Harness.run(keys) { k =>
        val buildGroup = s"profile-build:$k"
        sc.setJobGroup(buildGroup, s"profile:$k", interruptOnCancel = false)
        val t0 = System.nanoTime()
        val df = try q(k)(spark, sfDir) finally sc.clearJobGroup()
        val t1 = System.nanoTime()
        org.apache.spark.GraftBus.drain(sc)
        val buildJobs = sc.statusTracker.getJobIdsForGroup(buildGroup).length
        sc.setJobDescription(s"profile:$k")
        val t1b = System.nanoTime()
        val planned = df.queryExecution.executedPlan // force planning
        val t2 = System.nanoTime()
        ran.clear()
        val c2 = compiles
        val execGroup = s"profile-exec:$k"
        sc.setJobGroup(execGroup, s"profile:$k", interruptOnCancel = false)
        try if (!planOnly) df.write.format("noop").mode("overwrite").save()
        finally sc.clearJobGroup()
        val t3 = System.nanoTime()
        val c3 = compiles
        sc.setJobDescription(s"profile:$k")
        if (!planOnly) df.write.format("noop").mode("overwrite").save()
        val t4 = System.nanoTime()
        val c4 = compiles
        org.apache.spark.GraftBus.drain(sc)
        val execJobs = sc.statusTracker.getJobIdsForGroup(execGroup).length
        val qe = Option(ran.peek()).getOrElse(df.queryExecution)
        val txt = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$k.txt"),
          txt.getBytes("UTF-8"))
        val nEx = Plans.collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
        def s(a: Long, b: Long) = math.round((b - a) / 1e6) / 1e3
        println(s"""PROFILE {"key":"$k","build_s":${s(t0, t1)},""" +
          s""""build_jobs":$buildJobs,"plan_s":${s(t1b, t2)},"exec1_s":${s(t2, t3)},""" +
          s""""exec_jobs":$execJobs,"exec_compiles":${c3 - c2},"exec2_s":${s(t3, t4)},""" +
          s""""warm_compiles":${c4 - c3},"exchanges":$nEx,""" +
          s""""nodes":${planned.collectLeaves().size}}""")
      }
    }
  }

  /** Walks adaptive plans and their query stages. */
  private object Plans extends AdaptiveSparkPlanHelper
}

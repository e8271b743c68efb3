package graft

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
  *   - exec2_s   — second noop-write (warm: codegen cache + file listing hot)
  * and writes `<outDir>/<key>.txt` with the `explain("formatted")` output so
  * plan claims (Exchange count, join strategy, PushedFilters) are on record.
  * Emits one JSON line per key on stdout, prefixed PROFILE so it greps out.
  * The `plan` mode skips both executions and only builds, plans and dumps.
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
        if (!planOnly) df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        if (!planOnly) df.write.format("noop").mode("overwrite").save()
        val t4 = System.nanoTime()
        // formatted explain AFTER execution: with AQE the executedPlan
        // object above is pre-adaptive; the string form still records
        // scan pushdown, join strategy and Exchange placement
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$k.txt"),
          txt.getBytes("UTF-8"))
        val nEx = "Exchange".r.findAllIn(txt).size
        def s(a: Long, b: Long) = math.round((b - a) / 1e6) / 1e3
        println(s"""PROFILE {"key":"$k","build_s":${s(t0, t1)},""" +
          s""""build_jobs":$buildJobs,"plan_s":${s(t1b, t2)},"exec1_s":${s(t2, t3)},""" +
          s""""exec2_s":${s(t3, t4)},"exchanges":$nEx,""" +
          s""""nodes":${planned.collectLeaves().size}}""")
      }
    }
  }
}

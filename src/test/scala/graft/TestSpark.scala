package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (sf0.001 fixtures). */
object TestSpark {
  val sfDir = "/root/testdata/sf0.001"
  /** The sf0.01 reference tables, beside the suite's sf0.001 fixtures. */
  val sf0_01: String = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
  lazy val spark: SparkSession = {
    val cpus = sys.env.getOrElse("GRAFT_TEST_CPUS", "8")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    CodegenCache.size(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark jobs `body` starts, counted under a job group the caller sets,
    * the way a harness runs a key. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    org.apache.spark.GraftBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}

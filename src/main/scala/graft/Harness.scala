package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The one key-running harness behind `Bench`, `Verify`, `Profile` and the
  * scale probes: a session builder, a key selector, a warm-up and a per-key
  * runner. It reads two env vars:
  *   - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default: the
  *     JVM's available processors);
  *   - `SPARK_GRAFT_KEYS`: comma-separated registry keys to run (default:
  *     all of them).
  */
object Harness {

  /** One key's run: the body's value or what it threw, and the seconds the
    * body took (the release of the key's materializations excluded). */
  final case class Outcome[A](key: String, result: Either[Throwable, A], secs: Double)

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def session(logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    CodegenCache.size(spark)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Registry keys sorted by name (per-key timings stay comparable across
    * runs, and the same key always runs first), narrowed by a
    * comma-separated filter. An unknown key in the filter throws, so a typo
    * fails before any key runs instead of silently shrinking the run. */
  def keys(filter: Option[String] = sys.env.get("SPARK_GRAFT_KEYS")): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    filter.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) match {
      case None => all
      case Some(wanted) =>
        val unknown = wanted -- all
        require(unknown.isEmpty,
          s"unknown registry key(s): ${unknown.toSeq.sorted.mkString(",")}")
        all.filter(wanted)
    }
  }

  /** Pays the JVM's one-time costs before the first key so that key does not
    * absorb them: query codegen (~3 s of compiler work on a cold JVM) and,
    * when a stateful stream key is selected, the RocksDB JNI load plus
    * state-store codegen. */
  private def warmUp(spark: SparkSession, keys: Seq[String]): Unit = {
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    if (keys.exists(k => k.startsWith("stream_tws") || k.startsWith("scan_state_store")))
      graft.streaming.StreamOps.warmRocksDb(spark)
  }

  /** Builds a session, warms it for `keys`, runs `f` and stops the session. */
  def withSession[A](keys: Seq[String], logLevel: String = "WARN")(
      f: SparkSession => A): A = {
    val spark = session(logLevel)
    try { warmUp(spark, keys); f(spark) } finally spark.stop()
  }

  private val running = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Runs `body` for each key in order. A key that throws is reported on
    * stderr and the next key still runs. Each key's key-scoped
    * materializations are released after it, outside its timed region;
    * session-scoped ones (`Mats.shared`, `Mats.memo`) stay for later keys.
    *
    * `Mats` keeps one global key-scope queue, so keys must run one at a
    * time: a run started while another is in progress (from another
    * thread, or from inside a running key) throws. */
  def run[A](keys: Seq[String])(body: String => A): Seq[Outcome[A]] = {
    if (!running.compareAndSet(false, true))
      throw new IllegalStateException("a Harness run is already in progress")
    try keys.toVector.map { k =>
      val t0 = System.nanoTime()
      try {
        val result =
          try Right(body(k))
          catch { case e: Throwable =>
            System.err.println(s"[harness] $k failed: ${e.getClass.getName}: ${e.getMessage}")
            Left(e)
          }
        Outcome(k, result, (System.nanoTime() - t0) / 1e9)
      } finally Mats.release()
    } finally running.set(false)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON for the modes' records: Scala maps (`ListMap` keeps field order),
    * seqs, strings and numbers; NaN and infinities become strings. */
  def json(v: Any): String = mapper.writeValueAsString(v)
}

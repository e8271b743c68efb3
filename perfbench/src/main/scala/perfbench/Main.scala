package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark process: builds the session, runs one cold pass, one
  * discarded warm-up pass that also writes every output for checking, then
  * warm passes for the requested seconds, and writes all raw figures as
  * JSON for `perfbench/run.py` to check and summarise.
  *
  * Arguments are `key=value` pairs: workload (ops|ingest), data, keys,
  * landing, run, out, seconds, trace, launch_ms, deadline_ms, attempt.
  * A cold pass above its steal bound ends the process early so that run.py
  * can relaunch it. Passes that would end after `deadline_ms` are not
  * started, so that a run on a slow host still reports.
  */
object Main {

  // Host steal share above which a pass is not trusted. Measured on a
  // 4-core host, wall time grows with it: a warm `ops-sf1` pass took 5.4 s
  // at 0.4% steal and 8.5 s at 17%; its cold pass 11.2 s at 0.6% and 16.6 s
  // at 9%.
  val ColdStealBound = 0.15
  val WarmStealBound = 0.03
  val MaxAttempts = 2 // cold passes (JVM launches) per run
  val MaxReruns = 1 // extra warm passes run to replace stolen ones
  val MinPasses = 2 // warm passes kept per run, at least

  /** Aggregate CPU jiffies from /proc/stat: (all columns, steal column). */
  final case class HostCpu(total: Long, steal: Long)

  def hostCpu(): HostCpu =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal; guest is in user
      HostCpu(f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => HostCpu(0L, 0L) }

  /** Process-wide JVM readings. */
  final case class Jvm(jitMs: Long, gcMs: Long, cpuNs: Long)

  def jvm(): Jvm = Jvm(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum,
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime)

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** One operation of a pass: its name, wall time, and whatever it
    * returned (a row count for ingest) or the error it threw. */
  final case class OpRec(name: String, kind: String, wallS: Double,
      value: Option[Long], error: Option[String], layers: Map[String, Double],
      startMs: Long, endMs: Long)

  final case class PassRec(kind: String, wallS: Double, counts: Counts,
      skew: Double, idleCoreS: Double, stealShare: Double, stealS: Double,
      gcS: Double, driverCpuS: Double, ops: Seq[OpRec],
      facts: Map[String, Double], rerun: Boolean)

  /** What a workload does per pass. `kind` is cold, check or warm; `trace`
    * turns on the per-layer probes. */
  trait Workload {
    def runPass(index: Int, kind: String, trace: Boolean): Seq[OpRec]
    /** Untimed work after a pass (cleanup); returns facts about the pass. */
    def afterPass(index: Int, kind: String): Map[String, Double] = Map.empty
    /** Facts about the checked pass's outputs, for run.py. */
    def outputs: Map[String, Any] = Map.empty
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val run = a("run")
    val trace = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.local.dir", s"$run/local")
      .config(graft.pipeline.Versioned.StageRootConf, s"$run/stage")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.setCheckpointDir(s"$run/checkpoint")
    val setupS = (System.currentTimeMillis() - a("launch_ms").toLong) / 1e3

    val meter = new Meter
    sc.addSparkListener(meter)
    val workload: Workload = a("workload") match {
      case "ops" =>
        new OpsWorkload(spark, meter, a("data"), a("keys").split(",").toSeq,
          s"$run/outputs")
      case "ingest" =>
        new IngestWorkload(spark, meter, a("landing"), run)
    }

    def pass(index: Int, kind: String): PassRec = {
      PerfbenchBus.drain(sc)
      val c0 = meter.counts
      val mark = meter.taskMark
      val h0 = hostCpu()
      val j0 = jvm()
      val t0 = System.nanoTime()
      val ops = workload.runPass(index, kind, trace)
      val wall = (System.nanoTime() - t0) / 1e9
      val j1 = jvm()
      val h1 = hostCpu()
      PerfbenchBus.drain(sc)
      val d = meter.counts - c0
      val durs = meter.durationsSince(mark).sorted
      // an operation's idle time: its wall time with no Spark job running
      val timedOps = ops.map(o => o.copy(layers = o.layers +
        ("idle_s" -> (o.wallS - meter.busyMs(o.startMs, o.endMs) / 1e3))))
      val skew =
        if (durs.isEmpty) 0.0
        else durs.last.toDouble / math.max(1L, durs(durs.size / 2))
      val dt = (h1.total - h0.total).toDouble
      PassRec(kind, wall, d, skew,
        idleCoreS = wall * cores - d.taskRunMs / 1e3,
        stealShare = if (dt > 0) (h1.steal - h0.steal) / dt else 0.0,
        stealS = (h1.steal - h0.steal) / 100.0,
        gcS = (j1.gcMs - j0.gcMs) / 1e3,
        driverCpuS = (j1.cpuNs - j0.cpuNs - d.taskCpuNs) / 1e9,
        ops = timedOps, facts = workload.afterPass(index, kind), rerun = false)
    }

    val cold = pass(0, "cold")
    val jitS = jvm().jitMs / 1e3
    val attempt = a("attempt").toInt
    val launchMs = a("launch_ms").toLong
    val deadlineMs = a("deadline_ms").toLong
    val now = System.currentTimeMillis()
    // A second launch repeats set-up and the cold pass, then adds the check
    // and warm passes: about 2.3 times what this one took so far.
    val relaunch = cold.stealShare > ColdStealBound &&
      attempt < MaxAttempts && (now - launchMs) * 3 < deadlineMs - now
    val passes = scala.collection.mutable.ArrayBuffer(cold)
    if (!relaunch) {
      passes += pass(1, "check")
      // Warm passes run for at least `seconds` and until `MinPasses` of
      // them stayed under the steal bound, re-running at most `MaxReruns`
      // stolen ones, as long as one more pass, half again as long as the
      // last, ends before the deadline. The kept passes are the quiet ones,
      // or, if too few were quiet, the `MinPasses` least stolen; the others
      // are marked re-runs.
      val seconds = a("seconds").toDouble
      val warm = scala.collection.mutable.ArrayBuffer.empty[PassRec]
      val t0 = System.nanoTime()
      def quiet = warm.count(_.stealShare <= WarmStealBound)
      def fits = System.currentTimeMillis() +
        1500 * (warm.lastOption.getOrElse(passes.last).wallS) < deadlineMs
      while ((warm.size < MinPasses ||
          (quiet < MinPasses && warm.size < MinPasses + MaxReruns) ||
          (System.nanoTime() - t0) / 1e9 < seconds) && (warm.isEmpty || fits))
        warm += pass(passes.size + warm.size, "warm")
      val kept =
        if (quiet >= MinPasses) warm.filter(_.stealShare <= WarmStealBound)
        else warm.sortBy(_.stealShare).take(MinPasses)
      passes ++= warm.map(p => p.copy(rerun = !kept.exists(_ eq p)))
    }

    val result = Map(
      "setup_s" -> setupS,
      "cores" -> cores,
      "attempt" -> attempt,
      "relaunch" -> relaunch,
      "jit_s" -> jitS,
      "heap_peak_mb" -> heapPeakMb(),
      "passes" -> passes.map(passJson).toSeq,
      "outputs" -> (if (relaunch) Map.empty else workload.outputs))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(result))
    spark.stop()
  }

  def passJson(p: PassRec): Map[String, Any] = Map(
    "kind" -> p.kind, "wall_s" -> p.wallS, "rerun" -> p.rerun,
    "steal_share" -> p.stealShare, "steal_s" -> p.stealS,
    "task_cpu_s" -> p.counts.taskCpuNs / 1e9,
    "task_run_s" -> p.counts.taskRunMs / 1e3,
    "idle_core_s" -> p.idleCoreS, "skew" -> p.skew,
    "gc_s" -> p.gcS, "driver_cpu_s" -> p.driverCpuS,
    "jobs" -> p.counts.jobs, "stages" -> p.counts.stages,
    "tasks" -> p.counts.tasks,
    "scan_records" -> p.counts.scanRecords,
    "scan_bytes" -> p.counts.scanBytes,
    "shuffle_write_records" -> p.counts.shuffleWriteRecords,
    "shuffle_read_records" -> p.counts.shuffleReadRecords,
    "shuffle_write_bytes" -> p.counts.shuffleWriteBytes,
    "spill_bytes" -> p.counts.spillBytes,
    "records_written" -> p.counts.recordsWritten,
    "facts" -> p.facts,
    "ops" -> p.ops.map(o => Map(
      "name" -> o.name, "kind" -> o.kind, "wall_s" -> o.wallS,
      "value" -> o.value, "error" -> o.error, "layers" -> o.layers)))
}

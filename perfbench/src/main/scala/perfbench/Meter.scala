package perfbench

import org.apache.spark.scheduler._

/** Totals of everything the scheduler reports, as one immutable snapshot.
  * A pass or phase is charged `after - before`. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0,
    scanRecords: Long = 0, scanBytes: Long = 0,
    shuffleWriteRecords: Long = 0, shuffleReadRecords: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    recordsWritten: Long = 0) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    scanRecords - o.scanRecords, scanBytes - o.scanBytes,
    shuffleWriteRecords - o.shuffleWriteRecords,
    shuffleReadRecords - o.shuffleReadRecords,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    recordsWritten - o.recordsWritten)
}

/** The benchmark's own listener: running totals, every task's duration
  * (for skew) and every job's [start, end] interval (for idle time).
  * Callers drain the bus (`PerfbenchBus.drain`) before reading. */
final class Meter extends SparkListener {
  private var c = Counts()
  private val durations = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    jobStart(j.jobId) = j.time
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(j.jobId).foreach(s => intervals += ((s, j.time)))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    durations += e.taskInfo.duration
    if (m != null) {
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      c = c.copy(
        tasks = c.tasks + 1,
        taskRunMs = c.taskRunMs + m.executorRunTime,
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        scanRecords = c.scanRecords + m.inputMetrics.recordsRead,
        scanBytes = c.scanBytes + m.inputMetrics.bytesRead,
        shuffleWriteRecords = c.shuffleWriteRecords + sw.recordsWritten,
        shuffleReadRecords = c.shuffleReadRecords + sr.recordsRead,
        shuffleWriteBytes = c.shuffleWriteBytes + sw.bytesWritten,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        recordsWritten = c.recordsWritten + m.outputMetrics.recordsWritten)
    } else c = c.copy(tasks = c.tasks + 1)
  }

  def counts: Counts = synchronized(c)

  /** Task durations recorded since `from` (an index from `taskMark`). */
  def taskMark: Int = synchronized(durations.size)
  def durationsSince(from: Int): Seq[Long] =
    synchronized(durations.slice(from, durations.size).toList)

  /** Milliseconds of [t0, t1] (epoch ms) during which at least one job ran. */
  def busyMs(t0: Long, t1: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s >= end) { busy += e - s; end = e }
      else if (e > end) { busy += e - end; end = e }
    }
    busy
  }
}

package org.apache.spark

/** The listener bus drains asynchronously; the benchmark reads its listener
  * only after every event posted so far has been delivered, so each pass and
  * phase is charged exactly the tasks and jobs it ran. `waitUntilEmpty` is
  * Spark-internal, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The listener bus delivers events asynchronously; code that reads the
  * status store (jobs per group) first waits until every event posted so far
  * has been delivered. `waitUntilEmpty` is Spark-internal, hence this bridge
  * in Spark's package. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

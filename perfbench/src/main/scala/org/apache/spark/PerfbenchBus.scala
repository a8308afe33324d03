package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * harness reads complete job and stage counters after an action. The
  * listener bus is package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark: specs that count jobs
  * with a listener drain it first, so every job event has been
  * delivered before the count is read. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

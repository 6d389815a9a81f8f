package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this one-line bridge lets the
  * benchmark wait until every queued job/task event has been delivered
  * before it reads its listener's totals. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

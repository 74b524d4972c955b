package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so that
  * counters read after an op include all of that op's jobs and tasks.
  * Lives under `org.apache.spark` because the bus is package-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

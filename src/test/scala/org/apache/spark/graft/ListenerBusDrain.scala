package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * count read after an action includes all of that action's jobs.
  * Lives under `org.apache.spark` because the bus is package-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

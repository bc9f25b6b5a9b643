package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * listener's counters cover all jobs started so far. */
object ListenerSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so the
  * ledger's counters are complete when a span's numbers are read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

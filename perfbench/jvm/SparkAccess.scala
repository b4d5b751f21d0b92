package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one package-private Spark call the harness needs: waiting until
  * every queued listener event has been delivered, so per-query counters
  * are complete before the next query starts and queued events no longer
  * hold memory when the retained heap is read. */
object SparkAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

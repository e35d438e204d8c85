package org.apache.spark

/** Reaches the one package-private call the traced run needs. */
object PerfbenchShim {
  /** Blocks until every queued listener event has been delivered, so the
    * counters are complete before they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

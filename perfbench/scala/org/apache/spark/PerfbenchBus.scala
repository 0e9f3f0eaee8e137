package org.apache.spark

/** Access to the package-private listener bus, so the benchmark can
  * wait until every posted event has reached its listeners before it
  * reads their counters (instead of sleeping and hoping).
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

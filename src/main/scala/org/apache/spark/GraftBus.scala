package org.apache.spark

/** Access to the package-private listener bus, so a caller can wait
  * until every posted event has reached its listeners before reading
  * what they collected (instead of sleeping and hoping). SQL execution
  * listeners hang off the same bus, so draining it flushes them too.
  */
object GraftBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

package org.apache.spark

/** The listener bus is `private[spark]`; the traced run drains it before
  * reading what its listeners recorded, so no event is still in flight. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

package org.apache.spark

/** The listener bus is asynchronous; the traced run drains it before it
  * reads what its listener saw. `listenerBus` is package-private. */
object UserbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

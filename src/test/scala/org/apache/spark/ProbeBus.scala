package org.apache.spark

/** `listenerBus` is package-private; the probe harness drains it here so
  * its listener has seen every event of an action that returned. */
object ProbeBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's counts can be read right after an action
  * ([[graft.QueryMetrics]]). The bus is package-private to Spark, so this
  * one call lives in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

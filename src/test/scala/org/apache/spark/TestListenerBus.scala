package org.apache.spark

/** Test access to Spark's private listener bus: waits until every
  * posted event has been delivered, so listener counts read afterwards
  * are complete. */
object TestListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

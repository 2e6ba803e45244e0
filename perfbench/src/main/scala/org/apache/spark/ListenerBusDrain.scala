package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read afterwards are complete. The bus is private to Spark,
  * hence this object lives in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run reads complete job, stage and task records. The bus is
  * package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

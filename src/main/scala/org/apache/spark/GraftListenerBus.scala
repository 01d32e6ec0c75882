package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * `graft.Profile` reads complete job, stage and task records. The bus
  * is package-private to Spark, hence this one-line bridge. */
object GraftListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

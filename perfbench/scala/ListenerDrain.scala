package org.apache.spark

/** Blocks until Spark's listener bus has delivered every posted event, so
  * counters filled by listeners are complete before they are read. The bus
  * is private to Spark, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

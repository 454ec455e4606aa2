package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read at a span boundary include all work started before it.
  * The bus is internal to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

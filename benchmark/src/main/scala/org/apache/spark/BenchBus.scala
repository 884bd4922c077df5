package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so the
  * benchmark's listener has seen all task ends of the calls it just timed.
  * The bus is package-private to Spark, hence this one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so a
  * pass's task metrics are complete when the pass is read. The bus is
  * package-private to Spark, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * queued event, so listener counters read after an action include that
  * action's tasks. The bus is package-private to Spark, hence this file's
  * package. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}

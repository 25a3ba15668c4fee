package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark drains it before
  * reading its listeners' counters, so no event of a finished call is
  * still queued. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

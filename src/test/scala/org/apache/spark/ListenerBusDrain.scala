package org.apache.spark

/** Test access to the `private[spark]` listener bus: listener events are
  * delivered asynchronously, so a count read before the bus drains can
  * miss the last events. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

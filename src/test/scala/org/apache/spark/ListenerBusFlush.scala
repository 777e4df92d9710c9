package org.apache.spark

/** Test seam into Spark's private[spark] listener bus: block until
  * every posted event has reached the listeners, so a listener-based
  * count read right after an action is complete.
  */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

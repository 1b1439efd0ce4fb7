package org.apache.spark

/** Drains the (private[spark]) listener bus, so a caller reads
  * listener-observed state only after every event posted so far has
  * been delivered. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

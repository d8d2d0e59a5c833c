package org.apache.spark

/** Test access to the `private[spark]` listener bus: waits until every
  * event posted so far has reached the listeners.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}

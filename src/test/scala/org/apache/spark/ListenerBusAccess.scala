package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far has reached the listeners.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Test-only accessor for the listener bus (private[spark]): blocks until
  * every posted event has reached the listeners, so a count a listener
  * keeps is complete when the test reads it.
  */
object GraftListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

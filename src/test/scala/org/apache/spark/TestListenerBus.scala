package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * spec can read a listener's counts right after an action. The listener
  * bus is `private[spark]`, hence this package.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

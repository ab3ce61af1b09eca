package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * The listener bus is `private[spark]`, hence this package. Listener
  * totals are read only after a drain, so a trace never misses the tail
  * of a job's task events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

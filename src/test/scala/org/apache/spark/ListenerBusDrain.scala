package org.apache.spark

/** Test access to the context's listener bus, which is private to Spark:
  * `drain` returns once every event posted so far has been delivered, so a
  * test listener's counts are complete when it reads them. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

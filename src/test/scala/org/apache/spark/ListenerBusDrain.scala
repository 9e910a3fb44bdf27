package org.apache.spark

/** Test access to the driver's package-private listener bus: a listener's
  * counts are complete once every event posted so far is delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

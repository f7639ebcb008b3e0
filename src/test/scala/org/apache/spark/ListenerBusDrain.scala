package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's listener has seen the jobs it counts (the bus is private to
  * Spark's package). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Waits until every queued listener event is delivered, so counters
  * read after an action include all of its task-end events. The bus is
  * package-private, hence this one-line bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

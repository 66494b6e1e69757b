package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run's listeners have seen all of a phase before it is summarised
  * (the wait is package-private in Spark). */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

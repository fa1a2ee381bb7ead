package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's tallies are complete before they are read. The bus is
  * private to Spark, hence this object's package. */
object DrainBus {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

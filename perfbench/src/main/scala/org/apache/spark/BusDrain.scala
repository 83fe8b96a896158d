package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so counters read after a unit of work include all of that unit's
  * events. The bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

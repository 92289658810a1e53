package org.apache.spark

/** Drains the listener bus before counters are read. The bus is
  * private to Spark, so this accessor lives in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Drains the listener bus so every event of a finished op has reached the
  * harness's listeners before it reads their counters. The bus is
  * Spark-internal, hence this accessor in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Drains the listener bus so every task-end event of a finished action has
  * reached the benchmark's listener before its counters are read. The bus is
  * package-private to Spark, hence this one-method shim in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

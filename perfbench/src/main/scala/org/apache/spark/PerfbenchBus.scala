package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * counter read after an action sees all of that action's tasks. The bus is
  * private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

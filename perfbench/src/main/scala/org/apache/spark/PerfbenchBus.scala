package org.apache.spark

/** Waits until every listener has seen every posted event, so a traced run
  * reads complete records. The bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

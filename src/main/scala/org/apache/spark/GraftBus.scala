package org.apache.spark

/** Waits until every listener has seen every posted event, so a measured
  * run reads its complete stage record. The bus is package-private to Spark. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

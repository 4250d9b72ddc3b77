package org.apache.spark

/** Blocks until every listener-bus queue has delivered its events, so
  * counters read right after a query include all of that query's events.
  * The bus is private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

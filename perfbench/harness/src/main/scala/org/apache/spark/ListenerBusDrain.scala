package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * counters read after a call include all of that call's jobs. The bus is
  * package-private to Spark, hence this one-line bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

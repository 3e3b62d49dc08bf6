package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so counters read right after an action include all of its tasks.
  * The bus is private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

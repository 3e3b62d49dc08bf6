package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so a listener read right after an action has seen all of its jobs.
  * The bus is private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

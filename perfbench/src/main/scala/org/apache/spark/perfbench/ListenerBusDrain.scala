package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus of a SparkContext.
  *
  * Spark delivers job, stage, task and SQL-execution events to listeners
  * on its own threads. Blocking until the bus is empty between queries
  * charges every event to the query that caused it, without sleeping.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to a SparkContext's package-private listener bus.
  *
  * Listeners (job, stage and SQL-execution events, and the
  * QueryExecutionListeners they feed) run on the bus's own threads, after
  * the action that posted the event has returned. Draining the bus is the
  * event-driven way to wait until every listener has seen what the
  * caller's actions posted.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

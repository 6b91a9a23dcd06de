package graft

import org.apache.spark.sql.DataFrame

/** Releases a `localCheckpoint` spool before `Harness.hygiene` would.
  * `Dataset.unpersist` does not: the blocks belong to the RDD under the
  * checkpoint's `LogicalRDD`, not to a cached plan. */
private[graft] object Spool {
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}

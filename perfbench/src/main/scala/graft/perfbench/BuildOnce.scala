package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.operators

/** graft.Bench's build-once derived data, copied step for step and in
  * its order. It lives in a `graft` package because
  * `Dedup.ensureSpanState` is package-private.
  */
object BuildOnce {
  val steps: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "Partitioned.ordersByMonth" -> ((s, d) => operators.Partitioned.ordersByMonth(s, d)),
    "Partitioned.ordersByRegionMonth" -> ((s, d) => operators.Partitioned.ordersByRegionMonth(s, d)),
    "Partitioned.monthDimTable" -> ((s, d) => operators.Partitioned.monthDimTable(s, d)),
    "Bucketed.ensure" -> ((s, d) => operators.Bucketed.ensure(s, d)),
    "Stats.ensure" -> ((s, d) => operators.Stats.ensure(s, d)),
    "EntityResolution.ensureBaseState" -> ((s, d) => operators.EntityResolution.ensureBaseState(s, d)),
    "Dedup.ensureSpanState(base)" -> ((s, d) => operators.Dedup.ensureSpanState(s, d, baseSlice = true)),
    "Dedup.ensureSpanState(full)" -> ((s, d) => operators.Dedup.ensureSpanState(s, d, baseSlice = false)),
  )
}

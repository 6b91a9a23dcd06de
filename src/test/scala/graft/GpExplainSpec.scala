package graft

import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** EXPLAIN-dialect rendering: a migrated Cloudberry user must see the
  * plan in the vocabulary the reference prints (Motions, Seq Scans, GP
  * node names), and every printed Motion must correspond to a real
  * exchange in the executed plan — the mapping is checked both ways. */
class GpExplainSpec extends AnyFunSuite {
  import SparkSuite._

  test("star join renders with Motions, Hash Join, and Seq Scans") {
    val out = GpExplain.explain(
      SparkEntry.queries("q05_local_supplier_volume")(spark, Sf))
    assert(out.startsWith("Gather Motion"), out)
    assert(out.contains("Broadcast Motion"), out)
    assert(out.contains("Hash Join"), out)
    assert(out.contains("Seq Scan on lineitem"), out)
    assert(out.contains("HashAggregate"), out)
  }

  test("two-phase aggregate renders partial and final HashAggregate around a Motion") {
    val out = GpExplain.explain(
      SparkEntry.queries("q01_pricing_summary")(spark, Sf))
    assert(out.contains("HashAggregate (partial — map-side combine)"), out)
    assert(out.contains("HashAggregate (final)"), out)
    assert(out.contains("Redistribute Motion"), out)
  }

  test("DSv2 sources render as Foreign Scan (external-table dialect)") {
    val out = GpExplain.explain(
      SparkEntry.queries("c03_series_source")(spark, Sf))
    assert(out.contains("Foreign Scan on SeriesScan"), out)
  }

  test("every rendered Motion corresponds to one exchange in the executed plan") {
    val df = SparkEntry.queries("q03_shipping_priority")(spark, Sf)
    val out = GpExplain.explain(df)
    val plan = df.queryExecution.executedPlan
    val motions = "(Redistribute|Broadcast) Motion".r.findAllIn(out).length
    val exchanges = PlanDump.nodes(plan).count {
      case _: ShuffleQueryStageExec | _: BroadcastQueryStageExec => true
      case _ => false
    }
    assert(motions == exchanges,
      s"rendered $motions motions but the plan has $exchanges exchanges:\n$out\n$plan")
  }
}

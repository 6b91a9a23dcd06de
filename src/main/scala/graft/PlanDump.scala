package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Executed-plan FINGERPRINT dump — the plan-regression detector the
  * r16 verdict asked for (next-round #5a): PlanShapeSpec pins ~40
  * hand-chosen shapes, but a silent AQE strategy flip on any OTHER
  * query (the ds16 class: a lineitem-derived side slipping under the
  * broadcast threshold) only surfaced as a bench anomaly hunted by
  * hand. This dump records, for EVERY SparkEntry query, the counts of
  * the scale-relevant physical nodes — shuffle/broadcast exchanges,
  * join algorithms WITH their join types, aggregates, sorts, windows,
  * expands, generates, scans-with-pushed-filters — so a plan change
  * between rounds is a one-line `scripts/plan_diff.py` diff instead of
  * a bench hunt. Runs at sf0.001 (plans there are deterministic given
  * code + data; the bench-SF plan can differ by AQE thresholds, which
  * is fine — the diff tracks drift, not absolutes).
  *
  * Usage: runMain graft.PlanDump [sfDir=/root/testdata/sf0.001] [out=PLANS_sf0.001.json]
  */
object PlanDump {

  /** Join types print ExistenceJoin's witness attribute WITH its
    * expression id (`ExistenceJoin(exists#18091)`) — strip ids so the
    * fingerprint is stable across sessions. */
  private def jt(t: org.apache.spark.sql.catalyst.plans.JoinType): String =
    t.toString.replaceAll("#\\d+", "")

  /** Count scale-relevant node kinds in a FINAL (post-AQE) plan tree.
    * Keys are stable strings so the JSON diffs cleanly. */
  def fingerprint(root: SparkPlan): Map[String, Int] = {
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan): Unit = {
      val key: Option[String] = p match {
        case _: QueryStageExec | _: WholeStageCodegenExec | _: InputAdapter => None
        case s: ShuffleExchangeExec =>
          Some(s"exchange.shuffle.${s.outputPartitioning.getClass.getSimpleName}")
        case _: BroadcastExchangeExec => Some("exchange.broadcast")
        case _: ReusedExchangeExec => Some("exchange.reused")
        case j: BroadcastHashJoinExec => Some(s"join.broadcast_hash.${jt(j.joinType)}")
        case j: ShuffledHashJoinExec => Some(s"join.shuffled_hash.${jt(j.joinType)}")
        case j: SortMergeJoinExec => Some(s"join.sort_merge.${jt(j.joinType)}")
        case j: BroadcastNestedLoopJoinExec => Some(s"join.bnl.${jt(j.joinType)}")
        case _: CartesianProductExec => Some("join.cartesian")
        case _: HashAggregateExec => Some("agg.hash")
        case _: ObjectHashAggregateExec => Some("agg.object_hash")
        case _: SortAggregateExec => Some("agg.sort")
        case _: SortExec => Some("sort")
        case _: TakeOrderedAndProjectExec => Some("limit.take_ordered")
        case _: WindowExec => Some("window")
        case _: WindowGroupLimitExec => Some("window.group_limit")
        case _: ExpandExec => Some("expand")
        case _: GenerateExec => Some("generate")
        case _: UnionExec => Some("union")
        case _: LocalTableScanExec | _: RDDScanExec => Some("scan.local")
        case s: FileSourceScanExec =>
          Some(if (s.dataFilters.nonEmpty) "scan.file.filtered" else "scan.file")
        case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Some("scan.v2")
        case _ => None
      }
      key.foreach(k => counts(k) += 1)
      val kids = p match {
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq.empty[SparkPlan] // counted, not descended: shared subtree fingerprints once
        case w: WholeStageCodegenExec => Seq(w.child)
        case i: InputAdapter => Seq(i.child)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      kids.foreach(walk)
      // scalar/IN subquery plans hang off expressions, not children
      p.expressions.foreach(_.foreach {
        case sub: org.apache.spark.sql.execution.ScalarSubquery => walk(sub.plan)
        case sub: org.apache.spark.sql.execution.InSubqueryExec => walk(sub.plan)
        case _ =>
      })
    }
    walk(root)
    counts.toMap
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS_sf0.001.json"
    // optional comma-separated subset for quick re-checks of named rows
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    // same build-once DDL the bench runs outside its timed loop
    Harness.prepare(spark, dir)
    val sb = new StringBuilder("{\n  \"sf\": \"").append(dir).append("\",\n  \"queries\": {\n")
    var first = true
    var nFailed = 0
    for (n <- SparkEntry.queries.keys.toSeq.sorted
           if subset.forall(_.contains(n))) {
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        df.queryExecution.toRdd.count() // settle AQE
        val fp = fingerprint(df.queryExecution.executedPlan)
        if (!first) sb.append(",\n")
        first = false
        sb.append(s"""    "$n": {""")
        sb.append(fp.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k": $v""" }.mkString(", "))
        sb.append("}")
      } catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage.take(120)}")
      } finally Harness.hygiene(spark) // no query plans under another's state
    }
    sb.append("\n  }\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    val nRun = subset.map(s => SparkEntry.queries.keys.count(s.contains))
      .getOrElse(SparkEntry.queries.size)
    println(s"[plandump] wrote $out (${nRun - nFailed} queries, $nFailed failed)")
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}

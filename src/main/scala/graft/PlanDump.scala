package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Executed-plan nodes, and the FINGERPRINT dump built on them.
  *
  * `nodes` is the one plan walker: the plan specs (PlanShapeSpec,
  * KernelFilterSpec, BindExpensiveFilterSpec) assert predicates over
  * the nodes it returns, and `fingerprint` counts the scale-relevant
  * ones — shuffle/broadcast exchanges, join algorithms WITH their join
  * types, aggregates, sorts, windows, expands, generates,
  * scans-with-pushed-filters — for EVERY SparkEntry query, so a plan
  * change between rounds (a silent AQE broadcast flip, the ds16 class)
  * is a one-line `scripts/plan_diff.py` diff instead of a bench hunt.
  * Runs at sf0.001 (plans there are deterministic given code + data;
  * the bench-SF plan can differ by AQE thresholds, which is fine — the
  * diff tracks drift, not absolutes).
  *
  * Usage: runMain graft.PlanDump [sfDir=/root/testdata/sf0.001] [out=PLANS_sf0.001.json]
  */
object PlanDump {

  /** Every node of a FINAL (post-AQE) plan, root first: descends into
    * adaptive plans, query stages and the scalar/IN subquery plans that
    * hang off expressions. A ReusedExchange is a leaf — the subtree it
    * shares is walked once, where it is defined. */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val kids = root match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children
    }
    val subqueries = root.expressions.flatMap(_.collect {
      case sub: org.apache.spark.sql.execution.ScalarSubquery => sub.plan
      case sub: org.apache.spark.sql.execution.InSubqueryExec => sub.plan
    })
    root +: (kids ++ subqueries).flatMap(nodes)
  }

  /** Join types print ExistenceJoin's witness attribute WITH its
    * expression id (`ExistenceJoin(exists#18091)`) — strip ids so the
    * fingerprint is stable across sessions. */
  private def jt(t: org.apache.spark.sql.catalyst.plans.JoinType): String =
    t.toString.replaceAll("#\\d+", "")

  /** The fingerprint key of a scale-relevant node; stable strings so the
    * JSON diffs cleanly. */
  private def key(p: SparkPlan): Option[String] = p match {
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
    // native WITH RECURSIVE: the loop plans its anchor and recursion
    // per level at run time, so only the loop itself is counted
    case _: UnionLoopExec => Some("union_loop")
    case _: LocalTableScanExec | _: RDDScanExec => Some("scan.local")
    case s: FileSourceScanExec =>
      Some(if (s.dataFilters.nonEmpty) "scan.file.filtered" else "scan.file")
    case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
      Some("scan.v2")
    // AQE replaced a subtree it proved empty (a join with an empty side,
    // an anti join against a non-empty broadcast): the subtree's joins
    // and exchanges are gone from the plan, so count that they went
    case _: EmptyRelationExec => Some("empty_relation")
    case _ => None
  }

  /** Count scale-relevant node kinds in a FINAL (post-AQE) plan tree. */
  def fingerprint(root: SparkPlan): Map[String, Int] =
    nodes(root).flatMap(key).groupBy(identity).map { case (k, ks) => k -> ks.size }

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
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => subset.forall(_.contains(n)))
    val rows = names.flatMap { n =>
      Harness.run(spark, dir, n, { df =>
        Harness.execute(df) // settle AQE
        fingerprint(df.queryExecution.executedPlan)
      }).result.toOption.map { fp =>
        s"""    "$n": {""" + fp.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString(", ") + "}"
      }
    }
    val nFailed = names.size - rows.size
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      s"""{\n  "sf": "$dir",\n  "queries": {\n${rows.mkString(",\n")}\n  }\n}\n""".getBytes("UTF-8"))
    println(s"[plandump] wrote $out (${rows.size} queries, $nFailed failed)")
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}

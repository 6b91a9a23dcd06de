package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession, sources}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Partial}
import org.apache.spark.sql.catalyst.plans.{JoinType, LeftAnti, LeftSemi, QueryPlan}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Shared test SparkSession (one per forked test JVM) + helpers.
  * Mirrors the reference's regress fixture setup
  * (`src/test/regress/greenplum_schedule`): every suite runs against the
  * same catalog of base tables, here the sf0.001 parquet set.
  */
object SparkSuite {
  val Sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = Harness.session("8")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Execute the query, then walk its FINAL adaptive plan (AQE only
    * settles join strategies after execution). */
  def shape(df: DataFrame): Shape = {
    df.collect()
    new Shape(df.queryExecution.executedPlan)
  }
}

/** An executed plan as the nodes `PlanDump.nodes` walks — the one source
  * plan assertions read. Each accessor below is a predicate's building
  * block over nodes and their expressions; `toString` is the plan text,
  * for failure messages only. */
final class Shape(val plan: SparkPlan) {
  val nodes: Seq[SparkPlan] = PlanDump.nodes(plan)
  override def toString: String = plan.toString

  def all[T <: SparkPlan](implicit t: ClassTag[T]): Seq[T] = nodes.collect { case n: T => n }
  def count[T <: SparkPlan: ClassTag]: Int = all[T].size
  def has[T <: SparkPlan: ClassTag]: Boolean = all[T].nonEmpty

  /** Every expression any node evaluates, sub-expressions included. */
  def exprs: Seq[Expression] = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
  def evaluates(p: Expression => Boolean): Int = exprs.count(p)

  def joins: Seq[BaseJoinExec] = all[BaseJoinExec]
  def joinsOf(t: JoinType): Seq[BaseJoinExec] = joins.filter(_.joinType == t)
  def semis: Int = joinsOf(LeftSemi).size
  def antis: Int = joinsOf(LeftAnti).size
  /** The two all-pairs join kinds, counted apart. */
  def cartesians: Int = count[CartesianProductExec]
  def nestedLoops: Int = count[BroadcastNestedLoopJoinExec]

  def windows: Seq[WindowExec] = all[WindowExec]
  /** Any window operator: WindowExec or the rank-limit WindowGroupLimit. */
  def windowed: Boolean = windows.nonEmpty || has[WindowGroupLimitExec]
  def partitionKeys(w: WindowExec): Seq[String] = w.partitionSpec.flatMap(_.references.map(_.name))

  /** Every aggregate expression the aggregate nodes run. */
  def aggregates: Seq[AggregateExpression] =
    all[BaseAggregateExec].flatMap(_.aggregateExpressions)
  /** A map-side (Partial mode) aggregate whose function name starts with `fn`. */
  def partial(fn: String = ""): Boolean = aggregates.exists(a =>
    a.mode == Partial && a.aggregateFunction.prettyName.toLowerCase.startsWith(fn))

  def shuffles: Seq[ShuffleExchangeExec] = all[ShuffleExchangeExec]
  def hashShuffles: Seq[ShuffleExchangeExec] = shuffles.filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
  def rangeShuffles: Int = shuffles.count(_.outputPartitioning.isInstanceOf[RangePartitioning])
  /** Hash shuffles whose first key is a column whose name starts with `prefix`. */
  def hashedOn(prefix: String): Int = hashShuffles.count(_.outputPartitioning match {
    case h: HashPartitioning => h.expressions.headOption.exists {
      case a: Attribute => a.name.startsWith(prefix)
      case _ => false
    }
  })
  /** Every exchange, shuffle or broadcast, a reused one included. */
  def exchanges: Int = count[Exchange] + count[ReusedExchangeExec]

  def fileScans: Seq[FileSourceScanExec] = all[FileSourceScanExec]
  /** The table each file scan reads: its root path's last segment with
    * `.parquet` dropped (`lineitem`, a derived `span_base_wins`). */
  def tables: Seq[String] =
    fileScans.flatMap(_.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet")))
  def spools: Int = count[RDDScanExec]
  /** The filters the file scans hand the parquet reader. */
  def pushed: Seq[sources.Filter] = fileScans.flatMap(org.apache.spark.sql.graft.PushedFilters(_))

  /** True when some node (of `in`) outputs or references a column named `name`. */
  def mentions(name: String, in: Seq[SparkPlan] = nodes): Boolean = Shape.mentions(name, in)
}

object Shape {
  def mentions(name: String, in: Seq[QueryPlan[_]]): Boolean = in.exists(n =>
    n.output.exists(_.name == name) || n.expressions.exists(_.references.exists(_.name == name)))
}

/** Temp directories a suite creates, deleted when the suite ends. */
trait TempDirs extends org.scalatest.BeforeAndAfterAll { this: org.scalatest.Suite =>
  private val dirs = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]

  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    dirs += d
    d
  }

  override def afterAll(): Unit =
    try dirs.foreach(d => Derived.delete(d.toFile)) finally super.afterAll()
}

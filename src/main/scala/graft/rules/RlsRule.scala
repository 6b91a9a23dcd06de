package graft.rules

import java.util.Locale

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Row-level security policies (reference: `CREATE POLICY ... USING
  * (qual)`, `src/backend/rewrite/rowsecurity.c`
  * get_row_security_policies — PG injects each enabled policy's USING
  * qual into every scan of the protected table at rewrite time, below
  * all user operators).
  *
  * Enforcement SCOPE: the rule matches V1 parquet `LogicalRelation`
  * scans whose root path ends `/<table>.parquet` — exactly the layout
  * `Tables.df` produces, so every graft query path is covered. A
  * DataSourceV2 scan, an `InMemoryRelation` cached before the policy
  * was set, or a read of the same files under another path is OUTSIDE
  * this scope and is not filtered; PG-grade "no formulation escapes"
  * would need a catalog-level hook, which this session-conf rendition
  * deliberately does not claim.
  *
  * Spark-first rendition: session confs `spark.graft.rls.<table> =
  * <sql predicate>` register policies; this Rule finds every file scan
  * whose root path reads `<table>.parquet` and plants the parsed,
  * name-resolved predicate directly above the relation. Because V1
  * file-source pushdown happens at PHYSICAL planning (FileSourceStrategy
  * reads Filter-over-relation off the optimized plan), the injected
  * qual lands in the scan's PushedFilters — enforcement costs a
  * scan-level parquet filter, not a post-scan pass (PlanShapeSpec
  * asserts it), and at 100 TB it prunes row groups like any user WHERE.
  *
  * Idempotent by construction: the traversal does not descend past a
  * policy Filter it already planted, so fixed-point optimizer batches
  * and repeated plan() calls never stack duplicates.
  */
class RlsRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import RlsRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val pol = policies(spark)
    if (pol.isEmpty) plan else inject(plan, pol)
  }

  private def inject(p: LogicalPlan, pol: Map[String, String]): LogicalPlan = p match {
    case f @ Filter(cond, rel: LogicalRelation)
        if resolvedPolicy(spark, rel, pol).exists(containsConjunct(cond, _)) =>
      f // already enforced here — do not descend
    case rel: LogicalRelation =>
      resolvedPolicy(spark, rel, pol).map(Filter(_, rel)).getOrElse(rel)
    case other => other.withNewChildren(other.children.map(inject(_, pol)))
  }
}

object RlsRule {
  val ConfPrefix = "spark.graft.rls."

  /** table-name → policy SQL text, from session confs. */
  private[graft] def policies(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.collect {
      case (k, v) if k.startsWith(ConfPrefix) && v.trim.nonEmpty =>
        k.stripPrefix(ConfPrefix).toLowerCase(Locale.ROOT) -> v
    }

  /** The policy predicate for this relation, parsed and name-resolved
    * against its output attributes; None when no policy names the table
    * the scan's root path reads. */
  private def resolvedPolicy(spark: SparkSession, rel: LogicalRelation,
                             pol: Map[String, String]): Option[Expression] = {
    val paths = rel.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString.toLowerCase(Locale.ROOT))
      case _ => Seq.empty
    }
    pol.collectFirst {
      case (table, sql) if paths.exists(p =>
          p.endsWith(s"/$table.parquet") || p.endsWith(s"/$table")) =>
        resolve(spark, sql, rel)
    }
  }

  private def resolve(spark: SparkSession, sql: String, rel: LogicalRelation): Expression =
    spark.sessionState.sqlParser.parseExpression(sql).transformUp {
      case u: UnresolvedAttribute =>
        rel.output.find(_.name.equalsIgnoreCase(u.name)).getOrElse(
          throw new IllegalArgumentException(
            s"RLS policy references unknown column ${u.name} of ${rel.relation}"))
    }

  private def containsConjunct(cond: Expression, pred: Expression): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).exists(_.semanticEquals(pred))
  }

  /** Drop every registered policy (runner hygiene between queries). */
  def clearPolicies(spark: SparkSession): Unit =
    spark.conf.getAll.keys.filter(_.startsWith(ConfPrefix)).foreach(spark.conf.unset)
}

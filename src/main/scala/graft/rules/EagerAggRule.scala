package graft.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, Divide, EqualTo, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Eager aggregation — push a group-by below a join (the ORCA rewrite
  * class `CXformEagerAgg` / `CXformPushGbBelowJoin`, reference regression
  * test `src/test/regress/sql/agg_pushdown.sql`; the one ORCA rewrite
  * family SURVEY.md §4.1 marks "not in Catalyst").
  *
  * Pattern:  Aggregate(G, sums/counts over B-columns, A ⋈_{a=b} B)
  * Rewrite:  Aggregate(G, sums of partials, A ⋈_{a=b} Aggregate(b, partials, B))
  *
  * Soundness: pre-aggregating the measure side B by its join key b, then
  * re-summing the partials above the join, is exact for duplicate-
  * sensitive aggregates — each B group's partial is replicated once per
  * matching A row, exactly as every one of its member rows would have
  * been: sum→sum(sum), count→sum(count) (Yan & Larson's eager/lazy
  * group-by transformations, the same decomposition the partial/final
  * split uses). Conditions enforced here:
  *  - inner equi-join on a conjunction of attr=attr key pairs (composite
  *    keys included), grouping keys from A only,
  *  - every aggregate is a non-DISTINCT, non-FILTER sum/count/avg/min/max
  *    whose arguments reference only B (avg decomposes to
  *    sum(sum)/sum(count), double only; min/max are duplicate-insensitive
  *    and re-aggregate as themselves),
  *  - B is the LARGER side (size gate — eager agg is a win when it
  *    collapses a big fact to |join keys| rows BEFORE the join shuffles
  *    it; ORCA makes the same call from cost, and at 100 TB pushing the
  *    agg below the join is the difference between shuffling the fact
  *    and shuffling one row per key).
  *
  * Runs in the user-provided optimizer batch (post-main-batch normal
  * form: projects collapsed into the Aggregate, casts simplified), gated
  * by [[EagerAggRule.EnabledConf]]. Output attribute ids are preserved
  * via aliases so parent operators are untouched.
  */
class EagerAggRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import EagerAggRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.getOption(EnabledConf).contains("true")) return plan
    plan.transformUp {
      // the optimizer's normal form may leave a column-pruning projection
      // between the aggregate and the join — look through it (the new
      // aggregate references a subset of its columns, so dropping it is
      // output-preserving)
      case agg @ Aggregate(groups, aggExprs, AggChild(j), None) =>
        tryPush(groups, aggExprs, j.left, j.right, j.condition.get, j.hint)
          .getOrElse(agg)
      // rollup/cube variant: Aggregate over Expand — pre-aggregate at the
      // finest grouping key BELOW the Expand
      case agg @ Aggregate(_, _, ex: Expand, None) =>
        tryPushBelowExpand(agg, ex).getOrElse(agg)
    }
  }

  /** Two-phase GROUPING SETS (the `CXformEagerAgg` family applied to the
    * rollup ladder; the shape BASELINE's TPC-DS q67 measures): a ROLLUP
    * over an N-row relation plans as Aggregate ∘ Expand(×k) — the Expand
    * replicates EVERY input row k times before the first aggregate
    * touches it. When all aggregates are decomposable, aggregating once
    * at the FINEST grouping key first is exact (Yan & Larson again:
    * the finest rollup level is then one pre-agg row per group, and
    * every coarser level merges pre-agg partials — sum→sum(sum),
    * count→sum(count), min/max→themselves, avg→sum/count), and the
    * Expand now multiplies |groups| rows instead of |input| rows. At
    * 100 TB the difference is k× the fact relation through the expand +
    * grouping shuffle vs k× the group census.
    *
    * Pattern requirements, all structural:
    *  - every Expand output slot is either a PASSTHROUGH (the same child
    *    attribute in all k projections — the measure columns), or a
    *    GROUPING slot (attribute-or-null varying per projection, incl.
    *    the grouping-id literal column),
    *  - every aggregate is a non-DISTINCT, non-FILTER sum/count/avg/
    *    min/max over passthrough slots only; grouping keys of the upper
    *    aggregate reference no passthrough slot,
    *  - fine keys and measures don't overlap, and the child isn't
    *    already an Aggregate (idempotence). */
  private def tryPushBelowExpand(agg: Aggregate, ex: Expand): Option[LogicalPlan] = {
    val projections = ex.projections
    val output = ex.output
    val child = ex.child
    if (child.isInstanceOf[Aggregate] || projections.length < 2) return None
    val n = output.length
    // classify output slots
    val measureIdx = (0 until n).filter { i =>
      projections.head(i).isInstanceOf[AttributeReference] &&
        projections.forall(p => p(i).semanticEquals(projections.head(i)))
    }
    if (measureIdx.isEmpty) return None
    val otherIdx = (0 until n).filterNot(measureIdx.contains)
    val otherOk = otherIdx.forall { i =>
      projections.forall { p =>
        p(i) match {
          case _: AttributeReference | _: Literal => true
          case _ => false
        }
      }
    }
    if (!otherOk) return None
    val measureOut = measureIdx.map(output)
    val measureSet = AttributeSet(measureOut)
    // expand-output measure attr -> the child attr it passes through
    val toChild: Map[Attribute, AttributeReference] = measureIdx.map { i =>
      (output(i): Attribute) -> projections.head(i).asInstanceOf[AttributeReference]
    }.toMap
    val fineKeys: Seq[AttributeReference] = otherIdx.flatMap { i =>
      projections.flatMap(p => p(i) match {
        case a: AttributeReference => Some(a)
        case _ => None
      })
    }.distinct
    if (fineKeys.isEmpty) return None
    if (fineKeys.exists(k => toChild.values.exists(_.exprId == k.exprId))) return None
    if (agg.groupingExpressions.exists(_.references.exists(measureSet.contains)))
      return None
    val aggFns = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggFns.isEmpty) return None
    val pushable = aggFns.forall { ae =>
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case s: Sum => s.child.references.subsetOf(measureSet)
        // count(*) (no column refs) decomposes to sum of per-group counts
        case c: Count => c.children.forall(_.references.subsetOf(measureSet))
        case a: Average => ae.dataType == DoubleType &&
          a.child.references.subsetOf(measureSet)
        case m: Max => m.child.references.subsetOf(measureSet)
        case m: Min => m.child.references.subsetOf(measureSet)
        case _ => false
      })
    }
    if (!pushable) return None

    // plant one partial per distinct aggregate below the Expand (computed
    // over the CHILD-side attrs), and a rebuild expression above it
    val partialDefs = scala.collection.mutable.ArrayBuffer.empty[Alias]
    def childFn(fn: AggregateFunction): AggregateFunction =
      fn.transform {
        case a: Attribute if toChild.contains(a) => toChild(a)
      }.asInstanceOf[AggregateFunction]
    def partial(fn: AggregateFunction, name: String): Attribute = {
      val al = Alias(AggregateExpression(childFn(fn), Complete, isDistinct = false), name)()
      partialDefs += al
      al.toAttribute
    }
    def resum(p: Attribute): AggregateExpression =
      AggregateExpression(Sum(p), Complete, isDistinct = false)
    val rebuilt: Map[AggregateExpression, Expression] = aggFns.distinct.map { ae =>
      ae -> (ae.aggregateFunction match {
        case _: Sum =>
          val summed = resum(partial(ae.aggregateFunction, "partial_sum"))
          if (summed.dataType == ae.dataType) summed else Cast(summed, ae.dataType)
        case _: Count =>
          Coalesce(Seq(resum(partial(ae.aggregateFunction, "partial_count")), Literal(0L)))
        case a: Average =>
          Divide(
            Cast(resum(partial(Sum(a.child), "partial_sum")), DoubleType),
            Cast(resum(partial(Count(Seq(a.child)), "partial_count")), DoubleType))
        case _: Max =>
          AggregateExpression(Max(partial(ae.aggregateFunction, "partial_max")),
            Complete, isDistinct = false)
        case _: Min =>
          AggregateExpression(Min(partial(ae.aggregateFunction, "partial_min")),
            Complete, isDistinct = false)
      })
    }.toMap
    val preAgg = Aggregate(fineKeys,
      (fineKeys: Seq[NamedExpression]) ++ partialDefs.toSeq, child, None)
    // new Expand: grouping/gid slots unchanged, measure slots replaced by
    // the partial columns (passed through verbatim in every projection)
    val partialAttrs = partialDefs.map(_.toAttribute).toSeq
    val newOutput = otherIdx.map(output) ++ partialAttrs
    val newProjections = projections.map { p =>
      otherIdx.map(p) ++ (partialAttrs: Seq[Expression])
    }
    val newExpand = Expand(newProjections, newOutput, preAgg)
    val newAggExprs = agg.aggregateExpressions.map { e =>
      val replaced = e.transformDown {
        case ae: AggregateExpression if rebuilt.contains(ae) => rebuilt(ae)
      }
      replaced match {
        case a: Alias => Alias(a.child, a.name)(exprId = e.exprId, qualifier = e.qualifier)
        case att: Attribute => att
        case other => Alias(other, e.name)(exprId = e.exprId)
      }
    }
    Some(Aggregate(agg.groupingExpressions, newAggExprs, newExpand, None))
  }

  private object AggChild {
    def unapply(p: LogicalPlan): Option[Join] = p match {
      case j @ Join(_, _, Inner, Some(_), _) => Some(j)
      case org.apache.spark.sql.catalyst.plans.logical.Project(pl, j @ Join(_, _, Inner, Some(_), _))
        if pl.forall(_.isInstanceOf[Attribute]) => Some(j)
      case _ => None
    }
  }

  private def tryPush(groups: Seq[Expression], aggExprs: Seq[NamedExpression],
                      left: LogicalPlan, right: LogicalPlan, cond: Expression,
                      hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint): Option[LogicalPlan] = {
    // idempotence: never stack a second pre-aggregation (the fixed-point
    // batch would otherwise re-match its own output forever)
    if (right.isInstanceOf[Aggregate]) return None
    // the condition must be a conjunction of attr=attr pairs across the
    // join (composite keys supported); anything else declines
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keyPairs: Seq[(AttributeReference, AttributeReference)] =
      conjuncts(cond).map {
        case EqualTo(a: AttributeReference, b: AttributeReference)
          if left.outputSet.contains(a) && right.outputSet.contains(b) => (a, b)
        case EqualTo(a: AttributeReference, b: AttributeReference)
          if left.outputSet.contains(b) && right.outputSet.contains(a) => (b, a)
        case _ => return None
      }
    if (keyPairs.isEmpty) return None
    if (!groups.forall(_.references.subsetOf(left.outputSet))) return None
    val aggFns = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggFns.isEmpty) return None
    val pushable = aggFns.forall { ae =>
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case s: Sum => s.child.references.subsetOf(right.outputSet)
        case c: Count => c.children.forall(_.references.subsetOf(right.outputSet))
        // avg decomposes to sum(sum)/sum(count) through the join (double
        // only — decimal avg re-scaling is AqumvRule territory)
        case a: Average => ae.dataType == DoubleType &&
          a.child.references.subsetOf(right.outputSet)
        // duplicate-insensitive aggs push trivially: max→max(max), min→min(min)
        case m: Max => m.child.references.subsetOf(right.outputSet)
        case m: Min => m.child.references.subsetOf(right.outputSet)
        case _ => false
      })
    }
    if (!pushable) return None
    // cost gate: only push when the measure side is the bigger one
    if (right.stats.sizeInBytes <= left.stats.sizeInBytes) return None

    // one partial per distinct component planted below the join, plus a
    // rebuild expression that re-aggregates it above the join
    val partialDefs = scala.collection.mutable.ArrayBuffer.empty[Alias]
    def partial(fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
                name: String): Attribute = {
      val al = Alias(AggregateExpression(fn, Complete, isDistinct = false), name)()
      partialDefs += al
      al.toAttribute
    }
    def resum(p: Attribute): AggregateExpression =
      AggregateExpression(Sum(p), Complete, isDistinct = false)
    val rebuilt: Map[AggregateExpression, Expression] = aggFns.distinct.map { ae =>
      ae -> (ae.aggregateFunction match {
        case _: Sum =>
          val summed = resum(partial(ae.aggregateFunction, "partial_sum"))
          if (summed.dataType == ae.dataType) summed else Cast(summed, ae.dataType)
        case _: Count =>
          // count() is non-null; re-summed partial counts keep that contract
          Coalesce(Seq(resum(partial(ae.aggregateFunction, "partial_count")), Literal(0L)))
        case a: Average =>
          Divide(
            Cast(resum(partial(Sum(a.child), "partial_sum")), DoubleType),
            Cast(resum(partial(Count(Seq(a.child)), "partial_count")), DoubleType))
        case _: Max =>
          AggregateExpression(Max(partial(ae.aggregateFunction, "partial_max")),
            Complete, isDistinct = false)
        case _: Min =>
          AggregateExpression(Min(partial(ae.aggregateFunction, "partial_min")),
            Complete, isDistinct = false)
      })
    }.toMap
    val rks = keyPairs.map(_._2).distinct
    val preAgg = Aggregate(rks, (rks: Seq[NamedExpression]) ++ partialDefs.toSeq, right, None)
    val newCond = keyPairs.map { case (l, r) => EqualTo(l, r): Expression }
      .reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
    val newJoin = Join(left, preAgg, Inner, Some(newCond), hint)
    val newAggExprs = aggExprs.map { e =>
      val replaced = e.transformDown {
        case ae: AggregateExpression if rebuilt.contains(ae) => rebuilt(ae)
      }
      replaced match {
        case a: Alias => Alias(a.child, a.name)(exprId = e.exprId, qualifier = e.qualifier)
        case att: Attribute => att
        case other => Alias(other, e.name)(exprId = e.exprId)
      }
    }
    Some(Aggregate(groups, newAggExprs, newJoin, None))
  }
}

object EagerAggRule {
  val EnabledConf = "spark.graft.eageragg.enabled"
}

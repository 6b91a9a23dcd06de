package graft.rules

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.DerivationKernel

/** The f09 substitution class fixed at the ENGINE level (PROF_r16/r17):
  * predicate pushdown substitutes aliases into Filter conditions with
  * no cost guard (only CollapseProject checks multi-reference), so a
  * filter referencing a text-derived column k times evaluates the
  * whole tokenize/stem/gram chain k times per input row. Rounds 16–17
  * fixed every instance by hand with the single-binding rewrite
  * `P(e) ⟶ exists(array(e), t -> P(t))` — semantically exact (the
  * array holds one element, so the lambda runs exactly once on it,
  * and exists's null result is filter-false exactly like P's own
  * null) — and gated regressions with KernelFilterSpec. This rule IS
  * that rewrite as a `Rule[LogicalPlan]`, so a future query written
  * with the natural-but-slow spelling gets bound automatically:
  *
  *  - runs in the user-provided optimizer batch (post-main-batch, the
  *    AqumvRule slot), i.e. AFTER pushdown has already inlined the
  *    aliases — the repeats it sees are the real, final ones;
  *  - fires only when an EXPENSIVE derivation kernel (split/sentences/
  *    regexp_extract_all or a graft text kernel) repeats ≥ 2 times
  *    across a Filter's conjuncts (the KernelFilterSpec threshold —
  *    at 2 the interpreted-exists trade measured a tie at worst, f10,
  *    and a win everywhere else; at 3+ it always won);
  *  - binds only the conjuncts that reference the repeated expression
  *    and leaves the others in place, so a cheap scan-pushable
  *    conjunct sitting next to the expensive one keeps reaching
  *    PushedFilters;
  *  - the batch runs to fixpoint, so several distinct repeated chains
  *    bind as nested exists, largest first; each firing strictly
  *    reduces the repeat count, so it terminates.
  *
  * Conjunct-wise the rewrite preserves three-valued logic: for the
  * bound conjunction B, `exists(array(e), t -> B[e:=t])` evaluates
  * the lambda exactly once on e's value and returns its result
  * (true/false/null), and Filter treats null as false on both
  * spellings. Non-deterministic candidates, candidates referencing a
  * lambda variable (already inside some HOF's scope), and candidates
  * containing subqueries are skipped.
  */
object BindExpensiveFilterRule extends Rule[LogicalPlan] with PredicateHelper {

  /** A candidate must contain a text→array derivation kernel, from the
    * one list `graft.functions.DerivationKernel` keeps: binding a
    * conjunct over a cheap codegen kernel (JumpHash, VecDot, ZOrder, ...)
    * would wrap a scan-pushable predicate into exists() — forfeiting its
    * PushedFilter for no per-row saving (the r17 advice). */
  private def isExpensive(e: Expression): Boolean = e.exists(DerivationKernel.matches)

  private def nodeCount(e: Expression): Int = 1 + e.children.map(nodeCount).sum

  private def eligible(e: Expression): Boolean =
    e.deterministic && isExpensive(e) &&
      !e.exists(_.isInstanceOf[NamedLambdaVariable]) &&
      !e.exists(_.isInstanceOf[PlanExpression[_]])

  /** The LARGEST expression occurring ≥ 2 times (by canonicalized
    * equality) in `cond` that is expensive and safe to bind. */
  private def repeatedExpensive(cond: Expression): Option[Expression] = {
    val counts = scala.collection.mutable.Map.empty[Expression, (Expression, Int)]
    cond.foreach { sub =>
      if (eligible(sub)) {
        val k = sub.canonicalized
        val (repr, n) = counts.getOrElse(k, (sub, 0))
        counts(k) = (repr, n + 1)
      }
    }
    val repeated = counts.values.filter(_._2 >= 2).map(_._1)
    if (repeated.isEmpty) None else Some(repeated.maxBy(nodeCount))
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      repeatedExpensive(cond) match {
        case None => f
        case Some(e) =>
          val conjuncts = splitConjunctivePredicates(cond)
          val (withE, others) =
            conjuncts.partition(_.exists(_.semanticEquals(e)))
          // a conjunct that references the repeat AND carries a
          // subquery would put a SubqueryExpression inside the lambda
          // body — physical planning injects subquery results at the
          // expression site and cannot do so under a HOF; leave such
          // filters alone (the candidate itself is already guarded,
          // this guards its SIBLING structure)
          if (withE.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) f
          else {
            // a single conjunct can still carry the repeat k times —
            // bind whenever the repeat exists, whatever its spread
            val target = withE.reduce(And)
            val lv = NamedLambdaVariable("graft_bound", e.dataType, e.nullable)
            val body = target.transform {
              case x if x.semanticEquals(e) => lv
            }
            val bound: Expression =
              ArrayExists(CreateArray(Seq(e)), LambdaFunction(body, Seq(lv)))
            Filter((others :+ bound).reduce(And), child)
          }
      }
  }
}

package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}

import graft.functions.DerivationKernel

/** Detection for the f09 defect class (PROF_r16): predicate
  * pushdown substitutes non-cheap derived columns into Filter
  * conditions (and scan DataFilters) regardless of cost — only
  * CollapseProject has the multi-reference guard — so a
  * `.filter(col(derived))` over a text/array kernel re-evaluates the
  * kernel per corpus row below the projection (f09 carried THREE
  * tokenizes in its pushed filter). The signature is a derivation
  * kernel repeated inside ONE FilterExec condition or ONE scan's
  * dataFilters. `sbt "testOnly graft.KernelFilterSpec"` asserts its
  * absence per text/dedup/chunking/similarity query; run it after
  * adding any text-derived filter (the length-axis sweep catches
  * O(L²), not this class's constant factor).
  *
  * Only DERIVATION kernels (`DerivationKernel.matches`) count. A
  * repeated GENERIC lambda (transform/aggregate/zip_with) is not the
  * defect — those are O(L) over an already-bound array and
  * legitimately repeat in compiled predicates (f12's branch tree
  * evaluates several over the ONE bound token array).
  */
object KernelFilterAudit {

  /** The query names KernelFilterSpec covers: the
    * text / dedup / chunking / multimodal / similarity families whose
    * filters can derive from text kernels. */
  def auditedNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filter(n => n.matches("^(t|f|d|ch|m|x0|er|s)[0-9].*") || n.startsWith("fz"))

  /** (node, kernel, count) for every derivation kernel that occurs two or
    * more times in one FilterExec condition or in one file scan's
    * dataFilters of an executed plan — the per-node count, never a sum
    * across unrelated filters. Kernels are told apart by name, so
    * frame_sums and frame_energy count apart. */
  def repeats(plan: SparkPlan): Seq[(SparkPlan, String, Int)] =
    PlanDump.nodes(plan).flatMap { n =>
      val conditions = n match {
        case f: FilterExec => Seq(f.condition)
        case s: FileSourceScanExec => s.dataFilters
        case _ => Nil
      }
      conditions.flatMap(_.collect { case k if DerivationKernel.matches(k) => k.prettyName })
        .groupBy(identity).toSeq.collect { case (k, ks) if ks.size >= 2 => (n, k, ks.size) }
    }
}

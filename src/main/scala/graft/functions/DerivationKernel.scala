package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpExtractAll, Sentences, StringSplit}

/** Marks a graft text→array DERIVATION kernel: a tokenize / stem / gram
  * / frame chain whose repetition inside one filter is the f09 defect
  * (PROF_r16) — predicate pushdown substitutes a derived column into the
  * filter once per reference, so the chain runs once per reference per
  * row. Cheap codegen kernels (JumpHash, VecDot, ZOrder, ...) are not
  * marked: repeating one costs nothing worth a binding. */
trait DerivationKernel

object DerivationKernel {

  /** The one derivation-kernel list: the marked graft kernels plus
    * Spark's own text→array derivations. BindExpensiveFilterRule binds
    * a repeat of these; KernelFilterAudit flags one left in an executed
    * filter. */
  def matches(e: Expression): Boolean = e match {
    case _: DerivationKernel | _: StringSplit | _: Sentences | _: RegExpExtractAll => true
    case _ => false
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The f09 substitution class as a FAILING TEST (r16 verdict #3): for
  * every text / dedup / chunking / multimodal / similarity query,
  * assert no text-derivation kernel (split/sentences/word_grams/
  * porter_stem/...) appears twice in one FilterExec condition or one
  * scan's dataFilters of the executed plan (`KernelFilterAudit.repeats`,
  * the predicate BindExpensiveFilterSpec checks too). Predicate pushdown substitutes aliases
  * into pushed filters with no cost guard, so a `.filter` referencing
  * a text-derived column k times re-evaluates the tokenize chain k
  * times per corpus row — a constant factor the length-axis scaling
  * sweep cannot see (f09 paid 2× whole-query; f12's websearch filter
  * carried EIGHT tokenizes before the toksBound rewrite). A new
  * text-derived filter regression now fails `sbt test` instead of
  * waiting for the next round's bench sweep.
  *
  * The r16 allowlist (d04/d08/f10/f11/f15/s10/t10) is EMPTY as of r17:
  * d04/d08/t10's flags were InferFiltersFromGenerate's size>0+isnotnull
  * guard (excluded in Tables.configure — semantics-neutral, carried the
  * chain twice); f11/f12's were generic-token false positives (the
  * refined tagger requires a DERIVATION kernel to repeat); f15/f10/s10
  * were rewritten to single-binding form, hash-green. The mechanism
  * stays so a future structural exception can be documented in place.
  */
class KernelFilterSpec extends AnyFunSuite {
  import SparkSuite._

  /** query → one-line structural reason a repeated derivation kernel is
    * intentional. Empty as of r17 (see class doc); any future entry
    * must name the plan shape that blocks the single-binding rewrite. */
  private val allow: Map[String, String] = Map.empty

  for (n <- KernelFilterAudit.auditedNames) {
    test(s"$n: no derivation kernel repeats in one Filter line") {
      val (plan, found) = try {
        val df = SparkEntry.queries(n)(spark, Sf)
        df.queryExecution.toRdd.count() // settle AQE
        val plan = df.queryExecution.executedPlan
        (plan, KernelFilterAudit.repeats(plan))
      } finally Harness.hygiene(spark) // no later query (in ANY suite) runs under its state
      if (found.nonEmpty) {
        allow.get(n) match {
          case Some(reason) => info(s"allowlisted: $reason")
          case None =>
            val lines = found.map { case (node, k, c) => s"$k x$c in: ${node.simpleString(25).take(300)}" }
            fail(s"f09 substitution signature (re-evaluated text kernel " +
              s"in a pushed filter) — bind the derived column once " +
              s"(exists(array(col), t -> P(t))) or filter on a cheap " +
              s"pushable equivalent:\n${lines.mkString("\n")}\n$plan")
        }
      }
    }
  }
}

package graft

/** Detection for the f09 defect class (PROF_r16): predicate
  * pushdown substitutes non-cheap derived columns into Filter
  * conditions (and scan DataFilters) regardless of cost — only
  * CollapseProject has the multi-reference guard — so a
  * `.filter(col(derived))` over a text/array kernel re-evaluates the
  * kernel per corpus row below the projection (f09 carried THREE
  * tokenizes in its pushed filter). For every text/dedup/chunking/
  * similarity query, find the expensive-kernel tokens appearing
  * inside Filter or scan-DataFilters lines of the executed plan;
  * a repeated DERIVATION kernel inside one filter line is the
  * signature. `sbt "testOnly graft.KernelFilterSpec"` asserts it per
  * query, with the documented structural exceptions; run it after
  * adding any text-derived filter (the length-axis sweep catches
  * O(L²), not this class's constant factor).
  */
object KernelFilterAudit {

  /** The text→array DERIVATION kernels. A repeated GENERIC token
    * (transform/aggregate/zip_with) is not the defect — those are O(L)
    * lambdas over an already-bound array and legitimately repeat in
    * compiled predicates (f12's branch tree evaluates several over the
    * ONE bound token array). The defect is the derivation chain itself
    * duplicated (r16 advice: f11/f12's transform=2-with-one-split were
    * false positives under the bare >=2 rule). */
  val Derivation: Set[String] = Set("split(", "sentences(",
    "regexp_extract_all", "word_grams", "char_grams", "frame_sums",
    "frame_energy", "winnow_fps",
    "word_census", "word_stats", "metaphone", "porter_stem")

  /** The query names KernelFilterSpec covers: the
    * text / dedup / chunking / multimodal / similarity families whose
    * filters can derive from text kernels. */
  def auditedNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filter(n => n.matches("^(t|f|d|ch|m|x0|er|s)[0-9].*") || n.startsWith("fz"))

  private def occ(l: String, k: String): Int =
    l.split(java.util.regex.Pattern.quote(k), -1).length - 1

  /** (kernel, count, line) for every derivation-kernel occurrence in a
    * Filter / DataFilters line of an executed-plan string. The signature is
    * repeated kernels in ONE line (the substitution duplicates the
    * expression inside a single condition) — callers take the per-line
    * MAX per kernel, never a sum across unrelated filters. */
  def filterKernelCounts(plan: String): Seq[(String, Int, String)] =
    plan.linesIterator.filter(l =>
      l.contains("Filter") || l.contains("DataFilters")).toSeq
      .flatMap { l => Derivation.toSeq.map(k => (k, occ(l, k), l)).filter(_._2 >= 1) }

  /** True when some derivation kernel appears >= 2 times in a single
    * Filter/DataFilters line — the f09 substitution signature. */
  def hasSignature(plan: String): Boolean =
    filterKernelCounts(plan).exists(_._2 >= 2)
}

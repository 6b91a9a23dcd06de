package graft

import org.apache.spark.sql.functions._

/** Long-document corpus generator for the document-LENGTH scaling axis
  * (r9 verdict item #1). The sf0.1→sf1 sweep scales ROW counts; per-row
  * text kernels scale in DOCUMENT LENGTH, and that axis can hide
  * quadratic behavior (r9's m08: an O(position) substring walk per
  * frame — invisible on KB docs, a scale-killer on long ones).
  *
  * Construction: keep every `factor`-th doc and tile its text `factor`×
  * (space-joined verbatim repeats), so TOTAL corpus chars stay ~constant
  * while per-doc length grows `factor`×. Verbatim tiling deliberately
  * preserves the vocabulary, the token distribution, and each doc's
  * fingerprint VALUE set — so census-shaped work (stemming, char-LM
  * tables, KL reference distributions) and dedup pair structure are held
  * fixed, and the sweep isolates exactly one variable: per-row kernel
  * cost as a function of L. A linear kernel lands ~1× (same total
  * chars); an O(L²/k) kernel shows up as ~factor×.
  */
object LongDocGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("testdata_longdoc")
    val factor = args.lift(2).map(_.toInt).getOrElse(64)
    val heapsDst = args.lift(3).getOrElse("testdata_longdoc_heaps")
    val spark = Harness.session()

    val docs = Tables.df(spark, src, "documents")
    val kept = docs.filter(col("doc_id") % factor === 0)
    val long = kept
      .withColumn("text",
        expr(s"concat_ws(' ', transform(sequence(1, $factor), r -> text))"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    long.write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // Heaps-law variant (r12 verdict #1): same tiling, but every repeat
    // suffixes its tokens with the repeat index — per-doc VOCABULARY now
    // grows with length (distinct ∝ L, the realistic Heaps regime),
    // while token count per doc and total corpus tokens stay identical
    // to the verbatim corpus. A census-shaped kernel stays ~1× (work is
    // linear in tokens regardless of how many are distinct); an
    // O(distinct × L) per-row kernel — the quadratic class the verbatim
    // corpus's fixed vocabulary let hide — reads ~factor×.
    val heaps = kept
      .withColumn("text", expr(
        s"""concat_ws(' ', transform(sequence(1, $factor),
              r -> array_join(transform(
                     filter(split(text, ' '), x -> x != ''),
                     t -> concat(t, '~', r)), ' ')))"""))
      .withColumn("n_chars", length(col("text")).cast("long"))
    heaps.write.mode("overwrite").parquet(s"$heapsDst/documents.parquet")

    for ((d, label) <- Seq(dst -> "verbatim", heapsDst -> "heaps")) {
      val stats = spark.read.parquet(s"$d/documents.parquet")
        .agg(count(lit(1)), sum(col("n_chars")), max(col("n_chars"))).head
      println(s"[longdocgen] $label docs=${stats.getLong(0)} " +
        s"total_chars=${stats.getLong(1)} max_len=${stats.getLong(2)} " +
        s"(src=$src factor=$factor)")
    }
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Paths}

/** Scale-up sweep, two axes.
  *
  * ROW axis (r8 verdict item #1): run the data-bound query families at
  * sf0.1 AND at the self-generated sf1 (10× rows, ScaleGen.scala), and
  * assert near-linear wall-time growth per query. This converts the
  * "designed for 100 TB" plan-shape arguments into a measured growth
  * curve — the audit that catches a super-linear operator (r6's d03,
  * r7's r06) before data does.
  *
  * LENGTH axis (r9 verdict item #1): run the per-row text-kernel family
  * at sf0.1 AND at the long-doc corpus (LongDocGen.scala: 1/64th the
  * docs, each 64× longer, total chars ~constant, vocabulary/censuses/
  * fingerprint sets held fixed). Because total work for a LINEAR kernel
  * is constant across the two corpora, the expected ratio is ~1×; an
  * O(L²) kernel shows up as ~64×. This is the axis that caught r9's m08
  * (per-frame substring walk) — the bound is MaxLenRatio.
  *
  * Methodology is Bench.scala's, through the same `Harness.sweeps`: each
  * query runs its executed plan to completion, two separated sweeps per
  * scale, official time = min of the two (strips transient sandbox
  * contention), session hygiene between queries, and each dir's
  * build-once DDL (`Harness.prepare`) before its sweeps. The growth bound is
  * ratio ≤ 13× for 10× data (linear + a generous constant for stage
  * overheads that amortize at real scale); queries exceeding it are
  * listed in the artifact under "superlinear" — the gate is the
  * committed JSON plus a named cause or fix per flagged query.
  */
object Scaling {

  /** The data-bound families: dedup, ANN/similarity, graph kernels,
    * text-quality censuses, entity resolution. */
  val Targets: Seq[String] = Seq(
    "d02_ngram_jaccard", "d03_minhash_lsh", "d09_containment", "d12_line_dedup",
    "d10_lsh_recall_audit", "d13_winnowing",
    "s01_cosine_topk", "s02_ann_lsh_buckets", "s03_embedding_near_dup",
    "s04_ivf_ann", "s05_label_centroids", "s06_quantized_ann",
    "s07_kmeans_lloyd", "s08_pq_ann", "s09_multiprobe_lsh",
    "s10_hybrid_rrf", "s11_probe_sweep",
    "s12_diversity_sample", "s13_filtered_ann",
    "r02_connected_dedup", "r06_triangle_count", "r07_kcore",
    "t19_dup_ngram_coverage", "t21_word_entropy", "t22_filter_funnel",
    "t23_kl_novelty", "t24_source_overlap",
    "ch06_token_budget_mix", "ml05_naive_bayes", "ml06_knn_classify",
    "er01_entity_clusters",
    // round-11 additions: the census tree + inference, IVF-PQ funnel,
    // incremental ER, segment mapper, ANALYZE pass, exact-n sample,
    // and the vacuum rewrite (measures the compaction write itself)
    "ml08_decision_tree", "ml09_tree_confusion", "s14_ivfpq_rerank",
    "er02_incremental_clusters", "b05_jump_consistent_hash",
    "x11_analyze_stats", "q138_system_rows", "ddl05_vacuum_compact",
    // round-12 additions: the page-budget sampler, the metaphone census,
    // the synonym-chain retrieval, the fixed-width tolerant load, and
    // the dynamic-table refresh (measures the re-materialization write)
    "q139_system_time", "fz06_metaphone", "fz07_daitch_mokotoff",
    "f19_synonym_config", "f20_intdict_config", "c15_fixedwidth",
    "c16_fixedwidth_out", "ddl06_dynamic_table_ddl", "ddl07_split_partition",
    // round-13 additions: the exact-substring span dedup and the four
    // new TPC-DS signature shapes
    "d14_substring_span_dedup", "d15_span_cut_rewrite", "ds04_yoy_growth",
    "ds14_cross_channel", "ds24_returned_netpaid", "ds28_band_stats",
    // round-14 additions: the four new TPC-DS shapes and the
    // incremental span-dedup probe (state build + O(Δ) probe together)
    "ds39_inventory_cov", "ds78_channel_ratio", "ds95_chained_exists",
    "ds64_wide_twoyear", "ds59_weekly_pivot", "ds73_visit_band",
    "ds75_net_decline", "ds77_channel_totals", "ds54_revenue_segments",
    "ds87_except_chain", "ds38_intersect_count",
    "i17_span_dedup_incremental", "i18_span_dedup_retract",
    // round-16 additions: the fact-bound new battery shapes — the
    // window-over-union report, the sales∪returns rollup, the
    // fact-grain visit aggregate, the full-outer overlap census, and
    // the triple fact chain (chain count measured ~linear: 14/87/707
    // at sf0.001/0.01/0.1)
    "ds49_worst_return_ratios", "ds05_channel_sales_returns",
    "ds79_store_visits", "ds97_channel_overlap", "ds17_return_repurchase",
    // round-17 additions: the scalable two-pass rank (the fat-partition
    // window fix — must scale ~linearly where the 3-task window
    // couldn't) and the windows-only ROWS+EXCLUDE construction
    "q34_order_quartiles", "q143_rows_exclude")

  val MaxRatio = 13.0

  /** Documents-bound per-row text kernels: work scales in document
    * LENGTH, not just row count. All read only the documents table (the
    * long-doc corpus ships nothing else). */
  val LenTargets: Seq[String] = Seq(
    "m02_media_features", "m04_resize", "m05_phash_neardup",
    "m06_energy_segments", "m08_scene_cuts", "m09_scene_frame_sample",
    "d12_line_dedup", "d13_winnowing",
    "f14_porter_stems", "f15_stemmed_rank", "f16_phrase_distance",
    // r16: f09's filter rewrite (array_contains prefilter + single
    // ents build) is length-linear by design — gate it here so a
    // future regression to the pushdown-duplicated form (still a
    // constant factor) at least can't go superlinear unnoticed
    "f09_ts_rank_cd",
    "fz03_strict_word_sml",
    "t11_repetition", "t18_charlm_score", "t19_dup_ngram_coverage",
    "t21_word_entropy", "t23_kl_novelty",
    "lo01_largeobject_pages",
    // r12: the synonym-chain lexize is a per-token HOF — linear in L
    "f19_synonym_config",
    // r13: window fps + per-doc gaps-and-islands are linear in L
    "d14_substring_span_dedup", "d15_span_cut_rewrite",
    // r14: the incremental probe's window/census work is linear in L too
    "i17_span_dedup_incremental", "i18_span_dedup_retract",
    // r18: the natural-spelling filter relies on BindExpensiveFilterRule
    // for its single tokenize — gate that the bound form stays
    // length-linear (an unbound regression doubles the constant; this
    // axis at least pins it can't go superlinear unnoticed)
    "t28_natural_filter")

  /** Total chars are ~equal across the two corpora, so a linear kernel
    * lands ~1×; 2.5 allows window/partition-count second-order effects
    * while still flagging anything super-linear in L loudly (a quadratic
    * kernel would read ~64×). */
  val MaxLenRatio = 2.5

  /** HEAPS axis (r12 verdict #1): the verbatim long-doc corpus holds
    * vocabulary FIXED while length grows, which lets an O(distinct × L)
    * kernel hide (t21's old HOF read 0.86× there). The heaps corpus
    * (LongDocGen's ~r-suffixed tiling) grows per-doc vocabulary with
    * length — distinct ∝ L — so that kernel class reads ~64×. Targets
    * are the census-shaped distinct-sensitive text kernels. */
  val HeapsTargets: Seq[String] = Seq(
    "t21_word_entropy", "t22_filter_funnel", "t23_kl_novelty")

  /** Token count is held constant and census work is linear in tokens,
    * so the linear expectation is ~1× here too; same second-order
    * allowance as the verbatim length axis. */
  val MaxHeapsRatio = 2.5

  /** One axis: each target's (query, base seconds, other seconds, ratio),
    * the targets whose ratio is over the axis bound, and the
    * `query@dir` runs that failed. */
  private final case class Axis(rows: Seq[(String, Double, Double, Double)],
      superlinear: Seq[String], failed: Seq[String])

  /** Every target at `base` and at `other` over two sweeps that alternate
    * the dirs, so the two passes of a query are minutes apart
    * (Bench.scala's contention rule). */
  private def axis(spark: org.apache.spark.sql.SparkSession, base: String, other: String,
      targets: Seq[String], bound: Double): Axis = {
    // warmup (codegen + JVM) on a small query, then the build-once DDL
    // (i17/i18's persisted span state: the measured window must contain
    // only the O(Δ) probe)
    Seq(base, other).foreach { dir =>
      Harness.run(spark, dir, "t21_word_entropy")
      Harness.prepare(spark, dir)
    }
    val cells = for (dir <- Seq(base, other); n <- targets) yield Harness.Cell(dir, n)
    val times = Harness.sweeps(spark, cells, passes = 2).map { case (c, ts) => c -> Harness.official(ts) }
    val rows = targets.map { n =>
      val (tb, to) = (times(Harness.Cell(base, n)), times(Harness.Cell(other, n)))
      (n, tb, to, if (tb > 0 && to > 0) to / tb else -1.0)
    }
    Axis(rows, rows.collect { case (n, _, _, r) if r > bound => n },
      cells.filter(times(_) < 0).map(c => s"${c.name}@${c.sf}"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.Scaling <smallDir> <bigDir> <out.json> [longDir] [heapsDir]")
    val Array(smallDir, bigDir, outPath) = args.take(3)
    val longDir = args.lift(3).getOrElse("testdata_longdoc")
    val heapsDir = args.lift(4).getOrElse("testdata_longdoc_heaps")
    val cpus = Harness.envCpus
    val spark = Harness.session(cpus)
    val loadStart = Harness.loadAvg

    val row = axis(spark, smallDir, bigDir, Targets, MaxRatio)
    // LENGTH axis: short (sf0.1) vs long-doc corpus
    val len = axis(spark, smallDir, longDir, LenTargets, MaxLenRatio)
    // HEAPS axis: short (sf0.1) vs vocabulary-growing long-doc corpus
    val heaps = axis(spark, smallDir, heapsDir, HeapsTargets, MaxHeapsRatio)
    val axes = Seq(row, len, heaps)
    val nFailed = axes.flatMap(_.failed).distinct.size

    def fmt(d: Double) = f"$d%.3f"
    def json(a: Axis, baseKey: String, otherKey: String) =
      a.rows.map { case (n, tb, to, r) =>
        s""""$n":{"$baseKey":${fmt(tb)},"$otherKey":${fmt(to)},"ratio":${fmt(r)}}"""
      }.mkString("{", ",", "}")
    def names(ns: Seq[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"scaleup","data_factor":10,"max_ratio":$MaxRatio,""" +
      s""""small_dir":"$smallDir","big_dir":"$bigDir","queries":${json(row, "sf0_1_sec", "sf1_sec")},""" +
      s""""superlinear":${names(row.superlinear)},""" +
      s""""length_axis":{"length_factor":64,"total_chars":"~constant",""" +
      s""""expected_linear_ratio":1.0,"max_ratio":$MaxLenRatio,"long_dir":"$longDir",""" +
      s""""queries":${json(len, "short_sec", "long_sec")},""" +
      s""""superlinear":${names(len.superlinear)}},""" +
      s""""heaps_axis":{"length_factor":64,"vocab":"grows_with_length",""" +
      s""""expected_linear_ratio":1.0,"max_ratio":$MaxHeapsRatio,"heaps_dir":"$heapsDir",""" +
      s""""queries":${json(heaps, "short_sec", "long_sec")},""" +
      s""""superlinear":${names(heaps.superlinear)}},""" +
      s""""n_failed":$nFailed,"timing":"min_of_2_alternating_sweeps",""" +
      s""""env":${Harness.env(cpus, loadStart)}}"""
    Files.writeString(Paths.get(outPath), line + "\n")
    println(line)
    spark.stop()
    if (nFailed > 0 || axes.exists(_.superlinear.nonEmpty)) sys.exit(1)
  }
}

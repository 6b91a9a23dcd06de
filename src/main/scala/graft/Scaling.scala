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
  * Methodology mirrors Bench.scala: each query runs its executed plan to
  * completion via queryExecution.toRdd.count(), two separated sweeps per
  * scale, official time = min of the two (strips transient sandbox
  * contention), session hygiene between queries. The growth bound is
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

  def main(args: Array[String]): Unit = {
    val smallDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val bigDir = args.lift(1).getOrElse("testdata_sf1")
    val outPath = args.lift(2).getOrElse("SCALING_r10.json")
    val longDir = args.lift(3).getOrElse("testdata_longdoc")
    val heapsDir = args.lift(4).getOrElse("testdata_longdoc_heaps")
    val spark = Harness.session()
    val loadStart = Harness.loadAvg

    // warmup (codegen + JVM) on a small query at each dir; i17/i18's
    // persisted span state builds here too (state build is DDL — the
    // measured window must contain only the O(Δ) probe)
    def warmDerived(dir: String): Unit = {
      operators.Dedup.ensureSpanState(spark, dir, baseSlice = true)
      operators.Dedup.ensureSpanState(spark, dir, baseSlice = false)
    }
    Seq(smallDir, bigDir).foreach { dir =>
      try {
        SparkEntry.queries("t21_word_entropy")(spark, dir).queryExecution.toRdd.count()
        warmDerived(dir)
      }
      catch { case e: Throwable => System.err.println(s"[scaling] warmup $dir failed: ${e.getMessage}") }
      Harness.hygiene(spark)
    }

    var failed = List.empty[String]
    def sweep(dir: String, targets: Seq[String] = Targets): Map[String, Double] =
      targets.map { name =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
          name -> (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[scaling] $name @ $dir FAILED: ${e.getMessage}")
            failed ::= s"$name@$dir"
            name -> -1.0
        } finally Harness.hygiene(spark)
      }.toMap

    // two separated sweeps per scale, alternating scales so the two
    // passes of a query are minutes apart (Bench.scala's contention rule)
    val small1 = sweep(smallDir)
    val big1 = sweep(bigDir)
    val small2 = sweep(smallDir)
    val big2 = sweep(bigDir)
    def official(m1: Map[String, Double], m2: Map[String, Double])(n: String): Double =
      if (m1(n) < 0 || m2(n) < 0) -1.0 else math.min(m1(n), m2(n))

    val rows = Targets.map { n =>
      val ts = official(small1, small2)(n)
      val tb = official(big1, big2)(n)
      val ratio = if (ts > 0 && tb > 0) tb / ts else -1.0
      (n, ts, tb, ratio)
    }
    val superlinear = rows.collect { case (n, _, _, r) if r > MaxRatio => n }

    // LENGTH axis: short (sf0.1) vs long-doc corpus, same min-of-2
    // alternating-sweep discipline
    try {
      SparkEntry.queries("t21_word_entropy")(spark, longDir).queryExecution.toRdd.count()
      warmDerived(longDir)
    }
    catch { case e: Throwable => System.err.println(s"[scaling] warmup $longDir failed: ${e.getMessage}") }
    Harness.hygiene(spark)
    val lenShort1 = sweep(smallDir, LenTargets)
    val lenLong1 = sweep(longDir, LenTargets)
    val lenShort2 = sweep(smallDir, LenTargets)
    val lenLong2 = sweep(longDir, LenTargets)
    val lenRows = LenTargets.map { n =>
      val ts = official(lenShort1, lenShort2)(n)
      val tl = official(lenLong1, lenLong2)(n)
      val ratio = if (ts > 0 && tl > 0) tl / ts else -1.0
      (n, ts, tl, ratio)
    }
    val lenSuper = lenRows.collect { case (n, _, _, r) if r > MaxLenRatio => n }

    // HEAPS axis: short (sf0.1) vs vocabulary-growing long-doc corpus
    try SparkEntry.queries("t21_word_entropy")(spark, heapsDir).queryExecution.toRdd.count()
    catch { case e: Throwable => System.err.println(s"[scaling] warmup $heapsDir failed: ${e.getMessage}") }
    Harness.hygiene(spark)
    val hShort1 = sweep(smallDir, HeapsTargets)
    val hLong1 = sweep(heapsDir, HeapsTargets)
    val hShort2 = sweep(smallDir, HeapsTargets)
    val hLong2 = sweep(heapsDir, HeapsTargets)
    val heapsRows = HeapsTargets.map { n =>
      val ts = official(hShort1, hShort2)(n)
      val tl = official(hLong1, hLong2)(n)
      val ratio = if (ts > 0 && tl > 0) tl / ts else -1.0
      (n, ts, tl, ratio)
    }
    val heapsSuper = heapsRows.collect { case (n, _, _, r) if r > MaxHeapsRatio => n }

    def fmt(d: Double) = f"$d%.3f"
    val qjson = rows.map { case (n, ts, tb, r) =>
      s""""$n":{"sf0_1_sec":${fmt(ts)},"sf1_sec":${fmt(tb)},"ratio":${fmt(r)}}"""
    }.mkString("{", ",", "}")
    val lenJson = lenRows.map { case (n, ts, tl, r) =>
      s""""$n":{"short_sec":${fmt(ts)},"long_sec":${fmt(tl)},"ratio":${fmt(r)}}"""
    }.mkString("{", ",", "}")
    val heapsJson = heapsRows.map { case (n, ts, tl, r) =>
      s""""$n":{"short_sec":${fmt(ts)},"long_sec":${fmt(tl)},"ratio":${fmt(r)}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"scaleup","data_factor":10,"max_ratio":$MaxRatio,""" +
      s""""small_dir":"$smallDir","big_dir":"$bigDir","queries":$qjson,""" +
      s""""superlinear":[${superlinear.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""length_axis":{"length_factor":64,"total_chars":"~constant",""" +
      s""""expected_linear_ratio":1.0,"max_ratio":$MaxLenRatio,"long_dir":"$longDir",""" +
      s""""queries":$lenJson,""" +
      s""""superlinear":[${lenSuper.map("\"" + _ + "\"").mkString(",")}]},""" +
      s""""heaps_axis":{"length_factor":64,"vocab":"grows_with_length",""" +
      s""""expected_linear_ratio":1.0,"max_ratio":$MaxHeapsRatio,"heaps_dir":"$heapsDir",""" +
      s""""queries":$heapsJson,""" +
      s""""superlinear":[${heapsSuper.map("\"" + _ + "\"").mkString(",")}]},""" +
      s""""n_failed":${failed.distinct.size},"timing":"min_of_2_alternating_sweeps",""" +
      s""""env":{"cpus":${Runtime.getRuntime.availableProcessors},"load_avg_start":$loadStart,"load_avg_end":${Harness.loadAvg}}}"""
    Files.writeString(Paths.get(outPath), line + "\n")
    println(line)
    spark.stop()
    if (failed.nonEmpty || superlinear.nonEmpty || lenSuper.nonEmpty || heapsSuper.nonEmpty) sys.exit(1)
  }
}

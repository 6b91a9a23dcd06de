package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the Spark analog of ORCA's plan
  * unit tests (`src/backend/gporca/server/src/unittest/gpopt/`, 381 DXL
  * minidumps asserting the chosen plan). Correct rows are not enough:
  * these pin the *scale* properties — pushdown reaching the scan,
  * broadcast joins where a side is dimension-sized, null-aware anti
  * semantics, and above all NO all-pairs joins in the dedup/similarity
  * pipelines (the round-1 scale-killers).
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkSuite._

  private def plan(name: String): String =
    finalPlan(SparkEntry.queries(name)(spark, Sf))

  test("q02: filters are pushed down to the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan") || p.contains("GreaterThanOrEqual"),
      s"expected pushed comparison filters in:\n$p")
  }

  test("q02: scan reads only the projected+filtered columns") {
    val p = plan("q02_filter_pushdown")
    // ReadSchema must not include unreferenced wide columns like l_comment
    assert(!p.contains("l_comment"), s"column pruning failed:\n$p")
  }

  test("q03: dimension side is broadcast (BroadcastHashJoin)") {
    assert(plan("q03_shipping_priority").contains("BroadcastHashJoin"))
  }

  test("x07: RLS policy qual is injected AND pushed into the parquet scan") {
    try {
      val p = plan("x07_rls_policy")
      // the query text never mentions c_mktsegment — only the policy does;
      // seeing it in PushedFilters proves RlsRule planted it at the scan
      assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
        s"policy qual must reach PushedFilters:\n$p")
      // and with no policy registered, the same query plans WITHOUT it
      Harness.hygiene(spark)
      val bare = finalPlan(
        graft.operators.Stats.queries("x07_rls_policy")(spark, Sf))
      // (the query closure re-registers the policy, so build a copy w/o it)
      Harness.hygiene(spark)
      val df = graft.Tables.df(spark, Sf, "customer")
        .join(graft.Tables.df(spark, Sf, "nation"),
          org.apache.spark.sql.functions.col("c_nationkey") ===
            org.apache.spark.sql.functions.col("n_nationkey"))
        .groupBy("n_name").count()
      assert(!finalPlan(df).contains("c_mktsegment"),
        "without a policy the qual must not appear")
      assert(bare.contains("EqualTo(c_mktsegment,BUILDING)"))
    } finally Harness.hygiene(spark)
  }

  test("q05: star join uses broadcast hash joins, no sort-merge on dims") {
    val p = plan("q05_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q08: NOT IN compiles to a null-aware anti join") {
    val p = plan("q08_notin_suppliers")
    assert(p.contains("LeftAnti"), p)
    assert(p.toLowerCase.contains("null-aware") || p.contains("NAAJ")
      || p.contains("isnull"), s"expected null-aware anti join in:\n$p")
  }

  test("q01: aggregation is split partial/final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_"), s"expected partial aggregate in:\n$p")
  }

  test("ch01: chunking is a pure per-row pipeline (no hash shuffle)") {
    val p = plan("ch01_doc_chunking")
    // the only Exchange allowed is the presentation orderBy's range
    // partitioning; a hashpartitioning shuffle would mean the explode
    // stopped being per-row
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash shuffle in chunking:\n$p")
  }

  for (name <- Seq("d02_ngram_jaccard", "d03_minhash_lsh", "d05_simhash_dedup",
    "s02_ann_lsh_buckets", "s03_embedding_near_dup",
    "d06_boilerplate_ngrams", "x02_contamination",
    "d09_containment", "t19_dup_ngram_coverage", "s09_multiprobe_lsh",
    "d13_winnowing")) {
    test(s"$name: no all-pairs join (CartesianProduct / BroadcastNestedLoop)") {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in $name:\n$p")
    }
  }

  test("ct01: fixed-category pivot runs in ONE scan (no values-discovery pass)") {
    // crosstab_hash's category list comes from the caller, so the plan
    // must not contain a second orders scan collecting distinct pivot
    // values — exactly one FileScan of the orders table
    val p = plan("ct01_crosstab").split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
    // the category list is baked into pivotfirst — fixed categories,
    // not a discovered set
    assert(p.contains("9-PHANTOM"), s"fixed category list missing from the plan:\n$p")
  }

  test("q122: HLL sketches partial-aggregate before the exchange (sketch IVM)") {
    // the month partials must combine map-side — the exchange carries
    // sketch states, not rows
    val p = plan("q122_hll_union")
    assert(p.contains("partial_hll_sketch_agg") || p.contains("partial_hllsketchagg")
      || p.toLowerCase.contains("partial_hll"),
      s"no partial sketch aggregation in q122:\n$p")
  }

  test("i13: CDC latest-wins is a map-side max_by, never a window over the log") {
    val p = plan("i13_cdc_compaction")
    assert(!p.contains("Window"), s"window over the change log in i13:\n$p")
    assert(p.contains("partial_max_by") || p.toLowerCase.contains("partial_max"),
      s"no partial max_by in i13:\n$p")
  }

  test("e13: the SCD2 lookup argmax partial-aggregates; no fact-stream window") {
    // the one Window allowed is the VERSION build (lag over changes);
    // the purchase-side lookup itself must be the max_by aggregate
    val p = plan("e13_scd2_lookup")
    assert(p.contains("partial_max_by") || p.toLowerCase.contains("partial_max"),
      s"no partial argmax in e13:\n$p")
  }

  test("r06: no mandatory broadcast — adjacency is edge-sized, AQE decides") {
    // The adjacency relation has |nodes| rows but |edges| total array
    // entries; a forced broadcast of it is a 100 TB scale-killer. Assert
    // the logical plan carries NO broadcast hint anywhere: any
    // BroadcastExchange in the executed plan is then AQE's size-based
    // choice, which degrades gracefully to shuffle joins at scale.
    val df = SparkEntry.queries("r06_triangle_count")(spark, Sf)
    val lp = df.queryExecution.optimizedPlan.toString
    assert(!lp.toLowerCase.contains("broadcast"), s"forced join hint in r06:\n$lp")
    assert(df.head.getLong(2) >= 0L)
  }

  test("r03: native WITH RECURSIVE executes as a recursive union (UnionLoop)") {
    // the SQL-surface recursive CTE — the RecursiveUnion + WorkTableScan
    // pair (nodeRecursiveunion.c) — must run as Spark's UnionLoop
    // operator, not be silently flattened
    val p = SparkEntry.queries("r03_recursive_sql")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("UnionLoop"), s"expected UnionLoop in r03:\n$p")
  }

  test("g02: anchor k-NN ranks via the bounded aggregate, not a window") {
    val p = plan("g02_anchor_knn")
    // a row_number window over corpus×anchors rows sorts everything in
    // |anchors| tasks; the TopKPairs aggregate ships ≤k pairs per group
    assert(!p.contains("Window"), s"expected no WindowExec in g02:\n$p")
    assert(p.contains("BroadcastExchange"), s"anchors must broadcast:\n$p")
  }

  test("fz02: trigram match blocks on posting lists and argmaxes without a window") {
    val p = plan("fz02_trgm_match")
    // candidates come from the tg equi-join (GIN plan analog) — a
    // nested-loop probe×vocab product would show BroadcastNestedLoop;
    // the per-probe best is one min(struct) aggregate, not a sort
    assert(!p.contains("BroadcastNestedLoopJoin"), s"expected no all-pairs join in fz02:\n$p")
    assert(!p.contains("Window"), s"expected no WindowExec in fz02:\n$p")
    assert(p.contains("partial_min"), s"argmax must partial-aggregate map-side:\n$p")
  }

  test("t18: LM scoring broadcasts the census and stays window-free") {
    val p = plan("t18_charlm_score")
    assert(p.contains("BroadcastExchange"), s"the trigram LM must broadcast:\n$p")
    assert(!p.contains("Window"), s"per-doc NLL is an aggregate, not a window:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no all-pairs anywhere:\n$p")
  }

  test("fz03: span scoring — first-occurrence lag, no Expand, no per-(span,tg) dedup agg") {
    val p = plan("fz03_strict_word_sml")
    assert(!p.contains("Expand"), s"dedup-then-count must avoid the MDQA Expand:\n$p")
    // exactly ONE window — the (doc, trigram) lag that replaces the
    // 14M-row per-(span, trigram) dedup aggregate (r7 rewrite); the
    // span aggregate itself must stay a hash agg without tg in the key
    val finalSec = p.split("== Initial Plan ==")(0)
    val wins = "windowspecdefinition".r.findAllIn(finalSec).length
    assert(wins >= 1, s"expected the first-occurrence lag window:\n$p")
    // the only nested-loop is the deliberate 4-row span-length dim
    // (constant-frame broadcast pattern); assert it stays singular
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(finalSec).length
    assert(bnlj <= 1, s"only the 4-row lens dim may nested-loop:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_max"),
      s"span counts must partial-aggregate map-side:\n$p")
  }

  test("i11: the delta probe is an equi-join on the band key") {
    val p = plan("i11_incremental_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"probe must be a band-key equi-join:\n$p")
  }

  test("ml01: the fit is one sufficient-stats aggregate over one fact scan") {
    val p = plan("ml01_linreg")
    // one lineitem scan, partial aggregation, no join/window at all
    val scans = "lineitem\\.parquet".r.findAllIn(p.split("== Initial Plan ==")(0)).length
    assert(scans <= 1, s"normal equations need exactly one fact scan:\n$p")
    assert(p.contains("partial_"), s"sufficient stats must map-side combine:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"), s"no join/window in the fit:\n$p")
  }

  test("g03: spatial overlap join is an equi-join on grid cells") {
    val p = plan("g03_circle_overlap")
    assert(!p.contains("CartesianProduct"), s"cartesian in g03:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in g03:\n$p")
  }

  test("s01: corpus side streams — only the 20-row query set is broadcast") {
    val p = plan("s01_cosine_topk")
    // the theta join (q_id != c_id) must be a broadcast NLJ with the tiny
    // query side built, never a cartesian of corpus x corpus
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // top-k per query runs as a bounded partial/final aggregate, not a
    // sort-the-corpus window
    assert(!p.contains("Window"), s"expected no WindowExec in s01:\n$p")
    assert(p.toLowerCase.contains("partial_top5_pairs"),
      s"expected map-side partial top-k aggregation in s01:\n$p")
  }

  test("s06: quantized + exact top-3 come from ONE pass over the pairs subtree") {
    // AQE prints final + initial sections; count joins in the final one only
    val p = plan("s06_quantized_ann").split("== Initial Plan ==")(0)
    // exactly one join in the whole plan: corpus ⋈ broadcast(queries); the
    // old qtop ⋈ etop re-join (which forced the join + both dot products to
    // compute twice) must be gone
    val joins = "(BroadcastNestedLoopJoin|SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|CartesianProduct)".r
      .findAllIn(p).toSeq
    assert(joins.count(_ == "BroadcastNestedLoopJoin") == 1
      && joins.forall(_ == "BroadcastNestedLoopJoin"),
      s"expected the single corpus x queries join, got $joins in:\n$p")
    // and both TopKPairs buffers sit in the same partial aggregation
    assert("partial_top3_pairs".r.findAllIn(p.toLowerCase).size >= 2,
      s"expected both top-3 aggregates in one map-side pass:\n$p")
  }

  test("e03: as-of join has no window operator (single-shuffle max_by plan)") {
    val p = plan("e03_asof_last_order")
    assert(!p.contains("Window"), s"expected no WindowExec in e03:\n$p")
    assert(p.contains("partial_max") || p.contains("partial_"),
      s"expected map-side partial max in e03:\n$p")
  }

  test("q03: top-k (sort+limit) compiles to TakeOrderedAndProject") {
    val p = plan("q03_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("p01: static partition pruning — scan carries PartitionFilters") {
    val p = plan("p01_partition_pruning")
    assert(p.contains("PartitionFilters: ["), p)
    assert(p.contains("o_month"), p)
  }

  test("p02: dynamic partition pruning — DynamicPruningExpression in scan") {
    val p = plan("p02_dynamic_pruning")
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
      s"expected a DPP filter on the fact scan (nodePartitionSelector analog):\n$p")
  }

  test("p03: both partition levels prune — static LIST filter + dynamic RANGE filter") {
    val p = plan("p03_multilevel_pruning")
    // level 1 (region list) prunes statically in PartitionFilters...
    assert(p.contains("PartitionFilters: ["), p)
    assert(p.contains("o_region IN") || p.contains("o_region#"),
      s"expected a static o_region partition filter:\n$p")
    // ...level 2 (month range) prunes at runtime from the dim join
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
      s"expected DPP on o_month (SUBPARTITION selector analog):\n$p")
  }

  test("q51/q52: custom pg expressions stay inside WholeStageCodegen") {
    // codegen'd stages print as `*(n)` in the physical plan; the custom
    // expression must sit inside one (no CodegenFallback eval in the
    // projection hot path)
    val p1 = plan("q51_to_char")
    assert(p1.contains("*(1) Project") && p1.contains("pg_to_char"), p1)
    val p2 = plan("q52_age")
    assert(p2.contains("*(1) Project") && p2.contains("pg_age"), p2)
    val p3 = plan("q88_to_number")
    assert(p3.contains("pg_to_number") && p3.contains("*("),
      s"expected pg_to_number inside a WholeStageCodegen span:\n$p3")
  }

  test("q65: shared subtree is materialized once (ShareInputScan spool)") {
    val df = SparkEntry.queries("q65_shared_subtree")(spark, Sf)
    val p = finalPlan(df)
    val spools = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd.id
      }
    assert(spools.size == 2 && spools.distinct.size == 1,
      s"expected both join sides to read one spooled aggregate, got RDDs $spools:\n$p")
    assert("Scan parquet|FileScan parquet".r.findFirstIn(p).isEmpty,
      s"the final plan must not scan orders:\n$p")
  }

  test("q58: custom Aggregator splits partial/final across the shuffle") {
    val p = plan("q58_hypothetical_rank")
    assert(p.contains("partial_hyprank") || p.contains("partial_HypRank")
      || p.toLowerCase.contains("partial_hyp_rank"),
      s"expected partial aggregation of the UDAF (combinefunc analog):\n$p")
  }

  test("q85: multirange normalization reuses ONE o_custkey shuffle across window + 2 aggs") {
    val p = plan("q85_multirange").split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"expected the window and both grouped aggregates to share one hash shuffle, got $shuffles:\n$p")
  }

  test("q86: hypothetical percent_rank/cume_dist split partial/final across the shuffle") {
    val p = plan("q86_hypothetical_dist").toLowerCase
    assert(p.contains("partial_hyp_percent_rank") || p.contains("partial_hyppercentrank"),
      s"expected map-side partial hypothetical aggregation:\n$p")
  }

  test("q61: HLL sketch aggregates partially before the shuffle") {
    val p = plan("q61_approx_distinct")
    assert(p.contains("partial_approx_count_distinct"), p)
  }

  test("i03: AQUMV rule answers the aggregate from the matview scan") {
    val df = SparkEntry.queries("i03_aqumv")(spark, Sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    // rewritten plan reads the matview schema (cents), no aggregate, no
    // base-table column
    assert(optimized.contains("cents#") && !optimized.contains("Aggregate")
      && !optimized.contains("o_totalprice"),
      s"expected the matview scan to replace the aggregate (aqumv.c rewrite):\n$optimized")
    // and with the rule disabled, the base table is aggregated
    spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
    try {
      val off = SparkEntry.queries("i03_aqumv")(spark, Sf)
      // i03 re-enables the conf; disable again before optimizing
      spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
      val offPlan = off.queryExecution.optimizedPlan.toString
      assert(offPlan.contains("Aggregate") && offPlan.contains("o_totalprice"), offPlan)
    } finally spark.conf.set(graft.rules.AqumvRule.EnabledConf, "true")
  }

  test("i04: AQUMV superset rollup re-aggregates the matview, not the base table") {
    val df = SparkEntry.queries("i04_aqumv_rollup")(spark, Sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    // the coarser query must aggregate the matview columns (mv_cnt /
    // mv_cents) and never touch the orders fact columns
    assert(optimized.contains("mv_cents#") && optimized.contains("Aggregate")
      && !optimized.contains("o_totalprice"),
      s"expected a re-aggregation of the matview (aqumv.c superset rollup):\n$optimized")
    // with the rule disabled, the base table is aggregated
    spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
    try {
      val off = SparkEntry.queries("i04_aqumv_rollup")(spark, Sf)
      spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
      val offPlan = off.queryExecution.optimizedPlan.toString
      assert(offPlan.contains("o_totalprice") && !offPlan.contains("mv_cents#"), offPlan)
    } finally spark.conf.set(graft.rules.AqumvRule.EnabledConf, "true")
  }

  test("AQUMV rollup rejects aggregates over group columns (wrong multiplicity)") {
    import org.apache.spark.sql.functions._
    // registers the (status, priority) matview and enables the rule
    SparkEntry.queries("i04_aqumv_rollup")(spark, Sf).collect()
    try {
      // count(group_col) / sum(f(group_col)) are NOT derivable from the
      // matview (one row per GROUP, not per base row): the rule must
      // leave the base-table plan alone. This was r11's x11 corruption:
      // the old clean-check accepted count(o_orderstatus) rewritten to
      // a count over 15 matview rows.
      val df = Tables.df(spark, Sf, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(col("o_orderstatus")).as("n_nonnull"),
          sum(length(col("o_orderstatus"))).as("width"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("mv_cents#") && !optimized.contains("mv_cnt#"),
        s"aggregate over a group column must not be answered by the matview:\n$optimized")
      // and the values are the base-table truth
      val n = df.agg(sum(col("n_nonnull"))).head().getLong(0)
      val base = Tables.df(spark, Sf, "orders").count()
      assert(n == base, s"count(group col) must count base rows: $n vs $base")
    } finally {
      spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
      graft.rules.AqumvRule.clear()
    }
  }

  test("i10: AQUMV answers a WHERE on a group column from the filtered matview") {
    val df = SparkEntry.queries("i10_aqumv_filter")(spark, Sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    // the filtered query must re-aggregate the matview with the filter
    // applied to the matview's group column — never touch the fact table
    assert(optimized.contains("mv_cents#") && !optimized.contains("o_totalprice"),
      s"expected a filter+re-aggregation of the matview (aqumv.c WHERE matching):\n$optimized")
    assert(optimized.contains("Filter") && optimized.contains("= F)"),
      s"expected the status filter applied to the matview scan:\n$optimized")
    // a filter on a MEASURE column must kill the rewrite
    val measureFiltered = Tables.df(spark, Sf, "orders")
      .filter(org.apache.spark.sql.functions.col("o_totalprice") > 100.0)
      .groupBy(org.apache.spark.sql.functions.col("o_orderpriority"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val mp = measureFiltered.queryExecution.optimizedPlan.toString
    assert(mp.contains("o_totalprice") && !mp.contains("mv_cents#"),
      s"a measure filter must NOT be answered from the matview:\n$mp")
  }

  test("c03: DSv2 series source — filters pushed into the range, columns pruned") {
    val p = plan("c03_series_source")
    // the BETWEEN folded into the source's generation bounds
    assert(p.contains("range=[250000, 750000]"),
      s"expected the i-range filters pushed into the SeriesScan:\n$p")
    // `label` is never computed: the scan's read schema is i,sq only
    assert(p.contains("cols=i,sq") && !p.contains("label"),
      s"expected column pruning to drop `label`:\n$p")
    // and no Filter node survives above the scan (all predicates consumed)
    assert(!p.contains("Filter ("), s"expected no post-scan filter:\n$p")
  }

  test("c03: DSv2 series source plans one input partition per slice") {
    val df = spark.read.format("graft.sources.SeriesSource")
      .option("start", 1L).option("end", 1000L).option("partitions", 8)
      .load()
    assert(df.rdd.getNumPartitions == 8)
    // and the declined filter stays in the plan: label is not pushable
    val filtered = df.filter(org.apache.spark.sql.functions.col("label") === "n7")
    assert(filtered.count() == 10L) // 7, 107, ..., 907
    val fp = finalPlan(filtered)
    assert(fp.contains("Filter"), s"non-range filter must stay above the scan:\n$fp")
  }

  test("AQUMV rollup decomposes a DECIMAL avg through sum/count (numeric parity)") {
    import org.apache.spark.sql.functions._
    val dec = "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(18, 2))"
    val mvDef = graft.Tables.df(spark, Sf, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(expr(s"sum($dec)").as("dmv_sum"), expr(s"count($dec)").as("dmv_cnt"))
    val path = Derived.path("test", "mv_decimal_avg")
    mvDef.write.mode("overwrite").parquet(path)
    graft.rules.AqumvRule.register(mvDef, path)
    spark.conf.set(graft.rules.AqumvRule.EnabledConf, "true")
    def query() = graft.Tables.df(spark, Sf, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(expr(s"avg($dec)").as("avg_dec"))
      .orderBy(col("o_orderpriority"))
    val on = query()
    val onPlan = on.queryExecution.optimizedPlan.toString
    assert(onPlan.contains("dmv_sum#") && !onPlan.contains("o_totalprice"),
      s"expected the decimal avg to be answered from the matview:\n$onPlan")
    val onRows = on.collect().map(_.toSeq).toSeq
    spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
    try {
      val offRows = query().collect().map(_.toSeq).toSeq
      assert(onRows == offRows,
        s"decimal avg decomposition drifted:\nmv : $onRows\nbase: $offRows")
    } finally spark.conf.set(graft.rules.AqumvRule.EnabledConf, "true")
  }

  test("x03: eager-agg rule plants the partial aggregate below the join (rule on/off)") {
    import graft.rules.EagerAggRule
    val on = SparkEntry.queries("x03_eager_agg")(spark, Sf)
    val onPlan = on.queryExecution.optimizedPlan.toString
    // two Aggregates: the final one above the join, the planted partial
    // (grouping by the join key, carrying partial_sum/partial_count) below
    assert("Aggregate \\[".r.findAllIn(onPlan).size == 2
      && onPlan.contains("partial_sum") && onPlan.contains("partial_count")
      && onPlan.indexOf("Join") < onPlan.lastIndexOf("Aggregate ["),
      s"expected a pre-join partial aggregate (CXformEagerAgg):\n$onPlan")
    val onRows = on.collect().map(_.toSeq).toSeq
    spark.conf.set(EagerAggRule.EnabledConf, "false")
    try {
      val off = SparkEntry.queries("x03_eager_agg")(spark, Sf)
      spark.conf.set(EagerAggRule.EnabledConf, "false") // x03 re-enables it
      val offPlan = off.queryExecution.optimizedPlan.toString
      assert("Aggregate \\[".r.findAllIn(offPlan).size == 1
        && !offPlan.contains("partial_sum"),
        s"rule-off plan must keep the single post-join aggregate:\n$offPlan")
      assert(off.collect().map(_.toSeq).toSeq == onRows,
        "eager aggregation changed the result")
    } finally spark.conf.set(EagerAggRule.EnabledConf, "true")
  }

  test("x04: Catalyst removes the unused unique left join (remove_useless_joins analog)") {
    // Postgres's remove_useless_joins (analyzejoins.c) is native in
    // Catalyst: ColumnPruning narrows the enrichment side to its unique
    // key, then EliminateOuterJoin drops the contribution-less unique
    // left join (we verified by rule-exclusion that BOTH are required).
    // This pin is the coverage claim — if a Spark upgrade loses it, x04
    // needs a custom rule again.
    val df = SparkEntry.queries("x04_join_elim")(spark, Sf)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("Join"),
      s"expected the enrichment left join to be eliminated:\n$p")
  }

  test("x04: no elimination when the right side is not unique on the join key") {
    import org.apache.spark.sql.functions._
    // right side = raw lineitem keyed by l_orderkey (many rows per key):
    // dropping the join would change row counts — it must survive
    val orders = Tables.df(spark, Sf, "orders").select(col("o_orderkey"), col("o_orderpriority"))
    val li = Tables.df(spark, Sf, "lineitem").select(col("l_orderkey"), col("l_quantity"))
    val df = orders.join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("Join LeftOuter"),
      s"non-unique right side must NOT be eliminated:\n$p")
  }

  test("x03: eager-agg handles composite join keys (pre-agg groups by both)") {
    import org.apache.spark.sql.functions._
    spark.conf.set(graft.rules.EagerAggRule.EnabledConf, "true")
    val dims = Tables.df(spark, Sf, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .withColumn("grp", pmod(col("user_id"), lit(10)))
    val facts = Tables.df(spark, Sf, "events")
      .select(col("user_id").as("f_user"), col("event_type").as("f_type"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v"),
        col("ts").cast("long").as("f_ts"))
    def query() = dims.join(facts,
        col("user_id") === col("f_user") && col("event_type") === col("f_type"))
      .groupBy(col("grp")).agg(sum(col("v")).as("total"), max(col("f_ts")).as("last_ts"))
    val df = query()
    val p = df.queryExecution.optimizedPlan.toString
    // the planted partial aggregate must group by BOTH join keys
    assert("Aggregate \\[".r.findAllIn(p).size >= 2 && p.contains("partial_sum"),
      s"expected a pre-join partial aggregate on the composite key:\n$p")
    // and the rewrite is exact
    spark.conf.set(graft.rules.EagerAggRule.EnabledConf, "false")
    try {
      val off = query()
      assert(df.collect().map(_.toSeq).toSet == off.collect().map(_.toSeq).toSet)
    } finally spark.conf.set(graft.rules.EagerAggRule.EnabledConf, "true")
  }

  test("x03: eager-agg cost gate — no push when the measure side is the SMALLER one") {
    import org.apache.spark.sql.functions._
    spark.conf.set(graft.rules.EagerAggRule.EnabledConf, "true")
    // measures come from orders (smaller than lineitem): pushing would
    // pre-aggregate the small side for nothing — ORCA's cost call says no
    val li = Tables.df(spark, Sf, "lineitem").select(col("l_orderkey"), col("l_returnflag"))
    val orders = Tables.df(spark, Sf, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val df = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val p = df.queryExecution.optimizedPlan.toString
    assert("Aggregate \\[".r.findAllIn(p).size == 1 && !p.contains("partial_sum"),
      s"cost gate failed — the small side was pre-aggregated:\n$p")
  }

  test("eager-agg rollup variant: exact for sum/count/min/max/avg, declines DISTINCT") {
    import org.apache.spark.sql.functions._
    spark.conf.set(graft.rules.EagerAggRule.EnabledConf, "true")
    Tables.register(spark, Sf)
    // all five decomposable aggregate classes over a 3-level rollup
    val sql = """
      SELECT l_returnflag, l_linestatus, l_partkey % 10 AS pk,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
             count(*) AS n, count(l_suppkey) AS ns,
             min(l_shipdate) AS mn, max(l_shipdate) AS mx,
             avg(CAST(l_extendedprice AS DOUBLE)) AS av
      FROM lineitem
      GROUP BY ROLLUP(l_returnflag, l_linestatus, l_partkey % 10)"""
    def run() = spark.sql(sql)
    val on = run()
    val onPlan = on.queryExecution.optimizedPlan.toString
    val onLines = onPlan.linesIterator.toSeq
    assert(onPlan.contains("AS partial_sum") &&
      "Aggregate \\[".r.findAllIn(onPlan).size == 2 &&
      onLines.indexWhere(_.contains("Expand")) <
        onLines.indexWhere(_.contains("AS partial_sum")),
      s"expected the pre-aggregate planted below the Expand:\n$onPlan")
    val onRows = on.collect().map(_.toSeq.map {
      case d: Double => math.round(d * 1e6) // avg: sum/count assoc-rounding
      case v => v
    }).toSet
    spark.conf.set(graft.rules.EagerAggRule.EnabledConf, "false")
    try {
      val off = run()
      assert(!off.queryExecution.optimizedPlan.toString.contains("partial_sum"))
      val offRows = off.collect().map(_.toSeq.map {
        case d: Double => math.round(d * 1e6)
        case v => v
      }).toSet
      assert(onRows == offRows, "rollup eager aggregation changed the result")
      // a DISTINCT aggregate is duplicate-sensitive in the wrong way —
      // the rule must decline (grouping-sets DISTINCT plans differently,
      // but assert no partial is ever planted)
      spark.conf.set(graft.rules.EagerAggRule.EnabledConf, "true")
      val dq = spark.sql("""
        SELECT l_returnflag, count(DISTINCT l_partkey) AS nd
        FROM lineitem GROUP BY ROLLUP(l_returnflag)""")
      assert(!dq.queryExecution.optimizedPlan.toString.contains("partial_"),
        "DISTINCT aggregate must not be pre-aggregated below Expand")
      assert(dq.collect().length >= 2)
    } finally spark.conf.set(graft.rules.EagerAggRule.EnabledConf, "true")
  }

  test("c04: exec source prunes unread columns (ReadSchema shrinks)") {
    val df = spark.read.format("graft.sources.ExecSource")
      .option("command", "echo '1|a'; echo '2|b'")
      .option("columns", "n bigint, label string")
      .option("partitions", 1)
      .load()
      .select(org.apache.spark.sql.functions.col("n"))
    val p = finalPlan(df)
    assert(p.contains("cols=n") && !p.contains("cols=n,label"),
      s"expected the scan to emit only `n`:\n$p")
  }

  test("b01: bucketed join runs co-located — no shuffle exchange (DISTRIBUTED BY)") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (ot, lt) = operators.Bucketed.ensure(spark, Sf)
      val joined = spark.table(lt).join(spark.table(ot),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = finalPlan(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"bucketed sides must join without any motion (gp_distribution_policy):\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    }
  }

  test("e08: cohort rollup has no Expand and no Window (plain counts, not DQA)") {
    val p = plan("e08_retention_cohorts")
    assert(!p.contains("Expand"), s"DISTINCT-aggregate Expand crept back into e08:\n$p")
    assert(!p.contains("Window"), s"window sort crept back into e08:\n$p")
  }

  test("q95: DISTINCT ON runs as a hash aggregate, not a window") {
    val p = plan("q95_distinct_on")
    assert(!p.contains("Window"), s"DISTINCT ON must not sort partitions:\n$p")
    assert(p.contains("partial_max") || p.contains("max("),
      s"expected max(struct) aggregate in:\n$p")
  }

  test("t10: the per-doc TF slice broadcasts into the corpus-wide DF join") {
    val p = plan("t10_tfidf")
    assert(p.contains("BroadcastHashJoin"), s"TF slice must broadcast:\n$p")
  }

  test("e10: OHLC bars aggregate in one hash shuffle (no window, partial/final split)") {
    val p = plan("e10_ohlc_bars").split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), s"OHLC must not use a window sort:\n$p")
    assert(p.contains("partial_"), s"expected map-side combine in:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected exactly 1 hash shuffle, got $shuffles:\n$p")
  }

  test("m05: phash pipeline shuffles only on the band key (one hash exchange)") {
    val p = plan("m05_phash_neardup").split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    // one groupBy(band, band_key) + the pair distinct = 2 hash exchanges max
    assert(shuffles <= 2, s"phash pipeline grew extra shuffles ($shuffles):\n$p")
    assert(!p.toLowerCase.contains("cartesianproduct"), s"no all-pairs join allowed:\n$p")
  }

  test("b02: sorted buckets elide the merge-join sort — no Sort node (IncrementalSort)") {
    // one file per bucket (Bucketed.ensure repartitions on the bucket
    // key) → FileSourceScanExec reports outputOrdering on the sort key →
    // SortMergeJoin needs neither Exchange NOR Sort. PG reaches the same
    // presorted input with nodeIncrementalSort.c; here the whole sort
    // disappears.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (ot, lt) = operators.Bucketed.ensure(spark, Sf)
      val joined = spark.table(lt).join(spark.table(ot),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = finalPlan(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"presorted buckets must not shuffle:\n$p")
      assert(!p.contains("Sort "), s"presorted buckets must not re-sort (IncrementalSort analog):\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    }
  }

  test("x01: ANALYZE stats + CBO reorder the bad-order join (ORCA CJoinOrderDPv2 analog)") {
    // red/green on the STATS axis: identical twin tables, identical query,
    // identical confs — the only difference is ANALYZE. The DP search
    // requires rowCounts, so it can only repair the analyzed side.
    val analyzed = operators.Stats.ensure(spark, Sf) // also turns CBO on
    val nostats = operators.Stats.ensureUnanalyzed(spark, Sf)
    def leafOrder(tables: (String, String, String)): Seq[String] = {
      val plan = operators.Stats.badOrderJoin(spark, Sf, tables).queryExecution.optimizedPlan
      plan.collectLeaves().map(_.toString).map { s =>
        Seq("lineitem", "orders", "customer").find(s.contains).getOrElse("?")
      }
    }
    val green = leafOrder(analyzed)
    val red = leafOrder(nostats)
    assert(red == Seq("customer", "orders", "lineitem"),
      s"without stats the bad syntactic order must survive, got $red")
    assert(green != red, s"CBO failed to repair the order with stats: $green")
    // with stats the filtered fact (tiny per column stats) joins first
    assert(green.take(2).contains("lineitem"),
      s"the selective lineitem filter should join early, got $green")
  }

  test("TPC-H battery: no cartesian products anywhere") {
    for (name <- SparkEntry.queries.keys.filter(_.startsWith("h")).toSeq.sorted) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"cartesian in $name:\n$p")
    }
  }

  test("h02: ONE lineitem aggregation — window-min form, no correlated re-derivation") {
    val p = plan("h02_min_cost_supplier")
    // the cost CTE must be derived exactly once: Spark can't share a
    // non-cached CTE across a correlated-subquery boundary, so the
    // textbook Q2 form scanned+aggregated lineitem twice (r6 verdict #7)
    // AQE renders "== Final Plan ==" then "== Initial Plan ==" — count
    // scans in the final section only, or every node doubles
    val lineitemScans = p.split("== Initial Plan ==")(0).linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1, s"expected exactly 1 lineitem scan, got $lineitemScans:\n$p")
  }

  test("v01: corpus streams against a broadcast query side; no cartesian") {
    val p = plan("v01_svec_cosine")
    assert(!p.contains("CartesianProduct"), s"cartesian in v01:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the 5-doc query side broadcast in:\n$p")
  }

  test("s04: centroid assignment partial-aggregates map-side (argmin via groupBy)") {
    val p = plan("s04_ivf_ann")
    // min(struct).over(partitionBy) would shuffle corpus×8 candidate rows;
    // the groupBy argmin must plan as partial/final aggregate instead
    assert(p.contains("partial_min"), s"expected map-side partial argmin in:\n$p")
  }

  test("h04: correlated EXISTS decorrelates to a semi join") {
    assert(plan("h04_order_priority").contains("Semi"))
  }

  test("h22: NOT EXISTS decorrelates to an anti join") {
    assert(plan("h22_sales_opportunity").contains("Anti"))
  }

  test("h21: both correlated subqueries decorrelate to one semi + one anti join") {
    val p = plan("h21_suppliers_kept_waiting")
    // the EXISTS (another supplier in the order) must become a LeftSemi
    // and the NOT EXISTS (no OTHER late supplier) a LeftAnti — never a
    // per-row re-execution of lineitem
    assert(p.contains("Semi"), s"expected a semi join in:\n$p")
    assert(p.contains("Anti"), s"expected an anti join in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in h21:\n$p")
  }

  test("h06: scan-only aggregate — both filters pushed, no join, no wide columns") {
    val p = plan("h06_forecast_revenue")
    assert(p.contains("PushedFilters: ["), p)
    // shipdate range must reach the parquet reader (partition of the
    // pushdown microbenchmark's point)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("l_shipdate"),
      s"expected shipdate pushdown in:\n$p")
    assert(!p.contains("Join"), s"Q6 must be join-free:\n$p")
  }

  test("h05: nation/region dims broadcast; fact joins shuffle on keys") {
    val p = plan("h05_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in h05:\n$p")
  }

  test("ds72: fact-fact shortfall join shuffles on the part key, no cartesian") {
    val p = plan("ds72_inventory_shortfall")
    assert(!p.contains("CartesianProduct"), s"cartesian in ds72:\n$p")
    // demand ⋈ supply is two fact-scale aggregates — must be a shuffled
    // equi-join (hash or sort-merge), never a broadcast of a fact side
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no equi-join in ds72:\n$p")
  }

  test("ds23: both IN-subqueries decorrelate to semi joins") {
    val p = plan("ds23_best_customer_items")
    assert(p.contains("Semi"), s"expected semi joins in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in ds23:\n$p")
  }

  test("ds67: rollup plans one Expand + hash aggregate, rank one window") {
    val p = plan("ds67_rollup_rank")
    assert(p.contains("Expand"), s"expected rollup Expand in:\n$p")
    val finalSection = p.split("== Initial Plan ==")(0)
    // \bWindow\b: the Window node itself, not WindowGroupLimit (the
    // rank<=N pushdown Spark inserts above it)
    val windows = finalSection.linesIterator.count(_.matches(".*\\bWindow\\b.*"))
    assert(windows == 1, s"expected exactly 1 Window, got $windows:\n$p")
  }

  test("ds67: Expand's child is the finest-key pre-aggregate, not the join") {
    // the eager-agg rollup variant (r12 verdict #3): the ROLLUP's ×5
    // Expand must multiply the (brand,type,yr,mon) census (~12 k rows at
    // sf0.1), never the 3-table join output (~600 k) — at 100 TB that is
    // k× the group census through the grouping shuffle vs k× the fact
    val p = plan("ds67_rollup_rank").split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toSeq
    val expandIdx = lines.indexWhere(_.contains("Expand"))
    assert(expandIdx >= 0, s"no Expand in:\n$p")
    val below = lines.drop(expandIdx + 1)
    val aggIdx = below.indexWhere(_.contains("HashAggregate"))
    val joinIdx = below.indexWhere(l =>
      l.contains("Join") || l.contains("CartesianProduct"))
    assert(aggIdx >= 0 && (joinIdx < 0 || aggIdx < joinIdx),
      s"Expand must sit on the pre-aggregate (HashAggregate before any Join below it):\n$p")
    // and the pre-aggregate combines map-side before its exchange
    assert(p.contains("partial_sum"), s"pre-agg must split partial/final:\n$p")
  }

  test("ch04: epoch shuffle head is a distributed top-k, not a corpus-wide window") {
    val p = plan("ch04_epoch_shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected distributed top-k for the shuffle head in:\n$p")
    // the row_number window must sit ABOVE the LIMIT (25 rows), never
    // under it on the full corpus: exactly one Window, one top-k
    val finalSection = p.split("== Initial Plan ==")(0)
    assert(finalSection.linesIterator.count(_.matches(".*\\bWindow\\b.*")) == 1, p)
  }

  test("t15: split assignment is shuffle-free until the per-split rollup") {
    val p = plan("t15_train_split")
    // one aggregation exchange (plus AQE reads); no join/window before it
    assert(!p.contains("Window"), s"no window expected in t15:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no fact join expected in t15:\n$p")
  }

  test("fz01: probe match is broadcast + one map-side-combined argmin, no window") {
    val p = plan("fz01_levenshtein_match")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"probes must broadcast against the corpus scan:\n$p")
    assert(!p.contains("Window"), s"argmin must be an aggregate, not a window:\n$p")
    assert(p.contains("partial_min"), s"expected map-side partial min:\n$p")
  }

  test("l01: ancestor set broadcasts; the corpus is never shuffled for the join") {
    val p = plan("l01_ltree_isparent")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast ancestor join in:\n$p")
  }

  test("q113: tag arrays build in one aggregate, probes evaluate join-free") {
    val p = plan("q113_intarray_tags")
    assert(!p.contains("Join"), s"probe predicates must not join:\n$p")
    assert(p.contains("partial_collect_set") || p.contains("ObjectHashAggregate"),
      s"expected map-side collect_set partials:\n$p")
  }

  test("g04: per-row trig stays in codegen; rollup is a partial agg") {
    val p = plan("g04_earth_distance")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"expected map-side partials in:\n$p")
  }

  test("s07: per-iteration argmin is a map-side min over broadcast centroids, no window") {
    val p = plan("s07_kmeans_lloyd")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast against the corpus scan:\n$p")
    assert(!p.contains("Window"),
      s"assignment argmin must be an aggregate, not a window:\n$p")
    assert(p.contains("partial_min"), s"expected map-side partial min:\n$p")
  }

  test("e12: both SCD2 windows partition by user_id — no global sort") {
    val p = plan("e12_scd2_history")
    assert(!p.contains("Window [") ||
      !p.linesIterator.exists(l => l.contains("Window") && !l.contains("user_id")),
      s"every Window must partition by user_id:\n$p")
  }

  test("dq01: FK orphan check is an anti join, not a materialized except") {
    val p = plan("dq01_constraint_audit")
    assert(p.contains("LeftAnti"), s"expected LEFT ANTI join in:\n$p")
  }

  test("r04: PageRank iterations are partial-agg shuffles, no cartesian product") {
    val p = plan("r04_pagerank")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the rank loop:\n$p")
    assert(p.contains("partial_sum"), s"expected map-side contrib sums:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("t16: top merge pairs come from a distributed top-k over the word census") {
    val p = plan("t16_bpe_merge_pairs")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k, not global sort:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("m06: the island window partitions by doc_id — no global sort") {
    val p = plan("m06_energy_segments")
    assert(!p.linesIterator.exists(l => l.contains("Window") && !l.contains("doc_id")),
      s"the segmentation window must partition by doc_id:\n$p")
  }

  test("h19: the OR-of-ANDs bracket still pushes per-table filters to the scans") {
    val p = plan("h19_bracketed_revenue")
    // Catalyst extracts a per-side disjunction from the cross-table OR —
    // both scans must carry a pushed Or(Or(And(...))) bracket
    assert(p.contains("Or(Or(And("), s"expected a pushed Or filter:\n$p")
  }

  test("base scans expose row-group statistics filters (zone-map analog)") {
    // reference: PAX sparse filters / AOCS block directory; in Spark the
    // parquet scan itself must carry the pushed predicates
    val df = Tables.df(spark, Sf, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === 1L)
    assert(finalPlan(df).contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)]"))
  }

  test("ch02: corpus-wide window runs per (source, bucket), never per source alone") {
    // the distributed prefix sum: the only window over the FULL documents
    // relation is keyed (source, bkt) — a source-only window over the
    // corpus would serialize each source through one task. The source-only
    // window that does exist runs over the tiny bucket-subtotal relation.
    val p = plan("ch02_sequence_packing")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(windows.nonEmpty, s"expected window nodes in:\n$p")
    assert(windows.exists(w => w.contains("source") && w.contains("bkt")),
      s"expected a (source, bkt)-keyed window in:\n$p")
  }

  test("d08: representative selection is one map-side-combinable aggregate, no window") {
    // argmax via max_by partial-aggregates to |clusters| rows before the
    // exchange (the r6-verdict s04 pattern); a window formulation would
    // shuffle every member row
    val p = plan("d08_cluster_representatives")
    assert(!p.contains("windowspecdefinition"),
      s"cluster representative should not use a window:\n$p")
    assert(p.contains("partial_max_by") || p.contains("partial_"),
      s"expected partial aggregation in:\n$p")
  }

  test("q79: correlated LATERAL LIMIT decorrelates — no per-outer-row rescan") {
    // PG executes this as a rescanning nestloop with params; at scale we
    // need Catalyst's decorrelation into a ranked-window (or equivalent
    // joined) plan: one pass over customer, no cartesian/loop artifacts
    val p = plan("q79_lateral_topn")
    assert(!p.contains("CartesianProduct"), s"lateral fell back to cartesian:\n$p")
    assert(p.contains("windowspecdefinition") || p.contains("TakeOrdered")
      || p.contains("row_number"),
      s"expected decorrelated ranked plan for lateral limit:\n$p")
  }

  test("ml02: regr aggregate family is one partial/final hash aggregate") {
    val p = plan("ml02_regr_aggs")
    assert(p.contains("partial_"), s"expected map-side partial moments in:\n$p")
    assert(!p.contains("windowspecdefinition"), p)
  }

  test("e14: interval join runs banded — equi-join on bucket, no nested-loop") {
    // the range predicate must ride an equi-join on the day bucket;
    // a BroadcastNestedLoopJoin/CartesianProduct means the banding
    // rewrite stopped working and the plan is |A|x|B| at scale
    val p = plan("e14_interval_join")
    assert(!p.contains("CartesianProduct"), s"interval join fell back to cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"interval join is nested-loop:\n$p")
  }

  test("r06: triangle count joins stay hash equi-joins (oriented wedge join)") {
    val p = plan("r06_triangle_count")
    assert(!p.contains("CartesianProduct"), s"triangle join fell back to cartesian:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected hash/merge equi-joins in:\n$p")
  }

  test("ds88: eight time-band counts run as ONE scan of events") {
    // the spec's literal 8-subquery form is 8 fact scans; the FILTER'd
    // aggregate must collapse them into a single pass + single agg
    // executedPlan.toString for an AQE plan repeats the tree under
    // "== Initial Plan ==" — count scans in the final section only
    val p = plan("ds88_timeband_counts").split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 events scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"band counts must not join:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial counts:\n$p")
  }

  test("ds04: year_total is spooled once — 2 fact scans, not 8") {
    // the 4-way self-join must run over the localCheckpoint spool (PG's
    // materialized multi-ref CTE); inlining would scan lineitem+orders
    // 4x each
    val p = plan("ds04_yoy_growth").split("== Initial Plan ==")(0)
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"self-joins must read the spool, got $scans parquet scans:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("ExistingRDD"),
      s"expected the checkpointed year_total spool:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds04 went cartesian:\n$p")
  }

  test("ds14: cross_items semi-joins into the fact scan; branch scans are column-pruned") {
    val p = plan("ds14_cross_channel")
    assert(p.contains("LeftSemi"), s"expected IN-subquery as semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds14 went cartesian:\n$p")
    // the INTERSECT branches must not drag unreferenced lineitem columns
    assert(!p.contains("l_comment") && !p.contains("l_suppkey"),
      s"INTERSECT branch scans are not column-pruned:\n$p")
    assert(p.contains("Expand"), s"expected the ROLLUP Expand:\n$p")
  }

  test("ds24: purchase-return match is an equi-join on the compound key, never all-pairs") {
    val p = plan("ds24_returned_netpaid")
    assert(!p.contains("CartesianProduct"), s"ds24 went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"ds24 is nested-loop:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial aggregation:\n$p")
  }

  test("ds28: six band aggregates run as ONE scan with ONE shared Expand") {
    // the spec's literal six-subquery form is six fact scans; the
    // FILTER'd-aggregate collapse (ds88) plus a single Expand for the
    // five DISTINCT counts is the scale-correct plan
    val p = plan("ds28_band_stats").split("== Initial Plan ==")(0)
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 lineitem scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"band stats must not join:\n$p")
    val expands = "Expand".r.findAllIn(p).length
    assert(expands == 1, s"the five DISTINCT counts must share ONE Expand, got $expands:\n$p")
  }

  test("ds39: the moment CTE is spooled — the month-pair self-join reads no parquet") {
    // inlined, the 2x-referenced cov CTE would scan lineitem twice;
    // spooled, the self-join runs over the |parts x months| checkpoint
    val p = plan("ds39_inventory_cov").split("== Initial Plan ==")(0)
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"self-join must read the spool, got $scans parquet scans:\n$p")
    assert(p.contains("ExistingRDD"), s"expected the checkpointed cov39 spool:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds39 went cartesian:\n$p")
  }

  test("ds78: channel joins are equi-joins on the shared key — never all-pairs") {
    val p = plan("ds78_channel_ratio")
    assert(!p.contains("CartesianProduct"), s"ds78 went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"ds78 is nested-loop:\n$p")
    // the LEFT JOIN + IS NULL return filter keeps its outer join form
    // (the spec's literal text); the final ss x ws join is an equi-join
    // on (yr, cust, part) with map-side partial aggregation below it
    assert(p.contains("partial_"), s"expected map-side partial aggregation:\n$p")
  }

  test("ds95: both chained EXISTS plan as semi-joins on the order key") {
    val p = plan("ds95_chained_exists")
    assert("LeftSemi".r.findAllIn(p).length >= 2,
      s"both IN-subqueries must be semi-joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds95 went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"ds95 is nested-loop:\n$p")
    // r15: every join side is fact-scale — the MERGE hints must hold
    // the shuffle plan (AQE used to broadcast the 600k-row self-join
    // side twice; see PROF_r15's ds16/ds95 section)
    assert(!p.contains("BroadcastExchange"),
      s"no fact-scale side may broadcast in ds95:\n$p")
  }

  test("ds64: the 8-relation CTE is spooled — the year-pair self-join reads no parquet") {
    val p = plan("ds64_wide_twoyear").split("== Initial Plan ==")(0)
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"self-join must read the spool, got $scans parquet scans:\n$p")
    assert(p.contains("ExistingRDD"), s"expected the checkpointed cross_sales64 spool:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds64 went cartesian:\n$p")
  }

  test("ds59: the weekday pivot spools once — the year-pair self-join reads no parquet") {
    // the six FILTER'd day sums share ONE aggregate (never seven
    // scans), and the 2x-referenced pivot is spooled (the ds39
    // discipline) so the self-join reads |nations x weeks| rows
    val p = plan("ds59_weekly_pivot").split("== Initial Plan ==")(0)
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"self-join must read the spool, got $scans parquet scans:\n$p")
    assert(p.contains("ExistingRDD"), s"expected the checkpointed wk59 spool:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds59 went cartesian:\n$p")
  }

  test("ds73: the visit band filters ON the aggregate; dims broadcast into the survivors") {
    val p = plan("ds73_visit_band")
    assert(!p.contains("CartesianProduct"), s"ds73 went cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"customer/nation dims should broadcast:\n$p")
  }

  test("ds54: both funnel IN-subqueries plan as semi-joins; date filters reach the scans") {
    val p = plan("ds54_revenue_segments")
    assert("LeftSemi".r.findAllIn(p).length >= 2,
      s"month_items and my_customers must semi-join into the fact scans:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds54 went cartesian:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)")
      || p.contains("GreaterThanOrEqual(o_orderdate"),
      s"the date-window filters must reach the orders scan:\n$p")
  }

  test("ds38: the 3-way INTERSECT count plans as semi-joins over distinct keys") {
    val p = plan("ds38_intersect_count")
    assert(p.contains("LeftSemi"), s"INTERSECT must plan as semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds38 went cartesian:\n$p")
    assert(!p.contains("l_extendedprice") && !p.contains("l_quantity"),
      s"INTERSECT branch scans are not column-pruned:\n$p")
  }

  test("ds87: the EXCEPT chain plans as anti-joins over distinct keys — no cartesian, pruned branches") {
    val p = plan("ds87_except_chain")
    assert(p.contains("LeftAnti"), s"EXCEPT must plan as anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds87 went cartesian:\n$p")
    assert(!p.contains("l_extendedprice") && !p.contains("l_quantity"),
      s"EXCEPT branch scans are not column-pruned:\n$p")
  }

  test("ds75: the signed UNION branches are column-pruned; the year-pair join is equi, never all-pairs") {
    val p = plan("ds75_net_decline")
    assert(!p.contains("CartesianProduct"), s"ds75 went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"ds75 is nested-loop:\n$p")
    assert(p.contains("Union"), s"expected the signed sales/returns UNION ALL:\n$p")
    // neither branch drags unreferenced lineitem columns through the union
    assert(!p.contains("l_comment") && !p.contains("l_suppkey") && !p.contains("l_tax"),
      s"union branches are not column-pruned:\n$p")
  }

  test("ds09: the 15-probe sheet collapses to ONE lineitem scan") {
    // the spec's literal form is 15 scalar subqueries = 15 fact scans;
    // the FILTER'd-aggregate collapse reads the fact exactly once (the
    // one-row region dim rides a bounded 1x1 join)
    val p = plan("ds09_banded_probes").split("== Initial Plan ==")(0)
    val scans = "lineitem".r.findAllIn(p).length
    assert(scans <= 1, s"the probe sheet must collapse to one lineitem scan, got $scans:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial aggregation:\n$p")
  }

  test("ds11: the dim-carrying year_total is spooled once — the 4-way self-join reads no parquet") {
    val p = plan("ds11_yoy_customer_dims").split("== Initial Plan ==")(0)
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"self-joins must read the spool, got $scans parquet scans:\n$p")
    assert(p.contains("ExistingRDD"), s"expected the checkpointed year_total spool:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds11 went cartesian:\n$p")
  }

  test("ds66: the two carrier pivot blocks collapse to ONE scan grouped by (wh, carrier)") {
    // the spec's per-channel UNION ALL blocks exist because its channels
    // are separate fact tables; same-relation carriers read once (ds77)
    val p = plan("ds66_carrier_monthly").split("== Initial Plan ==")(0)
    val scans = "lineitem".r.findAllIn(p).length
    assert(scans <= 1, s"carrier blocks must collapse to one lineitem scan, got $scans:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds66 went cartesian:\n$p")
    assert(!p.contains("l_tax") && !p.contains("l_comment"),
      s"pivot scan is not column-pruned:\n$p")
  }

  test("ds74: the union-tagged year_total is spooled once — the 4-way self-join reads no parquet") {
    val p = plan("ds74_union_yoy").split("== Initial Plan ==")(0)
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"self-joins must read the spool, got $scans parquet scans:\n$p")
    assert(p.contains("ExistingRDD"), s"expected the checkpointed union spool:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds74 went cartesian:\n$p")
  }

  test("ds13: the OR'd band report is one fact pass with broadcast dims — no cartesian") {
    val p = plan("ds13_band_join_report").split("== Initial Plan ==")(0)
    val scans = "lineitem".r.findAllIn(p).length
    assert(scans <= 1, s"expected one lineitem pass, got $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast into the fact scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds13 went cartesian:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial aggregation:\n$p")
  }

  test("ds47: the three window columns run over the monthly aggregate, never the fact") {
    // q47's shape: year-average + lag + lead in one windowed relation;
    // the windows must sit ABOVE the (brand, yr, mon) aggregate — a
    // window over the raw join would sort the fact per brand
    val p = plan("ds47_monthly_deviation").split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.matches(".*\\bWindow\\b.*"))
    assert(winIdx >= 0, s"no Window in:\n$p")
    val aggBelow = lines.drop(winIdx + 1).exists(_.contains("HashAggregate"))
    assert(aggBelow, s"windows must run over the monthly aggregate (HashAggregate below Window):\n$p")
    assert(!p.contains("CartesianProduct"), s"ds47 went cartesian:\n$p")
  }

  test("ds80: the report ROLLUP Expands the (channel, brand) pre-aggregate, not the fact join") {
    // second user of EagerAggRule's rollup variant (after ds67): the
    // ×3 Expand must multiply the ~75-row pre-aggregate, never the
    // 4-relation join output
    val p = plan("ds80_channel_report").split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toSeq
    val expandIdx = lines.indexWhere(_.contains("Expand"))
    assert(expandIdx >= 0, s"no Expand in:\n$p")
    val below = lines.drop(expandIdx + 1)
    val aggIdx = below.indexWhere(_.contains("HashAggregate"))
    val joinIdx = below.indexWhere(l =>
      l.contains("Join") || l.contains("CartesianProduct"))
    assert(aggIdx >= 0 && (joinIdx < 0 || aggIdx < joinIdx),
      s"Expand must sit on the pre-aggregate (HashAggregate before any Join below it):\n$p")
    assert(p.contains("partial_sum"), s"pre-agg must split partial/final:\n$p")
  }

  test("ds65: one fact pass; the per-nat totals are a Window over the per-(nat, part) aggregate") {
    // r19: the spec's spool + re-aggregate + join-back is one window
    // partitioned by the aggregate's own key (TpcDs.Ds65Window)
    val p = plan("ds65_underperforming").split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toSeq
    val factScans = lines.count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(factScans == 1, s"expected one pass over lineitem, got $factScans scans:\n$p")
    val winIdx = lines.indexWhere(_.matches(".*\\bWindow\\b.*"))
    assert(winIdx >= 0, s"no Window in:\n$p")
    assert(lines.drop(winIdx + 1).exists(_.contains("HashAggregate")),
      s"the window must run over the per-(nat, part) HashAggregate:\n$p")
    assert(!p.contains("ExistingRDD"), s"ds65 must not spool:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds65 went cartesian:\n$p")
  }

  test("ds70: the rollup Expand sits on the pre-aggregate; the rank windows run over the rollup") {
    // third user of EagerAggRule's rollup variant; the GROUPING()-
    // partitioned rank must window the ~30-row rollup output
    val p = plan("ds70_grouping_rank").split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toSeq
    val expandIdx = lines.indexWhere(_.contains("Expand"))
    assert(expandIdx >= 0, s"no Expand in:\n$p")
    val below = lines.drop(expandIdx + 1)
    val aggIdx = below.indexWhere(_.contains("HashAggregate"))
    val joinIdx = below.indexWhere(l =>
      l.contains("Join") || l.contains("CartesianProduct"))
    assert(aggIdx >= 0 && (joinIdx < 0 || aggIdx < joinIdx),
      s"Expand must sit on the pre-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds70 went cartesian:\n$p")
    assert(p.contains("LeftSemi"), s"the ranked-subquery region filter must plan as a semi-join:\n$p")
  }

  test("ds16: EXISTS plans as a semi-join, NOT EXISTS as an anti-join — and nothing broadcasts a fact side") {
    val p = plan("ds16_shipping_audit")
    assert(p.contains("LeftSemi"), s"correlated EXISTS must plan as semi-join:\n$p")
    assert(p.contains("LeftAnti"), s"correlated NOT EXISTS must plan as anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds16 went cartesian:\n$p")
    // every join side is fact-scale: the pg_hint_plan MERGE hints must
    // pin shuffle sort-merge joins — a broadcast of the 600k-row
    // self-join side cannot exist at 100 TB (and measures 3x slower
    // locally, PROF_r15)
    assert(!p.contains("BroadcastExchange"),
      s"no fact-scale side may broadcast — the MERGE hints must hold:\n$p")
    assert(p.contains("SortMergeJoin"), s"expected the hinted shuffle sort-merge plan:\n$p")
  }

  test("ds18: the 3-deep averages rollup Expands the pre-aggregate, not the 5-relation join") {
    // fourth user of EagerAggRule's rollup variant
    val p = plan("ds18_avg_rollup_dims").split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toSeq
    val expandIdx = lines.indexWhere(_.contains("Expand"))
    assert(expandIdx >= 0, s"no Expand in:\n$p")
    val below = lines.drop(expandIdx + 1)
    val aggIdx = below.indexWhere(_.contains("HashAggregate"))
    val joinIdx = below.indexWhere(l =>
      l.contains("Join") || l.contains("CartesianProduct"))
    assert(aggIdx >= 0 && (joinIdx < 0 || aggIdx < joinIdx),
      s"Expand must sit on the pre-aggregate:\n$p")
    assert(p.contains("partial_sum"), s"pre-agg must split partial/final:\n$p")
  }

  test("ds31: the 6x-referenced quarterly CTE is spooled — the chain join reads no parquet") {
    val p = plan("ds31_qoq_chain").split("== Initial Plan ==")(0)
    val scans = "Scan parquet|FileScan parquet".r.findAllIn(p).length
    assert(scans == 0, s"all six references must read the spool, got $scans parquet scans:\n$p")
    assert(p.contains("ExistingRDD"), s"expected the checkpointed quarterly spool:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds31 went cartesian:\n$p")
  }

  test("ds35: EXISTS-or-EXISTS plans as ExistenceJoins; the conjunctive IN stays a semi-join") {
    // the disjunctive form cannot filter through a plain semi-join —
    // each EXISTS must become an ExistenceJoin (boolean-emitting semi
    // variant; the reference's hashed-SubPlan testexpr) and the OR
    // evaluates over the two booleans
    val p = plan("ds35_disjunctive_exists")
    assert("ExistenceJoin".r.findAllIn(p).length >= 2,
      s"both OR'd EXISTS must plan as ExistenceJoins:\n$p")
    assert(p.contains("LeftSemi"), s"the conjunctive IN must stay a semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds35 went cartesian:\n$p")
  }

  test("ds49: per-channel ranks window the per-item AGGREGATE, unioned then deduped") {
    val p = plan("ds49_worst_return_ratios")
    // six rank windows (2 ratios × 3 channels), each fed by a
    // partial/final per-item aggregate — the fact never enters a window
    assert("Window \\[rank".r.findAllIn(p).length >= 6,
      s"expected the six per-channel rank windows:\n$p")
    assert(p.contains("partial_sum"), s"per-item ratios must combine map-side:\n$p")
    // the UNION across channels is DISTINCT (the spec's dedup): it
    // plans as an aggregate over the union
    assert(p.contains("Union"), s"expected the three-channel union:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds49 went cartesian:\n$p")
  }

  test("ds05: the rollup Expand sits on the pre-aggregate, not the sales∪returns fact union") {
    // EagerAggRule's fifth user — and the first whose rollup input is a
    // UNION ALL of two heterogeneous fact projections
    val p = plan("ds05_channel_sales_returns").split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toSeq
    val expandIdx = lines.indexWhere(_.contains("Expand"))
    assert(expandIdx >= 0, s"no rollup Expand in:\n$p")
    val below = lines.drop(expandIdx + 1)
    val aggIdx = below.indexWhere(_.contains("HashAggregate"))
    val unionIdx = below.indexWhere(_.contains("Union"))
    assert(aggIdx >= 0 && unionIdx >= 0 && aggIdx < unionIdx,
      s"Expand must sit on the (channel, nat) pre-aggregate above the union:\n$p")
    assert(p.contains("partial_sum"), s"pre-agg must split partial/final:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds05 went cartesian:\n$p")
  }

  test("ds08: the VALUES∩pref code funnel plans as semi-joins over a LocalTableScan") {
    val p = plan("ds08_preferred_codes")
    // one semi for the INTERSECT, one for the IN — never a pair emission
    assert("LeftSemi".r.findAllIn(p).length >= 2,
      s"INTERSECT and IN must both plan as semi-joins:\n$p")
    assert(p.contains("LocalTableScan"), s"the VALUES list must be a local relation:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds08 went cartesian:\n$p")
  }

  test("ds79: the visit aggregate shuffles on the fact-scale visit grain; customer joins above it") {
    val p = plan("ds79_store_visits").split("== Initial Plan ==")(0)
    assert(p.contains("hashpartitioning(l_orderkey") || p.contains("hashpartitioning(visit"),
      s"visit aggregate must partition on the order-grain key:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the LIMIT must plan as TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds79 went cartesian:\n$p")
    // the customer join reads the AGGREGATE, not the fact: the
    // aggregate must appear below the customer-side join in the tree
    assert(p.contains("partial_sum"), s"visit sums must combine map-side:\n$p")
  }

  test("ds97: the overlap census FULL OUTER joins co-partitioned distinct key sets") {
    val p = plan("ds97_channel_overlap")
    assert(p.contains("FullOuter"), s"expected the full-outer overlap join:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"the compound-key full outer must be a shuffle sort-merge join (both sides fact-derived):\n$p")
    assert(!p.contains("CartesianProduct"), s"ds97 went cartesian:\n$p")
  }

  test("ds17: both chain joins are MERGE-pinned sort-merge — no fact-leg broadcast") {
    // the r15 lineitem-derived-broadcast boundary: all three legs are
    // fact-derived on a fact-scale key, so the chain joins must never
    // build a broadcast table from a leg (orders/part dim builds inside
    // each leg remain broadcast — that side of the boundary)
    val p = plan("ds17_return_repurchase")
    assert("SortMergeJoin".r.findAllIn(p).length >= 2,
      s"both (cust, brand) chain joins must be sort-merge:\n$p")
    // every broadcast build in the plan is a dim/orders scan inside a
    // leg; a chain join that broadcast would show a seventh broadcast
    // in the final plan (3 legs × (orders + part) = 6)
    val fin = p.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(fin).length <= 6,
      s"unexpected extra broadcast join (a chain join flipped?):\n$fin")
    assert(!p.contains("CartesianProduct"), s"ds17 went cartesian:\n$p")
  }

  test("ds44: six references read the spooled per-item aggregate; two rank windows") {
    // full AQE string (final + initial): the ascending-rank side lives
    // inside a broadcast query stage the final-plan print references
    // rather than inlines
    val p = plan("ds44_best_worst")
    // the only parquet in the plan is the part dim (joined twice);
    // every perf reference reads the checkpointed spool
    assert(!p.contains("lineitem"),
      s"all six perf references must read the spool, not re-derive from lineitem:\n$p")
    assert(p.contains("ExistingRDD"), s"expected the checkpointed perf spool:\n$p")
    assert("Window \\[rank".r.findAllIn(p).length >= 2,
      s"expected the ascending and descending rank windows:\n$p")
    // the rank<=10 filter must push INTO the windows — only the top-10
    // band survives each sort (Spark's WindowGroupLimit)
    assert(p.contains("WindowGroupLimit"),
      s"rank<=10 should push down as WindowGroupLimit:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds44 went cartesian:\n$p")
  }

  test("ds77: channel totals are ONE scan + ONE rollup Expand — never a block per channel") {
    val p = plan("ds77_channel_totals").split("== Initial Plan ==")(0)
    val scans = "lineitem".r.findAllIn(p).length
    assert(scans <= 1, s"the per-channel blocks must collapse to one lineitem scan, got $scans:\n$p")
    val expands = "Expand".r.findAllIn(p).length
    assert(expands == 1, s"expected exactly the ROLLUP Expand, got $expands:\n$p")
    assert(!p.contains("CartesianProduct"), s"ds77 went cartesian:\n$p")
  }

  test("d14: span dedup joins the dup census as a SEMI join — no pair emission, no cap needed") {
    val p = plan("d14_substring_span_dedup")
    assert(p.contains("LeftSemi"), s"dup-window probe must be a semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"span dedup went all-pairs:\n$p")
    assert(!p.contains("pair_emit"), s"span dedup must not emit pairs:\n$p")
    // the run/merge windows are per-doc, never corpus-wide
    val corpusWide = "windowspecdefinition\\((pos|st)#".r.findFirstIn(p)
    assert(corpusWide.isEmpty, s"found a window not partitioned by doc_id:\n$p")
    assert(p.contains("partial_"), s"expected map-side partial census:\n$p")
  }

  test("d15: the span cut is an equi-keyed ANTI range-join, never a cartesian") {
    val p = plan("d15_span_cut_rewrite")
    assert(p.contains("LeftAnti"), s"cut must be an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"span cut went cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"anti join lost its doc_id equi-key (BNLJ):\n$p")
  }

  test("d12: line dedup is census + equi-join + bounded per-doc rebuild") {
    val p = plan("d12_line_dedup")
    assert(!p.contains("CartesianProduct"), s"line dedup went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"line dedup is nested-loop:\n$p")
    // reassembly must be an aggregate (bounded by the doc's own lines),
    // never a corpus-wide window
    assert(!p.contains("windowspecdefinition"),
      s"reassembly should be collect_list agg, not a window:\n$p")
  }

  test("s10: hybrid RRF tops are TakeOrdered, windows only post-limit") {
    // each retrieval side must reduce corpus -> K via TakeOrdered (no
    // corpus-wide sort); the K-row rank windows then cost nothing
    val p = plan("s10_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrdered top-K on the retrieval sides:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e18: attribution is one equi-join + min/max struct agg — no window") {
    // both endpoints (first/last touch) come from ONE aggregate over the
    // co-located join; a window formulation would re-sort the pair stream
    val p = plan("e18_attribution")
    assert(!p.contains("windowspecdefinition"), s"attribution should not window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"attribution join must stay an equi-join on user:\n$p")
    assert(p.contains("partial_max") && p.contains("partial_min"),
      s"expected map-side struct endpoints:\n$p")
  }

  test("e17: decomposition windows partition by series, input pre-aggregated") {
    val p = plan("e17_seasonal_decompose")
    assert(p.contains("windowspecdefinition(event_type"),
      s"trend window must partition by event_type (never global):\n$p")
    assert(p.contains("partial_sum"), s"hourly pre-agg must combine map-side:\n$p")
  }

  test("b03: equality filter on the bucket key prunes buckets at the scan") {
    // direct-dispatch analog: SelectedBucketsCount must show fewer than
    // the table's 8 buckets being read for a 3-key IN probe
    val p = plan("b03_bucket_pruning")
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(m.isDefined, s"expected bucket pruning in scan:\n$p")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"probe must not read every bucket: ${m.get.matched}")
  }

  test("p05: retention moves are partition-pruned scans, not data filters") {
    val p = plan("p05_partition_retention")
    // the manifest read unions two partitioned locations; the month
    // predicate must be gone from the data path (PartitionFilters did
    // the split at write time)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), s"manifest rollup must combine map-side:\n$p")
  }

  test("b04: groupBy on the bucket key aggregates with NO exchange before it") {
    // the storage layout already hash-distributes on l_orderkey, so the
    // wide per-order aggregate must run exchange-free; only the tiny
    // histogram rollup (+ its output sort) may exchange
    val p = plan("b04_bucketed_agg").split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected bucketed agg to elide the wide exchange:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
      s"per-order aggregate must not re-shuffle the bucket key:\n$p")
  }

  test("e20: rolling median window partitions by user — never corpus-wide") {
    val p = plan("e20_rolling_median")
    assert(p.contains("windowspecdefinition(user_id"),
      s"median window must partition by user_id:\n$p")
  }

  /** The final plan of a query that must take its word census from one
    * compiled word_stats pass per document: no token generator, no exchange
    * keyed on the token, no interpreted HOF lambda. */
  private def assertWordStatsPass(name: String): String = {
    val body = plan(name).split("== Initial Plan ==")(0)
    assert(body.contains("word_stats("), s"$name must take its census from word_stats:\n$body")
    // the only generator allowed is t22's stack() unpivot of its 5 report rows
    assert(!body.linesIterator.exists(l => l.contains("Generate") && !l.contains("Generate stack(")),
      s"$name must not explode tokens:\n$body")
    assert(!body.contains("hashpartitioning(tok"), s"$name must not shuffle on tokens:\n$body")
    val lambdas = "lambdafunction".r.findAllIn(body).length
    assert(lambdas == 0, s"$name must not tokenize or count via HOF lambdas (got $lambdas):\n$body")
    body
  }

  test("t22: funnel is one word_stats pass — no join, explode or token shuffle") {
    val body = assertWordStatsPass("t22_filter_funnel")
    assert(!body.contains("Join"), s"funnel must compute all gates from one census:\n$body")
  }

  test("f06: one aggregate on word over word_census — no (doc_id, word) aggregate") {
    val body = plan("f06_ts_stat").split("== Initial Plan ==")(0)
    assert(body.contains("word_census("), s"f06 must census each document in one pass:\n$body")
    val exchanges = "Exchange hashpartitioning\\(".r.findAllIn(body).length
    val onWord = "Exchange hashpartitioning\\(word".r.findAllIn(body).length
    assert(exchanges == 1 && onWord == 1,
      s"f06 must shuffle once, on word (got $exchanges, $onWord on word):\n$body")
    assert(!body.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("doc_id")),
      s"f06 must not aggregate per (doc_id, word):\n$body")
  }

  test("s11: probe sweep joins the index ONCE; levels expand candidates in place") {
    val p = plan("s11_probe_sweep").split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    // exactly two joins: probes->index and swept->exact (both broadcast)
    val joins = "BroadcastHashJoin".r.findAllIn(p).length +
      "SortMergeJoin".r.findAllIn(p).length + "ShuffledHashJoin".r.findAllIn(p).length
    assert(joins <= 3, s"level expansion must not re-join per level, got $joins joins:\n$p")
  }

  test("j07: variant shreds with a single parse_json per row, join-free") {
    val p = plan("j07_variant_shred")
    assert(!p.contains("Join"), p)
    val parses = "parse_json".r.findAllIn(
      p.split("== Initial Plan ==")(0)).length
    assert(parses <= 1, s"document must parse once into the variant, got $parses:\n$p")
  }

  test("ml04: COO matmul is equi-join on k + (i,j) hash agg, partials map-side") {
    val p = plan("ml04_matmul")
    assert(!p.contains("CartesianProduct"), s"matmul must contract on k, not cross:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_sum"), s"expected map-side partial products:\n$p")
  }

  test("i15: min/max retraction rescans survivors ONLY through the affected-key semi-join") {
    val p = plan("i15_ivm_minmax").split("== Initial Plan ==")(0)
    // the base rescan is bounded by the delta-derived affected key set
    assert(p.contains("LeftSemi"),
      s"survivor rescan must be semi-joined to the affected keys:\n$p")
    // state AND delta are materialized (matview + temp delta table), so
    // the ONLY base scan in the retraction plan is the semi-joined
    // survivor rescan — untouched groups are provably not rescanned
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("events.parquet"))
    assert(scans == 1, s"expected 1 events scan (the bounded rescan), got $scans:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan ExistingRDD"),
      s"state must read from the checkpoint, not recompute:\n$p")
  }

  test("ddl01: DDL-declared RANGE partitions prune dynamically (DPP rides the layout)") {
    try {
      val p = plan("ddl01_gp_ddl")
      assert(p.toLowerCase.contains("dynamicpruning"),
        s"the month-dim join must plant a dynamic partition filter on o_orderdate_prt:\n$p")
      assert(p.contains("o_orderdate_prt"), p)
    } finally spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
  }

  test("ddl01: DDL-declared DISTRIBUTED BY joins its twin co-located — no motion") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val tbl = operators.GpDdl.ensureOrders(spark, Sf)
      val (_, lt) = operators.Bucketed.ensure(spark, Sf)
      val joined = spark.table(tbl).join(spark.table(lt),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      val p = finalPlan(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"both sides declared DISTRIBUTED BY the join key — no motion allowed:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    }
  }

  test("id01: corpus-wide numbering window partitions by bucket; grants broadcast") {
    val p = plan("id01_sequence_alloc").split("== Initial Plan ==")(0)
    // the row_number over the corpus must ride the bucket partitioning —
    // a single-partition corpus window would serialize 100 TB on one task
    assert(p.contains("windowspecdefinition(b#") ||
           p.contains("windowspecdefinition(b "),
      s"corpus window must partition by the range bucket:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 16-row grant relation must broadcast:\n$p")
  }

  test("i16: index census reads the materialized index, never the vector corpus") {
    val p = plan("i16_ivf_maintain").split("== Initial Plan ==")(0)
    assert(!p.contains("embeddings.parquet"),
      s"the maintained index must answer without re-scanning the corpus:\n$p")
    assert(p.contains("Scan ExistingRDD") || p.contains("InMemoryTableScan"),
      s"expected the checkpointed index as the census input:\n$p")
  }

  test("i17: the incremental span-dedup probe never rescans the corpus") {
    // the O(|delta|) contract: the window index / census / token counts
    // persist as parquet STATE tables (r15 — the production shape; the
    // state build is warmup DDL), the delta slice is fingerprinted once
    // (checkpointed inside the probe), and the emitted-rows plan reads
    // ONLY state tables + checkpoints — base documents.parquet never
    // appears in the probe plan
    val p = plan("i17_span_dedup_incremental").split("== Initial Plan ==")(0)
    assert(!p.contains("documents.parquet"),
      s"probe must read persisted state + delta checkpoints only — base text is never rescanned:\n$p")
    assert(p.contains("span_base_"),
      s"expected the persisted span-state tables in the probe plan:\n$p")
    assert(p.contains("LeftSemi"), s"base windows must arrive via semi-join, never pair emission:\n$p")
  }

  test("i18: the retraction plan is fully index-derived — never touches the corpus") {
    // deletions must never rescan the corpus: deleted windows, the
    // flip set, the remaining-holder lookup, and the re-scored rows
    // all come from the persisted state tables (even the deleted-id
    // set is carved from state's ntok)
    val p = plan("i18_span_dedup_retract").split("== Initial Plan ==")(0)
    assert(!p.contains("documents.parquet"),
      s"retraction must read state tables only — the corpus is never rescanned:\n$p")
    assert(p.contains("span_full_"),
      s"expected the persisted span-state tables in the retraction plan:\n$p")
    assert(p.contains("LeftAnti"), s"survivor windows must arrive via anti-join on the deleted set:\n$p")
  }

  test("ddl04: after SET DISTRIBUTED BY the new-key join runs with no Exchange") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // run the redistribution, then compile the new-key join fresh
      SparkEntry.queries("ddl04_set_distributed")(spark, Sf).queryExecution.toRdd.count()
      val joined = spark.table(Derived.tableName("orders_redist", Sf))
        .join(spark.table(Derived.tableName("customer_gp", Sf)),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      val p = finalPlan(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"redistributed fact must join the dimension motion-free:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    }
  }

  test("dt02: directory-table content scan streams against a broadcast catalog") {
    val p = plan("dt02_directory_table_read")
    assert(p.contains("BroadcastHashJoin"), s"catalog must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the file-content relation must not shuffle for the catalog join:\n$p")
  }

  test("ph01: pg_hint_plan hints bind to the hinted join levels") {
    import org.apache.spark.sql.functions.col
    val rels = Map(
      "region" -> Tables.df(spark, Sf, "region"),
      "nation" -> Tables.df(spark, Sf, "nation"),
      "customer" -> Tables.df(spark, Sf, "customer"),
      "orders" -> Tables.df(spark, Sf, "orders"))
    val conds = Seq(
      (Set("region", "nation"), col("r_regionkey") === col("n_regionkey")),
      (Set("nation", "customer"), col("n_nationkey") === col("c_nationkey")),
      (Set("customer", "orders"), col("c_custkey") === col("o_custkey")))
    val (joined, nApp, nIgn) = graft.operators.Hints.run(
      graft.operators.Hints.Ph01Sql, rels, conds)
    // the used/unused ledger: Leading+HashJoin+MergeJoin+Parallel bound,
    // Rows and Set reported ignored (pg_hint_plan.c's hint_state ledger)
    assert(nApp == 4 && nIgn == 2, s"ledger was ($nApp, $nIgn)")
    val p = finalPlan(joined)
    // HashJoin(region nation) → a shuffled hash join somewhere in the plan
    // (AQE may still plan it as SHJ post-exchange; the hint forbids SMJ/BHJ
    // at that level)
    assert(p.contains("ShuffledHashJoin"), s"HashJoin hint must bind:\n$p")
    // MergeJoin(customer nation) → a sort-merge join at the customer level
    assert(p.contains("SortMergeJoin"), s"MergeJoin hint must bind:\n$p")
    // Parallel(orders 16) → an explicit 16-way round-robin motion on orders
    assert(p.contains("RoundRobinPartitioning(16"),
      s"Parallel hint must emit the repartition(16) motion:\n$p")
    // Leading(((region nation) customer) orders): construction order IS
    // logical join order — the outermost Join's right child must be the
    // bare orders relation, and the innermost Join spans region × nation.
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val joins = joined.queryExecution.analyzed.collect { case j: LJoin => j }
    assert(joins.size == 3, s"expected 3 join levels, got ${joins.size}")
    val top = joins.head
    val topRightCols = top.right.output.map(_.name).toSet
    assert(topRightCols.contains("o_custkey") && !topRightCols.contains("c_custkey"),
      s"outermost join's right side must be orders alone, was $topRightCols")
    val inner = joins.last
    val innerCols = inner.output.map(_.name).toSet
    assert(innerCols.contains("r_regionkey") && innerCols.contains("n_nationkey")
      && !innerCols.contains("c_custkey"),
      s"innermost join must be region × nation, was $innerCols")
    // unhinted queries on the same tiny dims broadcast — proving the SHJ/SMJ
    // above came from the hints, not from size estimates
    val unhinted = rels("region")
      .join(rels("nation"), col("r_regionkey") === col("n_regionkey"))
    assert(finalPlan(unhinted).contains("BroadcastHashJoin"))
  }

  test("b05: jump-hash segment audit is one scan, no join") {
    val p = plan("b05_jump_consistent_hash")
    assert(!p.contains("Join"), s"the audit must not join:\n$p")
    // one scan of orders (AQE explain repeats the tree — count only the
    // final-plan section), one partial/final aggregate pair
    val finalSection = p.split("== Initial Plan ==").head
    assert("FileScan".r.findAllIn(finalSection).length == 1,
      s"expected exactly one scan:\n$p")
    assert(p.contains("partial_"), s"expected map-side combine:\n$p")
  }

  test("ml08: the tree report reads materialized levels, never re-deriving") {
    val p = plan("ml08_decision_tree")
    // every best{k}/f{depth} reference is a checkpointed RDD scan; a
    // FileScan here would mean the CTE-inlining re-derivation came back
    assert(!p.contains("FileScan"),
      s"tree report must read only materialized level state:\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected checkpointed level scans:\n$p")
  }

  test("er02: the incremental merge never rescans the mention table") {
    val p = plan("er02_incremental_clusters")
    // the delta census is spooled and the base state is PERSISTED (r12:
    // the i16 materialized-index pattern) — the final plan must not
    // contain a parquet scan of part (that would be batch, not O(delta))
    assert(!p.contains("part.parquet"),
      s"incremental ER must not rescan the base mentions:\n$p")
    // and the base labels must come from the persisted parquet state
    assert(p.contains("er02_base_"),
      s"expected the persisted base-state scan:\n$p")
  }

  test("fz06/fz07: phonetic censuses are one scan with map-side combine") {
    for (name <- Seq("fz06_metaphone", "fz07_daitch_mokotoff")) {
      val p = plan(name)
      val finalSection = p.split("== Initial Plan ==").head
      // one pass over part; the census partial-aggregates before the
      // exchange (codes are low-cardinality — the map side collapses
      // the word stream to |codes| rows per partition)
      assert("FileScan".r.findAllIn(finalSection).length == 1,
        s"$name: expected exactly one scan:\n$p")
      assert(p.contains("partial_"), s"$name: expected map-side combine:\n$p")
    }
  }

  test("c15: the fixed-width load parses in one codegen pass, no cache leak") {
    // start from a clean cache so the leak assert below is c15's own
    // (other suites' tests legitimately cache; the session is shared)
    spark.sharedState.cacheManager.clearCache()
    val p = plan("c15_fixedwidth")
    // the tolerant parse is substring/rtrim/try_cast row expressions —
    // no UDF, no Python; the reject accounting rides ONE agg action
    // (sum(bad), count(*)) inside parse() and the audit recomputes the
    // cheap codegen parse instead of pinning a session-lifetime cached
    // relation (the r12 advice fix — the old plan read an
    // InMemoryTableScan that was never unpersisted)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"fixed-width parse must be native row expressions:\n$p")
    assert(!p.contains("InMemoryTableScan"),
      s"the parse must not pin a cached relation:\n$p")
    assert(p.contains("partial_"), s"expected map-side combine:\n$p")
    assert(spark.sharedState.cacheManager.isEmpty,
      "c15 must leave no cached relations behind")
  }

  test("ddl06: the dynamic-table read scans the materialization, not the base") {
    val p = plan("ddl06_dynamic_table_ddl")
    // the returned relation is the refreshed matview; a scan of
    // orders.parquet here would mean the report re-derives the
    // definition query instead of reading the materialized state
    // the location string is elided in the render — match the prefix
    assert(p.contains("ddl06_order_stat"),
      s"expected the materialized dynamic-table scan:\n$p")
    assert(!p.contains("orders.parquet"),
      s"dynamic-table read must not rescan the base table:\n$p")
  }

  test("q138: SYSTEM_ROWS sample plans as top-n, never a global sort") {
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    // assert on the sample stage itself (the query aggregates after):
    // orderBy+limit must become TakeOrderedAndProject — per-partition
    // top-n + one tiny merge, the only 100 TB-safe exact-n sample
    val sample = Tables.df(spark, Sf, "orders")
      .select(col("o_orderkey"),
        md5(concat(lit("sysrows-42-"), col("o_orderkey").cast("string"))).as("coin"))
      .orderBy(col("coin")).limit(1000)
    val p = finalPlan(sample)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-n plan:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"an exact-n sample must not global-sort:\n$p")
  }

  test("q139: SYSTEM_TIME page sample plans as census top-n, never a global sort") {
    import org.apache.spark.sql.functions.{col, concat, count, expr, lit, md5, sum}
    // the page-visit stage: census (map-side combined groupBy) then
    // orderBy(coin)+limit — must plan as TakeOrderedAndProject over the
    // census, with no range partitioning anywhere
    val visit = Tables.df(spark, Sf, "orders")
      .groupBy(expr("o_orderkey div 64").as("page"))
      .agg(count(lit(1)).as("pg_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("pg_cents"))
      .withColumn("coin",
        md5(concat(lit("systime-42-"), col("page").cast("string"))))
      .orderBy(col("coin")).limit(24)
    val p = finalPlan(visit)
    assert(p.contains("TakeOrderedAndProject"), s"expected top-n plan:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"a page-budget sample must not global-sort:\n$p")
  }

  test("c12: FDW predicate + column pushdown reach the remote JDBC scan") {
    val p = plan("c12_fdw_join")
    // the range predicate is deparsed into the remote SQL, not evaluated
    // Spark-side (postgres_fdw deparse.c's contract)
    assert(p.contains("NATION_REMOTE"), s"expected the remote scan:\n$p")
    assert(p.contains("n_regionkey >= 1") && p.contains("n_regionkey <= 3"),
      s"range filter must be pushed to the remote scan:\n$p")
    // the filtered remote dim broadcasts into the local fact
    assert(p.contains("BroadcastHashJoin"), s"remote dim must broadcast:\n$p")
  }

  test("c13: the whole aggregate is pushed to the remote server") {
    val p = plan("c13_fdw_remote_agg")
    assert(p.contains("PushedAggregates: [COUNT(") &&
      p.contains("MIN(") && p.contains("MAX("),
      s"aggregate must be computed remotely:\n$p")
    assert(p.contains("PushedGroupByExpressions: [n_regionkey]"),
      s"GROUP BY must be deparsed into the remote SQL:\n$p")
  }

  test("f12: per-row text analysis keeps a join-free single-pass plan") {
    val p = plan("f12_websearch")
    assert(!p.contains("Join"), s"f12 should not join:\n$p")
    assert(!p.contains("windowspecdefinition"), s"f12 should not window:\n$p")
    // the only exchange allowed is the output sort's range partitioning
    val exchanges = "Exchange".r.findAllIn(p).length
    val rangeEx = "rangepartitioning".r.findAllIn(p).length
    assert(exchanges == rangeEx,
      s"f12: every exchange must be the output sort, got $exchanges vs $rangeEx:\n$p")
  }

  test("q143/q144: bounded-frame EXCLUDE is windows-only — no joins, one hash exchange") {
    // rowsSumExcluding's prefix-sum/lead-lag construction and
    // groupsSumExcluding's dense_rank composition must never plan a
    // self-join for the peers-in-frame term: all peer/prefix machinery
    // rides window functions over ONE hash partitioning (plus the
    // output sort's range exchange)
    for (q <- Seq("q143_rows_exclude", "q144_groups_exclude")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"$q must not join:\n$p")
      val body = p.split("== Initial Plan ==")(0)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(body).length
      assert(hashEx == 1,
        s"$q: peer terms must reuse the window partitioning (got $hashEx hash exchanges):\n$p")
    }
  }

  test("q34: scalable rank reads ONE materialized bucket assignment, twice") {
    // scalableRank's offsets side and join side must consume the SAME
    // bucket assignment — repartitionByRange samples boundaries per
    // plan instantiation, so two independent instantiations could
    // misalign the (bucket, group) join silently (r17 advice). The
    // eager localCheckpoint materializes one assignment: the executed
    // plan shows exactly two ExistingRDD reads of it, the tiny offsets
    // broadcast back, and the only range exchange is the output sort
    // (the fat side's range shuffle lives inside the checkpoint build)
    val p = plan("q34_order_quartiles")
    val body = p.split("== Initial Plan ==")(0)
    val rdds = "Scan ExistingRDD".r.findAllIn(body).length
    assert(rdds == 2,
      s"q34: expected the checkpointed bucket assignment read twice, got $rdds:\n$p")
    assert(body.contains("BroadcastHashJoin"),
      s"q34: offsets must broadcast back to the fat side:\n$p")
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(body).length
    assert(rangeEx == 1,
      s"q34: only the output sort may range-partition (got $rangeEx):\n$p")
  }

  test("t28: BindExpensiveFilterRule fires on the natural spelling — one tokenize, lang pushed") {
    // the rule's first production user (r17 verdict #3): the query is
    // written with size(split(text,' ')) referenced TWICE and no hand
    // binding; the plan must show (a) the exists() binding, (b) at
    // most one split per Filter/DataFilters line (the KernelFilterSpec
    // threshold), and (c) the cheap lang conjunct still reaching the
    // scan's PushedFilters — binding must not forfeit pushdown
    val p = plan("t28_natural_filter")
    val lines = p.linesIterator
      .filter(l => l.contains("Filter") || l.contains("DataFilters")).toSeq
    assert(lines.exists(_.contains("exists(")),
      s"expected the exists binding in:\n$p")
    assert(lines.forall(l =>
      l.split(java.util.regex.Pattern.quote("split("), -1).length - 1 <= 1),
      s"the tokenize chain must appear at most once per filter line:\n$p")
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(lang,en)"),
      s"the cheap lang conjunct must still reach the scan:\n$p")
  }

  test("q145: extremum EXCLUDE is windows-only — no joins, one hash exchange") {
    // extremeExcluding's flanking-run + least/greatest construction
    // (all three exclusion modes) must ride ONE (o_custkey, m) window
    // partitioning — never a self-join, never per-mode re-shuffles
    val p = plan("q145_minmax_exclude")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"q145 must not join:\n$p")
    val body = p.split("== Initial Plan ==")(0)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(body).length
    assert(hashEx == 1,
      s"q145: all exclusion modes must share the window partitioning (got $hashEx):\n$p")
  }

  test("t21: one word_stats pass — no join, explode, token shuffle or HOF lambda") {
    // the r12 verdict's kernel class must stay dead: the old per-row
    // counting kernel carried transform/filter/aggregate HOF lambdas
    // (CodegenFallback, O(distinct × length)); word_stats counts in one
    // compiled pass per document
    val body = assertWordStatsPass("t21_word_entropy")
    assert(!body.contains("Join"), s"t21 should not join:\n$body")
  }
}

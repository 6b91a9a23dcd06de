package graft

import org.apache.spark.sql.{DataFrame, sources}
import org.apache.spark.sql.catalyst.expressions.{ArrayExists, DynamicPruningExpression, EqualTo, IsNull, LambdaFunction, Literal, Rank, RowNumber, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PivotFirst}
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, FullOuter, LeftAnti, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Expand, Filter, Join, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{ExpandExec, FilterExec, GenerateExec, InputAdapter, LocalTableScanExec, ProjectExec, RDDScanExec, RowDataSourceScanExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec, UnionLoopExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, HashJoin, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.python.BatchEvalPythonExec
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{FrameFeats, PairEmit, PairEmitSized, PairEmitSizedAll, PgAge, PgToChar, PgToNumber, SceneCensus, VoicedRuns, WordCensusExpr, WordStats}

/** Physical-plan shape assertions — the Spark analog of ORCA's plan
  * unit tests (`src/backend/gporca/server/src/unittest/gpopt/`, 381 DXL
  * minidumps asserting the chosen plan). Correct rows are not enough:
  * these pin the *scale* properties — pushdown reaching the scan,
  * broadcast joins where a side is dimension-sized, null-aware anti
  * semantics, and above all NO all-pairs joins in the dedup/similarity
  * pipelines (the round-1 scale-killers).
  *
  * Every assertion is a predicate over the nodes `PlanDump.nodes` walks
  * in the final (post-AQE) plan — the walker the plan fingerprint counts
  * with — and over their expressions ([[Shape]]); plan text appears only
  * in failure messages. The negative-controls test feeds the predicates
  * plans that must trip them.
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkSuite._

  /** query → (its final plan, the plan the planner compiled before AQE);
    * each query runs once per suite. Where AQE proves a subtree empty at
    * sf0.001 the final plan holds an EmptyRelation in its place, so a
    * negative predicate reads both. */
  private val shapes = scala.collection.mutable.Map.empty[String, (Shape, Shape)]
  private def run(name: String): (Shape, Shape) = shapes.getOrElseUpdate(name, {
    val df = SparkEntry.queries(name)(spark, Sf)
    (shape(df), new Shape(df.queryExecution.sparkPlan))
  })
  private def query(name: String): Shape = run(name)._1
  private def bothPlans(name: String): Seq[Shape] = Seq(run(name)._1, run(name)._2)

  private def equiJoins(s: Shape): Int = s.joins.count {
    case _: HashJoin | _: SortMergeJoinExec => true
    case _ => false
  }

  /** Below the plan's first Expand, the first node `stop` accepts is an
    * aggregate: the rollup multiplies a pre-aggregate, never the join or
    * union beneath it. */
  private def expandsAggregate(s: Shape, stop: SparkPlan => Boolean): Boolean =
    s.all[ExpandExec].headOption.exists(e => PlanDump.nodes(e).tail
      .find(n => n.isInstanceOf[BaseAggregateExec] || stop(n)).exists(_.isInstanceOf[BaseAggregateExec]))

  /** The plan's spool reads, with no file scan left: a multi-reference
    * CTE reads its localCheckpoint, never re-derives from parquet. */
  private def readsSpoolOnly(s: Shape): Boolean = s.fileScans.isEmpty && s.spools > 0

  /** The optimized logical plan as nodes, for the rule tests that pin a
    * rewrite before physical planning; `toString` is the plan text, for
    * failure messages only. */
  private final class Logical(df: DataFrame) {
    val plan: LogicalPlan = df.queryExecution.optimizedPlan
    val nodes: Seq[LogicalPlan] = plan.collectWithSubqueries { case n => n }
    override def toString: String = plan.toString
    def aggregates: Int = nodes.count(_.isInstanceOf[Aggregate])
    def joins: Seq[Join] = nodes.collect { case j: Join => j }
    def mentions(name: String): Boolean = Shape.mentions(name, nodes)
    /** An Aggregate defines an output whose name starts with `prefix`
      * (EagerAggRule plants `partial_sum`, `partial_count`, ...). */
    def plants(prefix: String): Boolean = nodes.exists {
      case a: Aggregate => a.aggregateExpressions.exists(_.name.startsWith(prefix))
      case _ => false
    }
  }

  test("q02: filters are pushed down to the parquet scan") {
    val s = query("q02_filter_pushdown")
    assert(s.pushed.exists {
      case _: sources.GreaterThan | _: sources.GreaterThanOrEqual => true
      case _ => false
    }, s"expected pushed comparison filters in:\n$s")
  }

  test("q02: scan reads only the projected+filtered columns") {
    val s = query("q02_filter_pushdown")
    // the scan must not read unreferenced wide columns like l_comment
    assert(!s.mentions("l_comment"), s"column pruning failed:\n$s")
  }

  test("q03: dimension side is broadcast (BroadcastHashJoin)") {
    assert(query("q03_shipping_priority").has[BroadcastHashJoinExec])
  }

  test("x07: RLS policy qual is injected AND pushed into the parquet scan") {
    val policy = sources.EqualTo("c_mktsegment", "BUILDING")
    try {
      val s = query("x07_rls_policy")
      // the query text never mentions c_mktsegment — only the policy does;
      // seeing it in the pushed filters proves RlsRule planted it at the scan
      assert(s.pushed.contains(policy), s"policy qual must reach PushedFilters:\n$s")
      // and with no policy registered, the same query plans WITHOUT it
      Harness.hygiene(spark)
      val bare = shape(graft.operators.Stats.queries("x07_rls_policy")(spark, Sf))
      // (the query closure re-registers the policy, so build a copy w/o it)
      Harness.hygiene(spark)
      val df = graft.Tables.df(spark, Sf, "customer")
        .join(graft.Tables.df(spark, Sf, "nation"),
          org.apache.spark.sql.functions.col("c_nationkey") ===
            org.apache.spark.sql.functions.col("n_nationkey"))
        .groupBy("n_name").count()
      assert(!shape(df).mentions("c_mktsegment"), "without a policy the qual must not appear")
      assert(bare.pushed.contains(policy), bare)
    } finally Harness.hygiene(spark)
  }

  test("q05: star join uses broadcast hash joins, no sort-merge on dims") {
    val s = query("q05_local_supplier_volume")
    assert(s.has[BroadcastHashJoinExec], s)
  }

  test("q08: NOT IN compiles to a null-aware anti join") {
    // at sf0.001 AQE proves the join's output empty and runs an
    // EmptyRelation in its place, so read the plan the planner compiled
    val s = run("q08_notin_suppliers")._2
    assert(s.joinsOf(LeftAnti).exists {
      case b: BroadcastHashJoinExec => b.isNullAwareAntiJoin
      case j => j.condition.exists(_.exists(_.isInstanceOf[IsNull]))
    }, s"expected null-aware anti join in:\n$s")
  }

  test("q01: aggregation is split partial/final (map-side combine)") {
    val s = query("q01_pricing_summary")
    assert(s.partial(), s"expected partial aggregate in:\n$s")
  }

  test("ch01: chunking is a pure per-row pipeline (no hash shuffle)") {
    val s = query("ch01_doc_chunking")
    // the only Exchange allowed is the presentation orderBy's range
    // partitioning; a hashpartitioning shuffle would mean the explode
    // stopped being per-row
    assert(s.hashShuffles.isEmpty, s"unexpected hash shuffle in chunking:\n$s")
  }

  test("ct01: fixed-category pivot runs in ONE scan (no values-discovery pass)") {
    // crosstab_hash's category list comes from the caller, so the plan
    // must not contain a second orders scan collecting distinct pivot
    // values — exactly one FileScan of the orders table
    val s = query("ct01_crosstab")
    assert(s.fileScans.size == 1, s"expected 1 scan, got ${s.fileScans.size}:\n$s")
    // the category list is baked into pivotfirst — fixed categories,
    // not a discovered set
    assert(s.exprs.exists {
      case p: PivotFirst => p.pivotColumnValues.exists(v => String.valueOf(v) == "9-PHANTOM")
      case _ => false
    }, s"fixed category list missing from the plan:\n$s")
  }

  test("q122: HLL sketches partial-aggregate before the exchange (sketch IVM)") {
    // the month partials must combine map-side — the exchange carries
    // sketch states, not rows
    val s = query("q122_hll_union")
    assert(s.partial("hll"), s"no partial sketch aggregation in q122:\n$s")
  }

  test("i13: CDC latest-wins is a map-side max_by, never a window over the log") {
    val s = query("i13_cdc_compaction")
    assert(!s.windowed, s"window over the change log in i13:\n$s")
    assert(s.partial("max"), s"no partial max_by in i13:\n$s")
  }

  test("e13: the SCD2 lookup argmax partial-aggregates; no fact-stream window") {
    // the one Window allowed is the VERSION build (lag over changes);
    // the purchase-side lookup itself must be the max_by aggregate
    val s = query("e13_scd2_lookup")
    assert(s.partial("max"), s"no partial argmax in e13:\n$s")
  }

  test("r06: no mandatory broadcast — adjacency is edge-sized, AQE decides") {
    // The adjacency relation has |nodes| rows but |edges| total array
    // entries; a forced broadcast of it is a 100 TB scale-killer. Assert
    // the logical plan carries NO broadcast hint anywhere: any
    // BroadcastExchange in the executed plan is then AQE's size-based
    // choice, which degrades gracefully to shuffle joins at scale.
    val df = SparkEntry.queries("r06_triangle_count")(spark, Sf)
    val lp = new Logical(df)
    assert(!lp.nodes.exists {
      case j: Join => Seq(j.hint.leftHint, j.hint.rightHint).flatten.exists(_.strategy.contains(BROADCAST))
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      case _ => false
    }, s"forced join hint in r06:\n$lp")
    assert(df.head.getLong(2) >= 0L)
  }

  test("r03: native WITH RECURSIVE executes as a recursive union (UnionLoop)") {
    // the SQL-surface recursive CTE — the RecursiveUnion + WorkTableScan
    // pair (nodeRecursiveunion.c) — must run as Spark's UnionLoop
    // operator, not be silently flattened
    val s = new Shape(SparkEntry.queries("r03_recursive_sql")(spark, Sf).queryExecution.executedPlan)
    assert(s.has[UnionLoopExec], s"expected UnionLoop in r03:\n$s")
    // and the plan fingerprint names it, so plan_diff shows a move off it
    assert(PlanDump.fingerprint(s.plan).get("union_loop").contains(1), s"${PlanDump.fingerprint(s.plan)}")
  }

  test("r09, cb01 and r10 run without UnionLoop, in fewer jobs than their native texts") {
    // their oracle texts keep WITH RECURSIVE; Spark runs them as
    // ancestor unfolds, one plan whatever the tree's depth
    import org.apache.spark.graft.ListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sf = new java.io.File(Sf).getParent + "/sf0.01"
    val s = spark.newSession()
    def run(df: => org.apache.spark.sql.DataFrame): (Int, Shape) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerBus.drain(s.sparkContext)
      s.sparkContext.addSparkListener(counter)
      val p = try shape(df)
        finally { ListenerBus.drain(s.sparkContext); s.sparkContext.removeSparkListener(counter) }
      (jobs.get, p)
    }
    try {
      Tables.register(s, sf)
      for (name <- Seq("r09_search_order", "cb01_connectby", "r10_bom_rollup")) {
        def native = s.sql(operators.Recursive.oracle(name))
        def unfold = SparkEntry.queries(name)(s, sf)
        run(native); run(unfold) // first reads of a table may list its files
        val (nativeJobs, nativePlan) = run(native)
        val (jobs, p) = run(unfold)
        assert(nativePlan.has[UnionLoopExec], s"the native $name text must run as UnionLoop:\n$nativePlan")
        assert(!p.has[UnionLoopExec], s"$name runs a UnionLoop:\n$p")
        assert(jobs < nativeJobs, s"$name ran $jobs jobs, its native text $nativeJobs")
      }
    } finally Harness.hygiene(s)
  }

  test("g02: anchor k-NN ranks via the bounded aggregate, not a window") {
    val s = query("g02_anchor_knn")
    // a row_number window over corpus×anchors rows sorts everything in
    // |anchors| tasks; the TopKPairs aggregate ships ≤k pairs per group
    assert(!s.windowed, s"expected no WindowExec in g02:\n$s")
    assert(s.has[BroadcastExchangeExec], s"anchors must broadcast:\n$s")
  }

  test("fz02: trigram match blocks on posting lists and argmaxes without a window") {
    val s = query("fz02_trgm_match")
    // candidates come from the tg equi-join (GIN plan analog); the
    // per-probe best is one min(struct) aggregate, not a sort
    assert(!s.windowed, s"expected no WindowExec in fz02:\n$s")
    assert(s.partial("min"), s"argmax must partial-aggregate map-side:\n$s")
  }

  test("t18: LM scoring broadcasts the census and stays window-free") {
    val s = query("t18_charlm_score")
    assert(s.has[BroadcastExchangeExec], s"the trigram LM must broadcast:\n$s")
    assert(!s.windowed, s"per-doc NLL is an aggregate, not a window:\n$s")
  }

  test("fz03: span scoring — first-occurrence lag, no Expand, no per-(span,tg) dedup agg") {
    val s = query("fz03_strict_word_sml")
    assert(!s.has[ExpandExec], s"dedup-then-count must avoid the MDQA Expand:\n$s")
    // the (doc, trigram) lag window replaces the 14M-row per-(span,
    // trigram) dedup aggregate (r7 rewrite)
    assert(s.windows.nonEmpty, s"expected the first-occurrence lag window:\n$s")
    // the only nested-loop is the deliberate 4-row span-length dim
    // (constant-frame broadcast pattern); assert it stays singular
    assert(s.nestedLoops <= 1, s"only the 4-row lens dim may nested-loop:\n$s")
    assert(s.partial("count") && s.partial("max"),
      s"span counts must partial-aggregate map-side:\n$s")
  }

  test("ml01: the fit is one sufficient-stats aggregate over one fact scan") {
    val s = query("ml01_linreg")
    // one lineitem scan, partial aggregation, no join/window at all
    assert(s.tables.count(_ == "lineitem") <= 1, s"normal equations need exactly one fact scan:\n$s")
    assert(s.partial(), s"sufficient stats must map-side combine:\n$s")
    assert(!s.windowed && s.joins.isEmpty, s"no join/window in the fit:\n$s")
  }

  test("s01: corpus side streams — only the 20-row query set is broadcast") {
    val s = query("s01_cosine_topk")
    // the theta join (q_id != c_id) must be a broadcast NLJ with the tiny
    // query side built, never a cartesian of corpus x corpus
    assert(s.nestedLoops > 0, s)
    // top-k per query runs as a bounded partial/final aggregate, not a
    // sort-the-corpus window
    assert(!s.windowed, s"expected no WindowExec in s01:\n$s")
    assert(s.partial("top5_pairs"), s"expected map-side partial top-k aggregation in s01:\n$s")
  }

  test("s06: quantized + exact top-3 come from ONE pass over the pairs subtree") {
    val s = query("s06_quantized_ann")
    // exactly one join in the whole plan: corpus ⋈ broadcast(queries); the
    // old qtop ⋈ etop re-join (which forced the join + both dot products to
    // compute twice) must be gone
    assert(s.joins.size == 1 && s.nestedLoops == 1,
      s"expected the single corpus x queries join, got ${s.joins.map(_.nodeName)} in:\n$s")
    // and both TopKPairs buffers sit in the same partial aggregation
    assert(s.all[BaseAggregateExec].exists(_.aggregateExpressions.count(a =>
      a.mode == Partial && a.aggregateFunction.prettyName == "top3_pairs") >= 2),
      s"expected both top-3 aggregates in one map-side pass:\n$s")
  }

  test("e03: as-of join has no window operator (single-shuffle max_by plan)") {
    val s = query("e03_asof_last_order")
    assert(!s.windowed, s"expected no WindowExec in e03:\n$s")
    assert(s.partial(), s"expected map-side partial max in e03:\n$s")
  }

  test("q03: top-k (sort+limit) compiles to TakeOrderedAndProject") {
    val s = query("q03_shipping_priority")
    assert(s.has[TakeOrderedAndProjectExec], s)
  }

  /** Static partition filters of the file scans (no runtime pruning). */
  private def staticPruning(s: Shape, column: String): Boolean =
    s.fileScans.exists(_.partitionFilters.exists(f =>
      !f.isInstanceOf[DynamicPruningExpression] && f.references.exists(_.name == column)))
  private def dynamicPruning(s: Shape, column: String = ""): Boolean =
    s.fileScans.exists(_.partitionFilters.exists(f => f.isInstanceOf[DynamicPruningExpression] &&
      (column.isEmpty || f.references.exists(_.name == column))))

  test("p01: static partition pruning — scan carries PartitionFilters") {
    val s = query("p01_partition_pruning")
    assert(staticPruning(s, "o_month"), s)
  }

  test("p02: dynamic partition pruning — DynamicPruningExpression in scan") {
    val s = query("p02_dynamic_pruning")
    assert(dynamicPruning(s),
      s"expected a DPP filter on the fact scan (nodePartitionSelector analog):\n$s")
  }

  test("p03: both partition levels prune — static LIST filter + dynamic RANGE filter") {
    val s = query("p03_multilevel_pruning")
    // level 1 (region list) prunes statically in PartitionFilters...
    assert(staticPruning(s, "o_region"), s"expected a static o_region partition filter:\n$s")
    // ...level 2 (month range) prunes at runtime from the dim join
    assert(dynamicPruning(s), s"expected DPP on o_month (SUBPARTITION selector analog):\n$s")
  }

  test("q51/q52: custom pg expressions stay inside WholeStageCodegen") {
    // the custom expression must sit in a codegen'd Project (no
    // CodegenFallback eval in the projection hot path)
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stage)
    }
    def compiled(name: String)(kernel: PartialFunction[Any, Unit]): Unit = {
      val s = query(name)
      assert(s.all[WholeStageCodegenExec].flatMap(w => stage(w.child)).exists(n =>
        n.isInstanceOf[ProjectExec] && n.expressions.exists(_.exists(kernel.isDefinedAt))),
        s"expected the kernel inside a WholeStageCodegen Project:\n$s")
    }
    compiled("q51_to_char") { case _: PgToChar => }
    compiled("q52_age") { case _: PgAge => }
    compiled("q88_to_number") { case _: PgToNumber => }
  }

  test("q65: shared subtree is materialized once (ShareInputScan spool)") {
    val s = query("q65_shared_subtree")
    val spools = s.all[RDDScanExec].map(_.rdd.id)
    assert(spools.size == 2 && spools.distinct.size == 1,
      s"expected both join sides to read one spooled aggregate, got RDDs $spools:\n$s")
    assert(s.fileScans.isEmpty, s"the final plan must not scan orders:\n$s")
  }

  test("q58: custom Aggregator splits partial/final across the shuffle") {
    val s = query("q58_hypothetical_rank")
    assert(s.partial("hyp"), s"expected partial aggregation of the UDAF (combinefunc analog):\n$s")
  }

  test("q85: multirange normalization reuses ONE o_custkey shuffle across window + 2 aggs") {
    val s = query("q85_multirange")
    assert(s.hashShuffles.size == 1,
      s"expected the window and both grouped aggregates to share one hash shuffle:\n$s")
  }

  test("q86: hypothetical percent_rank/cume_dist split partial/final across the shuffle") {
    val s = query("q86_hypothetical_dist")
    assert(s.partial("hyp_percent_rank") || s.partial("hyppercentrank"),
      s"expected map-side partial hypothetical aggregation:\n$s")
  }

  test("q61: HLL sketch aggregates partially before the shuffle") {
    val s = query("q61_approx_distinct")
    assert(s.partial("approx_count_distinct"), s)
  }

  test("i03: AQUMV rule answers the aggregate from the matview scan") {
    val optimized = new Logical(SparkEntry.queries("i03_aqumv")(spark, Sf))
    // rewritten plan reads the matview schema (cents), no aggregate, no
    // base-table column
    assert(optimized.mentions("cents") && optimized.aggregates == 0
      && !optimized.mentions("o_totalprice"),
      s"expected the matview scan to replace the aggregate (aqumv.c rewrite):\n$optimized")
    // and with the rule disabled, the base table is aggregated
    spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
    try {
      val off = SparkEntry.queries("i03_aqumv")(spark, Sf)
      // i03 re-enables the conf; disable again before optimizing
      spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
      val offPlan = new Logical(off)
      assert(offPlan.aggregates > 0 && offPlan.mentions("o_totalprice"), offPlan)
    } finally spark.conf.set(graft.rules.AqumvRule.EnabledConf, "true")
  }

  test("i04: AQUMV superset rollup re-aggregates the matview, not the base table") {
    val optimized = new Logical(SparkEntry.queries("i04_aqumv_rollup")(spark, Sf))
    // the coarser query must aggregate the matview columns (mv_cnt /
    // mv_cents) and never touch the orders fact columns
    assert(optimized.mentions("mv_cents") && optimized.aggregates > 0
      && !optimized.mentions("o_totalprice"),
      s"expected a re-aggregation of the matview (aqumv.c superset rollup):\n$optimized")
    // with the rule disabled, the base table is aggregated
    spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
    try {
      val off = SparkEntry.queries("i04_aqumv_rollup")(spark, Sf)
      spark.conf.set(graft.rules.AqumvRule.EnabledConf, "false")
      val offPlan = new Logical(off)
      assert(offPlan.mentions("o_totalprice") && !offPlan.mentions("mv_cents"), offPlan)
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
      val optimized = new Logical(df)
      assert(!optimized.mentions("mv_cents") && !optimized.mentions("mv_cnt"),
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
    val optimized = new Logical(SparkEntry.queries("i10_aqumv_filter")(spark, Sf))
    // the filtered query must re-aggregate the matview with the filter
    // applied to the matview's group column — never touch the fact table
    assert(optimized.mentions("mv_cents") && !optimized.mentions("o_totalprice"),
      s"expected a filter+re-aggregation of the matview (aqumv.c WHERE matching):\n$optimized")
    assert(optimized.nodes.exists {
      case f: Filter => f.condition.exists {
        case EqualTo(_, Literal(v, _)) => String.valueOf(v) == "F"
        case _ => false
      }
      case _ => false
    },
      s"expected the status filter applied to the matview scan:\n$optimized")
    // a filter on a MEASURE column must kill the rewrite
    val measureFiltered = Tables.df(spark, Sf, "orders")
      .filter(org.apache.spark.sql.functions.col("o_totalprice") > 100.0)
      .groupBy(org.apache.spark.sql.functions.col("o_orderpriority"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val mp = new Logical(measureFiltered)
    assert(mp.mentions("o_totalprice") && !mp.mentions("mv_cents"),
      s"a measure filter must NOT be answered from the matview:\n$mp")
  }

  /** The DSv2 scans of a plan (graft.sources). */
  private def v2Scans(s: Shape) = s.all[BatchScanExec].map(_.scan)

  test("c03: DSv2 series source — filters pushed into the range, columns pruned") {
    val s = query("c03_series_source")
    // the BETWEEN folded into the source's generation bounds
    assert(v2Scans(s).exists(_.description().contains("range=[250000, 750000]")),
      s"expected the i-range filters pushed into the SeriesScan:\n$s")
    // `label` is never computed: the scan's read schema is i,sq only
    assert(v2Scans(s).map(_.readSchema().fieldNames.toSeq) == Seq(Seq("i", "sq")) &&
      !s.mentions("label"), s"expected column pruning to drop `label`:\n$s")
    // and no Filter node survives above the scan (all predicates consumed)
    assert(!s.has[FilterExec], s"expected no post-scan filter:\n$s")
  }

  test("c03: DSv2 series source plans one input partition per slice") {
    val df = spark.read.format("graft.sources.SeriesSource")
      .option("start", 1L).option("end", 1000L).option("partitions", 8)
      .load()
    assert(df.rdd.getNumPartitions == 8)
    // and the declined filter stays in the plan: label is not pushable
    val filtered = df.filter(org.apache.spark.sql.functions.col("label") === "n7")
    assert(filtered.count() == 10L) // 7, 107, ..., 907
    val s = shape(filtered)
    assert(s.has[FilterExec], s"non-range filter must stay above the scan:\n$s")
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
    val onPlan = new Logical(on)
    assert(onPlan.mentions("dmv_sum") && !onPlan.mentions("o_totalprice"),
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
    val onPlan = new Logical(on)
    // two Aggregates: the final one above the join, the planted partial
    // (grouping by the join key, carrying partial_sum/partial_count) below
    assert(onPlan.aggregates == 2 && onPlan.plants("partial_sum") && onPlan.plants("partial_count")
      && onPlan.joins.exists(_.exists(_.isInstanceOf[Aggregate])),
      s"expected a pre-join partial aggregate (CXformEagerAgg):\n$onPlan")
    val onRows = on.collect().map(_.toSeq).toSeq
    spark.conf.set(EagerAggRule.EnabledConf, "false")
    try {
      val off = SparkEntry.queries("x03_eager_agg")(spark, Sf)
      spark.conf.set(EagerAggRule.EnabledConf, "false") // x03 re-enables it
      val offPlan = new Logical(off)
      assert(offPlan.aggregates == 1 && !offPlan.plants("partial_sum"),
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
    val p = new Logical(SparkEntry.queries("x04_join_elim")(spark, Sf))
    assert(p.joins.isEmpty,
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
    val p = new Logical(df)
    assert(p.joins.exists(_.joinType == LeftOuter),
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
    val p = new Logical(df)
    // the planted partial aggregate must group by BOTH join keys
    assert(p.aggregates >= 2 && p.plants("partial_sum"),
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
    val p = new Logical(df)
    assert(p.aggregates == 1 && !p.plants("partial_sum"),
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
    val onPlan = new Logical(on)
    assert(onPlan.aggregates == 2 && onPlan.nodes.exists {
      case e: Expand => e.exists {
        case a: Aggregate => a.aggregateExpressions.exists(_.name == "partial_sum")
        case _ => false
      }
      case _ => false
    },
      s"expected the pre-aggregate planted below the Expand:\n$onPlan")
    val onRows = on.collect().map(_.toSeq.map {
      case d: Double => math.round(d * 1e6) // avg: sum/count assoc-rounding
      case v => v
    }).toSet
    spark.conf.set(graft.rules.EagerAggRule.EnabledConf, "false")
    try {
      val off = run()
      assert(!new Logical(off).plants("partial_sum"))
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
      assert(!new Logical(dq).plants("partial_"),
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
    val s = shape(df)
    assert(v2Scans(s).map(_.readSchema().fieldNames.toSeq) == Seq(Seq("n")),
      s"expected the scan to emit only `n`:\n$s")
  }

  /** Join a bucketed or DISTRIBUTED BY pair with broadcasts off; the join
    * must be a sort-merge join with no exchange at all. */
  private def colocated(join: => org.apache.spark.sql.DataFrame): Shape = {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val s = shape(join)
      assert(s.has[SortMergeJoinExec], s)
      assert(s.exchanges == 0, s"co-located sides must join without any motion (gp_distribution_policy):\n$s")
      s
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    }
  }

  private def bucketedJoin = {
    val (ot, lt) = operators.Bucketed.ensure(spark, Sf)
    spark.table(lt).join(spark.table(ot),
      org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"))
  }

  test("b01: bucketed join runs co-located — no shuffle exchange (DISTRIBUTED BY)") {
    colocated(bucketedJoin)
  }

  test("e08: cohort rollup has no Expand and no Window (plain counts, not DQA)") {
    val s = query("e08_retention_cohorts")
    assert(!s.has[ExpandExec], s"DISTINCT-aggregate Expand crept back into e08:\n$s")
    assert(!s.windowed, s"window sort crept back into e08:\n$s")
  }

  test("q95: DISTINCT ON runs as a hash aggregate, not a window") {
    val s = query("q95_distinct_on")
    assert(!s.windowed, s"DISTINCT ON must not sort partitions:\n$s")
    assert(s.aggregates.exists(_.aggregateFunction.prettyName == "max"),
      s"expected max(struct) aggregate in:\n$s")
  }

  test("t10: the per-doc TF slice broadcasts into the corpus-wide DF join") {
    val s = query("t10_tfidf")
    assert(s.has[BroadcastHashJoinExec], s"TF slice must broadcast:\n$s")
  }

  test("e10: OHLC bars aggregate in one hash shuffle (no window, partial/final split)") {
    val s = query("e10_ohlc_bars")
    assert(!s.windowed, s"OHLC must not use a window sort:\n$s")
    assert(s.partial(), s"expected map-side combine in:\n$s")
    assert(s.hashShuffles.size == 1, s"expected exactly 1 hash shuffle:\n$s")
  }

  test("m05: phash pipeline shuffles only on the band key (one hash exchange)") {
    val s = query("m05_phash_neardup")
    // one groupBy(band, band_key) + the pair distinct = 2 hash exchanges max
    assert(s.hashShuffles.size <= 2, s"phash pipeline grew extra shuffles:\n$s")
  }

  test("b02: sorted buckets elide the merge-join sort — no Sort node (IncrementalSort)") {
    // one file per bucket (Bucketed.ensure repartitions on the bucket
    // key) → FileSourceScanExec reports outputOrdering on the sort key →
    // SortMergeJoin needs neither Exchange NOR Sort. PG reaches the same
    // presorted input with nodeIncrementalSort.c; here the whole sort
    // disappears.
    val s = colocated(bucketedJoin)
    assert(!s.has[SortExec], s"presorted buckets must not re-sort (IncrementalSort analog):\n$s")
  }

  test("x01: ANALYZE stats + CBO reorder the bad-order join (ORCA CJoinOrderDPv2 analog)") {
    // red/green on the STATS axis: identical twin tables, identical query,
    // identical confs — the only difference is ANALYZE. The DP search
    // requires rowCounts, so it can only repair the analyzed side.
    val analyzed = operators.Stats.ensure(spark, Sf) // also turns CBO on
    val nostats = operators.Stats.ensureUnanalyzed(spark, Sf)
    def leafOrder(tables: (String, String, String)): Seq[String] = {
      val plan = operators.Stats.badOrderJoin(spark, Sf, tables).queryExecution.optimizedPlan
      plan.collectLeaves().map {
        case l: LogicalRelation =>
          val t = l.catalogTable.map(_.identifier.table).getOrElse("")
          Seq("lineitem", "orders", "customer").find(t.startsWith).getOrElse("?")
        case _ => "?"
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
    for (name <- SparkEntry.queries.keys.filter(_.startsWith("h")).toSeq.sorted; s <- bothPlans(name))
      assert(s.cartesians == 0, s"cartesian in $name:\n$s")
  }

  test("h02: ONE lineitem aggregation — window-min form, no correlated re-derivation") {
    val s = query("h02_min_cost_supplier")
    // the cost CTE must be derived exactly once: Spark can't share a
    // non-cached CTE across a correlated-subquery boundary, so the
    // textbook Q2 form scanned+aggregated lineitem twice (r6 verdict #7)
    val lineitemScans = s.tables.count(_ == "lineitem")
    assert(lineitemScans == 1, s"expected exactly 1 lineitem scan, got $lineitemScans:\n$s")
  }

  test("v01: corpus streams against a broadcast query side; no cartesian") {
    val s = query("v01_svec_cosine")
    assert(s.nestedLoops > 0, s"expected the 5-doc query side broadcast in:\n$s")
  }

  test("s04: centroid assignment partial-aggregates map-side (argmin via groupBy)") {
    val s = query("s04_ivf_ann")
    // min(struct).over(partitionBy) would shuffle corpus×8 candidate rows;
    // the groupBy argmin must plan as partial/final aggregate instead
    assert(s.partial("min"), s"expected map-side partial argmin in:\n$s")
  }

  test("h04: correlated EXISTS decorrelates to a semi join") {
    assert(query("h04_order_priority").semis > 0)
  }

  test("h22: NOT EXISTS decorrelates to an anti join") {
    assert(query("h22_sales_opportunity").antis > 0)
  }

  test("h21: both correlated subqueries decorrelate to one semi + one anti join") {
    val s = query("h21_suppliers_kept_waiting")
    // the EXISTS (another supplier in the order) must become a LeftSemi
    // and the NOT EXISTS (no OTHER late supplier) a LeftAnti — never a
    // per-row re-execution of lineitem
    assert(s.semis > 0, s"expected a semi join in:\n$s")
    assert(s.antis > 0, s"expected an anti join in:\n$s")
  }

  test("h06: scan-only aggregate — both filters pushed, no join, no wide columns") {
    val s = query("h06_forecast_revenue")
    // shipdate range must reach the parquet reader (partition of the
    // pushdown microbenchmark's point)
    assert(s.pushed.exists(_.references.contains("l_shipdate")),
      s"expected shipdate pushdown in:\n$s")
    assert(s.joins.isEmpty, s"Q6 must be join-free:\n$s")
  }

  test("h05: nation/region dims broadcast; fact joins shuffle on keys") {
    val s = query("h05_local_supplier_volume")
    assert(s.has[BroadcastHashJoinExec], s"expected broadcast dims in:\n$s")
  }

  test("ds72: fact-fact shortfall join shuffles on the part key, no cartesian") {
    val s = query("ds72_inventory_shortfall")
    // demand ⋈ supply is two fact-scale aggregates — must be an
    // equi-join (hash or sort-merge)
    assert(equiJoins(s) > 0, s"no equi-join in ds72:\n$s")
  }

  test("ds23: both IN-subqueries decorrelate to semi joins") {
    val s = query("ds23_best_customer_items")
    assert(s.semis > 0, s"expected semi joins in:\n$s")
  }

  test("ds67: rollup plans one Expand + hash aggregate, rank one window") {
    val s = query("ds67_rollup_rank")
    assert(s.has[ExpandExec], s"expected rollup Expand in:\n$s")
    // the Window node itself, not WindowGroupLimit (the rank<=N
    // pushdown Spark inserts above it)
    assert(s.windows.size == 1, s"expected exactly 1 Window, got ${s.windows.size}:\n$s")
  }

  test("ds67: Expand's child is the finest-key pre-aggregate, not the join") {
    // the eager-agg rollup variant (r12 verdict #3): the ROLLUP's ×5
    // Expand must multiply the (brand,type,yr,mon) census (~12 k rows at
    // sf0.1), never the 3-table join output (~600 k) — at 100 TB that is
    // k× the group census through the grouping shuffle vs k× the fact
    val s = query("ds67_rollup_rank")
    assert(expandsAggregate(s, _.isInstanceOf[BaseJoinExec]),
      s"Expand must sit on the pre-aggregate (an aggregate before any join below it):\n$s")
    // and the pre-aggregate combines map-side before its exchange
    assert(s.partial("sum"), s"pre-agg must split partial/final:\n$s")
  }

  test("ch04: epoch shuffle head is a distributed top-k, not a corpus-wide window") {
    val s = query("ch04_epoch_shuffle")
    assert(s.has[TakeOrderedAndProjectExec],
      s"expected distributed top-k for the shuffle head in:\n$s")
    // the row_number window must sit ABOVE the LIMIT (25 rows), never
    // under it on the full corpus: exactly one Window, one top-k
    assert(s.windows.size == 1, s)
  }

  test("t15: split assignment is shuffle-free until the per-split rollup") {
    val s = query("t15_train_split")
    // one aggregation exchange (plus AQE reads); no join/window before it
    assert(!s.windowed, s"no window expected in t15:\n$s")
    assert(!s.has[SortMergeJoinExec], s"no fact join expected in t15:\n$s")
  }

  test("fz01: probe match is broadcast + one map-side-combined argmin, no window") {
    val s = query("fz01_levenshtein_match")
    assert(s.nestedLoops > 0, s"probes must broadcast against the corpus scan:\n$s")
    assert(!s.windowed, s"argmin must be an aggregate, not a window:\n$s")
    assert(s.partial("min"), s"expected map-side partial min:\n$s")
  }

  test("l01: ancestor set broadcasts; the corpus is never shuffled for the join") {
    val s = query("l01_ltree_isparent")
    assert(s.nestedLoops > 0, s"expected broadcast ancestor join in:\n$s")
  }

  test("q113: tag arrays build in one aggregate, probes evaluate join-free") {
    val s = query("q113_intarray_tags")
    assert(s.joins.isEmpty, s"probe predicates must not join:\n$s")
    assert(s.partial("collect_set") || s.has[ObjectHashAggregateExec], s"expected map-side collect_set partials:\n$s")
  }

  test("g04: per-row trig stays in codegen; rollup is a partial agg") {
    val s = query("g04_earth_distance")
    assert(!s.windowed, s)
    assert(s.partial("min") || s.partial("count"), s"expected map-side partials in:\n$s")
  }

  test("s07: per-iteration argmin is a map-side min over broadcast centroids, no window") {
    val s = query("s07_kmeans_lloyd")
    assert(s.nestedLoops > 0, s"centroids must broadcast against the corpus scan:\n$s")
    assert(!s.windowed, s"assignment argmin must be an aggregate, not a window:\n$s")
    assert(s.partial("min"), s"expected map-side partial min:\n$s")
  }

  test("e12: both SCD2 windows partition by user_id — no global sort") {
    val s = query("e12_scd2_history")
    assert(s.windows.forall(s.partitionKeys(_).contains("user_id")),
      s"every Window must partition by user_id:\n$s")
  }

  test("dq01: FK orphan check is an anti join, not a materialized except") {
    val s = query("dq01_constraint_audit")
    assert(s.antis > 0, s"expected LEFT ANTI join in:\n$s")
  }

  test("r04: PageRank iterations are partial-agg shuffles, no cartesian product") {
    val s = query("r04_pagerank")
    assert(s.partial("sum"), s"expected map-side contrib sums:\n$s")
    assert(!s.windowed, s)
  }

  test("t16: top merge pairs come from a distributed top-k over the word census") {
    val s = query("t16_bpe_merge_pairs")
    assert(s.has[TakeOrderedAndProjectExec], s"expected top-k, not global sort:\n$s")
    assert(!s.windowed, s)
  }

  test("m06: the island window partitions by doc_id — no global sort") {
    val s = query("m06_energy_segments")
    // the islands are found inside each document's row (voiced_runs), so
    // the segmentation runs on the scan's partitions: no sort or shuffle
    // under it, and the only sort is the final ORDER BY doc_id
    val seg = s.nodes.filter(_.expressions.exists(_.exists(_.isInstanceOf[VoicedRuns])))
    assert(seg.size == 1, s"expected one node evaluating voiced_runs:\n$s")
    assert(!PlanDump.nodes(seg.head).exists(n => n.isInstanceOf[SortExec] || n.isInstanceOf[Exchange]),
      s"the segmentation must not wait on a sort or shuffle:\n$s")
  }

  test("m06, m08 and m09: one frame-segmentation kernel per document — no window, explode or spool") {
    for (name <- Seq("m06_energy_segments", "m08_scene_cuts", "m09_scene_frame_sample")) {
      val s = query(name)
      val fp = PlanDump.fingerprint(s.plan)
      for (k <- Seq("window", "generate", "scan.local", "agg.hash"))
        assert(!fp.contains(k), s"$name has $k:\n$s")
      val kernels = s.evaluates { case _: SceneCensus | _: VoicedRuns => true; case _ => false }
      val frames = s.evaluates(_.isInstanceOf[FrameFeats])
      assert(kernels == 1 && frames == 1,
        s"$name evaluates $kernels segmentation kernels over $frames frame arrays:\n$s")
    }
  }

  test("h19: the OR-of-ANDs bracket still pushes per-table filters to the scans") {
    val s = query("h19_bracketed_revenue")
    // Catalyst extracts a per-side disjunction from the cross-table OR —
    // the scans must carry a pushed Or(Or(And(...))) bracket
    assert(s.pushed.exists {
      case sources.Or(sources.Or(_: sources.And, _), _) => true
      case _ => false
    }, s"expected a pushed Or filter:\n$s")
  }

  test("base scans expose row-group statistics filters (zone-map analog)") {
    // reference: PAX sparse filters / AOCS block directory; in Spark the
    // parquet scan itself must carry the pushed predicates
    val df = Tables.df(spark, Sf, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === 1L)
    val s = shape(df)
    assert(s.pushed == Seq(sources.IsNotNull("l_orderkey"), sources.EqualTo("l_orderkey", 1L)), s)
  }

  test("ch02: corpus-wide window runs per (source, bucket), never per source alone") {
    // the distributed prefix sum: the only window over the FULL documents
    // relation is keyed (source, bkt) — a source-only window over the
    // corpus would serialize each source through one task. The source-only
    // window that does exist runs over the tiny bucket-subtotal relation.
    val s = query("ch02_sequence_packing")
    assert(s.windows.exists(w => Set("source", "bkt").subsetOf(s.partitionKeys(w).toSet)),
      s"expected a (source, bkt)-keyed window in:\n$s")
  }

  test("d08: representative selection is one map-side-combinable aggregate, no window") {
    // argmax via max_by partial-aggregates to |clusters| rows before the
    // exchange (the r6-verdict s04 pattern); a window formulation would
    // shuffle every member row
    val s = query("d08_cluster_representatives")
    assert(s.windows.isEmpty, s"cluster representative should not use a window:\n$s")
    assert(s.partial(), s"expected partial aggregation in:\n$s")
  }

  test("q79: correlated LATERAL LIMIT decorrelates — no per-outer-row rescan") {
    // PG executes this as a rescanning nestloop with params; at scale we
    // need Catalyst's decorrelation into a ranked-window (or equivalent
    // joined) plan: one pass over customer, no cartesian/loop artifacts
    val s = query("q79_lateral_topn")
    assert(s.windows.nonEmpty || s.has[TakeOrderedAndProjectExec]
      || s.evaluates(_.isInstanceOf[RowNumber]) > 0,
      s"expected decorrelated ranked plan for lateral limit:\n$s")
  }

  test("ml02: regr aggregate family is one partial/final hash aggregate") {
    val s = query("ml02_regr_aggs")
    assert(s.partial(), s"expected map-side partial moments in:\n$s")
    assert(s.windows.isEmpty, s)
  }

  test("r06: triangle count joins stay hash equi-joins (oriented wedge join)") {
    val s = query("r06_triangle_count")
    assert(equiJoins(s) > 0, s"expected hash/merge equi-joins in:\n$s")
  }

  test("ds88: eight time-band counts run as ONE scan of events") {
    // the spec's literal 8-subquery form is 8 fact scans; the FILTER'd
    // aggregate must collapse them into a single pass + single agg
    val s = query("ds88_timeband_counts")
    assert(s.fileScans.size == 1, s"expected exactly 1 events scan:\n$s")
    assert(s.joins.isEmpty, s"band counts must not join:\n$s")
    assert(s.partial(), s"expected map-side partial counts:\n$s")
  }

  test("ds04: year_total is spooled once — 2 fact scans, not 8") {
    // the 4-way self-join must run over the localCheckpoint spool (PG's
    // materialized multi-ref CTE); inlining would scan lineitem+orders
    // 4x each
    val s = query("ds04_yoy_growth")
    assert(readsSpoolOnly(s), s"self-joins must read the checkpointed year_total spool:\n$s")
  }

  test("ds14: cross_items semi-joins into the fact scan; branch scans are column-pruned") {
    val s = query("ds14_cross_channel")
    assert(s.semis > 0, s"expected IN-subquery as semi-join:\n$s")
    // the INTERSECT branches must not drag unreferenced lineitem columns
    assert(!s.mentions("l_comment") && !s.mentions("l_suppkey"),
      s"INTERSECT branch scans are not column-pruned:\n$s")
    assert(s.has[ExpandExec], s"expected the ROLLUP Expand:\n$s")
  }

  test("ds24: purchase-return match is an equi-join on the compound key, never all-pairs") {
    val s = query("ds24_returned_netpaid")
    assert(s.partial(), s"expected map-side partial aggregation:\n$s")
  }

  test("ds28: six band aggregates run as ONE scan with ONE shared Expand") {
    // the spec's literal six-subquery form is six fact scans; the
    // FILTER'd-aggregate collapse (ds88) plus a single Expand for the
    // five DISTINCT counts is the scale-correct plan
    val s = query("ds28_band_stats")
    assert(s.fileScans.size == 1, s"expected exactly 1 lineitem scan:\n$s")
    assert(s.joins.isEmpty, s"band stats must not join:\n$s")
    assert(s.count[ExpandExec] == 1, s"the five DISTINCT counts must share ONE Expand:\n$s")
  }

  test("ds39: the moment CTE is spooled — the month-pair self-join reads no parquet") {
    // inlined, the 2x-referenced cov CTE would scan lineitem twice;
    // spooled, the self-join runs over the |parts x months| checkpoint
    val s = query("ds39_inventory_cov")
    assert(readsSpoolOnly(s), s"self-join must read the checkpointed cov39 spool:\n$s")
  }

  test("ds78: channel joins are equi-joins on the shared key — never all-pairs") {
    val s = query("ds78_channel_ratio")
    // the LEFT JOIN + IS NULL return filter keeps its outer join form
    // (the spec's literal text); the final ss x ws join is an equi-join
    // on (yr, cust, part) with map-side partial aggregation below it
    assert(s.partial(), s"expected map-side partial aggregation:\n$s")
  }

  test("ds95: both chained EXISTS plan as semi-joins on the order key") {
    val s = query("ds95_chained_exists")
    assert(s.semis >= 2, s"both IN-subqueries must be semi-joins:\n$s")
    // r15: every join side is fact-scale — the MERGE hints must hold
    // the shuffle plan (AQE used to broadcast the 600k-row self-join
    // side twice; see PROF_r15's ds16/ds95 section)
    assert(!s.has[BroadcastExchangeExec], s"no fact-scale side may broadcast in ds95:\n$s")
  }

  test("ds64: the 8-relation CTE is spooled — the year-pair self-join reads no parquet") {
    val s = query("ds64_wide_twoyear")
    assert(readsSpoolOnly(s), s"self-join must read the checkpointed cross_sales64 spool:\n$s")
  }

  test("ds59: the weekday pivot spools once — the year-pair self-join reads no parquet") {
    // the six FILTER'd day sums share ONE aggregate (never seven
    // scans), and the 2x-referenced pivot is spooled (the ds39
    // discipline) so the self-join reads |nations x weeks| rows
    val s = query("ds59_weekly_pivot")
    assert(readsSpoolOnly(s), s"self-join must read the checkpointed wk59 spool:\n$s")
  }

  test("ds73: the visit band filters ON the aggregate; dims broadcast into the survivors") {
    val s = query("ds73_visit_band")
    assert(s.has[BroadcastHashJoinExec], s"customer/nation dims should broadcast:\n$s")
  }

  test("ds54: both funnel IN-subqueries plan as semi-joins; date filters reach the scans") {
    val s = query("ds54_revenue_segments")
    assert(s.semis >= 2, s"month_items and my_customers must semi-join into the fact scans:\n$s")
    assert(s.pushed.exists {
      case sources.IsNotNull("o_orderdate") | sources.GreaterThanOrEqual("o_orderdate", _) => true
      case _ => false
    }, s"the date-window filters must reach the orders scan:\n$s")
  }

  test("ds38: the 3-way INTERSECT count plans as semi-joins over distinct keys") {
    val s = query("ds38_intersect_count")
    assert(s.semis > 0, s"INTERSECT must plan as semi-join:\n$s")
    assert(!s.mentions("l_extendedprice") && !s.mentions("l_quantity"),
      s"INTERSECT branch scans are not column-pruned:\n$s")
  }

  test("ds87: the EXCEPT chain plans as anti-joins over distinct keys — no cartesian, pruned branches") {
    val s = query("ds87_except_chain")
    assert(s.antis > 0, s"EXCEPT must plan as anti-join:\n$s")
    assert(!s.mentions("l_extendedprice") && !s.mentions("l_quantity"),
      s"EXCEPT branch scans are not column-pruned:\n$s")
  }

  test("ds75: the signed UNION branches are column-pruned; the year-pair join is equi, never all-pairs") {
    val s = query("ds75_net_decline")
    assert(s.has[UnionExec], s"expected the signed sales/returns UNION ALL:\n$s")
    // neither branch drags unreferenced lineitem columns through the union
    assert(!s.mentions("l_comment") && !s.mentions("l_suppkey") && !s.mentions("l_tax"),
      s"union branches are not column-pruned:\n$s")
  }

  test("ds09: the 15-probe sheet collapses to ONE lineitem scan") {
    // the spec's literal form is 15 scalar subqueries = 15 fact scans;
    // the FILTER'd-aggregate collapse reads the fact exactly once (the
    // one-row region dim rides a bounded 1x1 join)
    val s = query("ds09_banded_probes")
    assert(s.tables.count(_ == "lineitem") <= 1, s"the probe sheet must collapse to one lineitem scan:\n$s")
    assert(s.partial(), s"expected map-side partial aggregation:\n$s")
  }

  test("ds11: the dim-carrying year_total is spooled once — the 4-way self-join reads no parquet") {
    val s = query("ds11_yoy_customer_dims")
    assert(readsSpoolOnly(s), s"self-joins must read the checkpointed year_total spool:\n$s")
  }

  test("ds66: the two carrier pivot blocks collapse to ONE scan grouped by (wh, carrier)") {
    // the spec's per-channel UNION ALL blocks exist because its channels
    // are separate fact tables; same-relation carriers read once (ds77)
    val s = query("ds66_carrier_monthly")
    assert(s.tables.count(_ == "lineitem") <= 1, s"carrier blocks must collapse to one lineitem scan:\n$s")
    assert(!s.mentions("l_tax") && !s.mentions("l_comment"), s"pivot scan is not column-pruned:\n$s")
  }

  test("ds74: the union-tagged year_total is spooled once — the 4-way self-join reads no parquet") {
    val s = query("ds74_union_yoy")
    assert(readsSpoolOnly(s), s"self-joins must read the checkpointed union spool:\n$s")
  }

  test("ds13: the OR'd band report is one fact pass with broadcast dims — no cartesian") {
    val s = query("ds13_band_join_report")
    assert(s.tables.count(_ == "lineitem") <= 1, s"expected one lineitem pass:\n$s")
    assert(s.has[BroadcastHashJoinExec], s"dims must broadcast into the fact scan:\n$s")
    assert(s.partial(), s"expected map-side partial aggregation:\n$s")
  }

  /** The plan's first Window runs over an aggregate somewhere below it. */
  private def windowsAggregate(s: Shape): Boolean =
    s.windows.headOption.exists(w => PlanDump.nodes(w).exists(_.isInstanceOf[HashAggregateExec]))

  test("ds47: the three window columns run over the monthly aggregate, never the fact") {
    // q47's shape: year-average + lag + lead in one windowed relation;
    // the windows must sit ABOVE the (brand, yr, mon) aggregate — a
    // window over the raw join would sort the fact per brand
    val s = query("ds47_monthly_deviation")
    assert(windowsAggregate(s), s"windows must run over the monthly aggregate (HashAggregate below Window):\n$s")
  }

  test("ds80: the report ROLLUP Expands the (channel, brand) pre-aggregate, not the fact join") {
    // second user of EagerAggRule's rollup variant (after ds67): the
    // ×3 Expand must multiply the ~75-row pre-aggregate, never the
    // 4-relation join output
    val s = query("ds80_channel_report")
    assert(expandsAggregate(s, _.isInstanceOf[BaseJoinExec]),
      s"Expand must sit on the pre-aggregate (an aggregate before any join below it):\n$s")
    assert(s.partial("sum"), s"pre-agg must split partial/final:\n$s")
  }

  test("ds65: one fact pass; the per-nat totals are a Window over the per-(nat, part) aggregate") {
    // r19: the spec's spool + re-aggregate + join-back is one window
    // partitioned by the aggregate's own key (TpcDs.Ds65Window)
    val s = query("ds65_underperforming")
    assert(s.tables.count(_ == "lineitem") == 1, s"expected one pass over lineitem:\n$s")
    assert(windowsAggregate(s), s"the window must run over the per-(nat, part) HashAggregate:\n$s")
    assert(s.spools == 0, s"ds65 must not spool:\n$s")
  }

  test("ds70: the rollup Expand sits on the pre-aggregate; the rank windows run over the rollup") {
    // third user of EagerAggRule's rollup variant; the GROUPING()-
    // partitioned rank must window the ~30-row rollup output
    val s = query("ds70_grouping_rank")
    assert(expandsAggregate(s, _.isInstanceOf[BaseJoinExec]), s"Expand must sit on the pre-aggregate:\n$s")
    assert(s.semis > 0, s"the ranked-subquery region filter must plan as a semi-join:\n$s")
  }

  test("ds16: EXISTS plans as a semi-join, NOT EXISTS as an anti-join — and nothing broadcasts a fact side") {
    val s = query("ds16_shipping_audit")
    assert(s.semis > 0, s"correlated EXISTS must plan as semi-join:\n$s")
    assert(s.antis > 0, s"correlated NOT EXISTS must plan as anti-join:\n$s")
    // every join side is fact-scale: the pg_hint_plan MERGE hints must
    // pin shuffle sort-merge joins — a broadcast of the 600k-row
    // self-join side cannot exist at 100 TB (and measures 3x slower
    // locally, PROF_r15)
    assert(!s.has[BroadcastExchangeExec],
      s"no fact-scale side may broadcast — the MERGE hints must hold:\n$s")
    assert(s.has[SortMergeJoinExec], s"expected the hinted shuffle sort-merge plan:\n$s")
  }

  test("ds18: the 3-deep averages rollup Expands the pre-aggregate, not the 5-relation join") {
    // fourth user of EagerAggRule's rollup variant
    val s = query("ds18_avg_rollup_dims")
    assert(expandsAggregate(s, _.isInstanceOf[BaseJoinExec]), s"Expand must sit on the pre-aggregate:\n$s")
    assert(s.partial("sum"), s"pre-agg must split partial/final:\n$s")
  }

  test("ds31: the 6x-referenced quarterly CTE is spooled — the chain join reads no parquet") {
    val s = query("ds31_qoq_chain")
    assert(readsSpoolOnly(s), s"all six references must read the checkpointed quarterly spool:\n$s")
  }

  test("ds35: EXISTS-or-EXISTS plans as ExistenceJoins; the conjunctive IN stays a semi-join") {
    // the disjunctive form cannot filter through a plain semi-join —
    // each EXISTS must become an ExistenceJoin (boolean-emitting semi
    // variant; the reference's hashed-SubPlan testexpr) and the OR
    // evaluates over the two booleans
    val s = query("ds35_disjunctive_exists")
    assert(s.joins.count(_.joinType.isInstanceOf[ExistenceJoin]) >= 2,
      s"both OR'd EXISTS must plan as ExistenceJoins:\n$s")
    assert(s.semis > 0, s"the conjunctive IN must stay a semi-join:\n$s")
  }

  /** Windows whose functions include a rank. */
  private def rankWindows(s: Shape): Int =
    s.windows.count(_.windowExpression.exists(_.exists(_.isInstanceOf[Rank])))

  test("ds49: per-channel ranks window the per-item AGGREGATE, unioned then deduped") {
    val s = query("ds49_worst_return_ratios")
    // six rank windows (2 ratios × 3 channels), each fed by a
    // partial/final per-item aggregate — the fact never enters a window
    assert(rankWindows(s) >= 6, s"expected the six per-channel rank windows:\n$s")
    assert(s.partial("sum"), s"per-item ratios must combine map-side:\n$s")
    // the UNION across channels is DISTINCT (the spec's dedup): it
    // plans as an aggregate over the union
    assert(s.has[UnionExec], s"expected the three-channel union:\n$s")
  }

  test("ds05: the rollup Expand sits on the pre-aggregate, not the sales∪returns fact union") {
    // EagerAggRule's fifth user — and the first whose rollup input is a
    // UNION ALL of two heterogeneous fact projections
    val s = query("ds05_channel_sales_returns")
    assert(expandsAggregate(s, _.isInstanceOf[UnionExec]) &&
      s.all[ExpandExec].exists(PlanDump.nodes(_).exists(_.isInstanceOf[UnionExec])),
      s"Expand must sit on the (channel, nat) pre-aggregate above the union:\n$s")
    assert(s.partial("sum"), s"pre-agg must split partial/final:\n$s")
  }

  test("ds08: the VALUES∩pref code funnel plans as semi-joins over a LocalTableScan") {
    val s = query("ds08_preferred_codes")
    // one semi for the INTERSECT, one for the IN — never a pair emission
    assert(s.semis >= 2, s"INTERSECT and IN must both plan as semi-joins:\n$s")
    assert(s.has[LocalTableScanExec], s"the VALUES list must be a local relation:\n$s")
  }

  test("ds79: the visit aggregate shuffles on the fact-scale visit grain; customer joins above it") {
    val s = query("ds79_store_visits")
    assert(s.hashedOn("l_orderkey") + s.hashedOn("visit") > 0,
      s"visit aggregate must partition on the order-grain key:\n$s")
    assert(s.has[TakeOrderedAndProjectExec],
      s"the LIMIT must plan as TakeOrdered, not a global sort:\n$s")
    // the customer join reads the AGGREGATE, not the fact
    assert(s.partial("sum"), s"visit sums must combine map-side:\n$s")
  }

  test("ds97: the overlap census FULL OUTER joins co-partitioned distinct key sets") {
    val s = query("ds97_channel_overlap")
    assert(s.joinsOf(FullOuter).nonEmpty, s"expected the full-outer overlap join:\n$s")
    assert(s.has[SortMergeJoinExec],
      s"the compound-key full outer must be a shuffle sort-merge join (both sides fact-derived):\n$s")
  }

  test("ds17: both chain joins are MERGE-pinned sort-merge — no fact-leg broadcast") {
    // the r15 lineitem-derived-broadcast boundary: all three legs are
    // fact-derived on a fact-scale key, so the chain joins must never
    // build a broadcast table from a leg (orders/part dim builds inside
    // each leg remain broadcast — that side of the boundary)
    val s = query("ds17_return_repurchase")
    assert(s.count[SortMergeJoinExec] >= 2, s"both (cust, brand) chain joins must be sort-merge:\n$s")
    // every broadcast build in the plan is a dim/orders scan inside a
    // leg; a chain join that broadcast would show a seventh broadcast
    // join (3 legs × (orders + part) = 6)
    assert(s.count[BroadcastHashJoinExec] <= 6,
      s"unexpected extra broadcast join (a chain join flipped?):\n$s")
  }

  test("ds44: six references read the spooled per-item aggregate; two rank windows") {
    val s = query("ds44_best_worst")
    // the only parquet in the plan is the part dim (joined twice);
    // every perf reference reads the checkpointed spool
    assert(!s.tables.contains("lineitem"),
      s"all six perf references must read the spool, not re-derive from lineitem:\n$s")
    assert(s.spools > 0, s"expected the checkpointed perf spool:\n$s")
    assert(rankWindows(s) >= 2, s"expected the ascending and descending rank windows:\n$s")
    // the rank<=10 filter must push INTO the windows — only the top-10
    // band survives each sort (Spark's WindowGroupLimit)
    assert(s.has[WindowGroupLimitExec], s"rank<=10 should push down as WindowGroupLimit:\n$s")
  }

  test("ds77: channel totals are ONE scan + ONE rollup Expand — never a block per channel") {
    val s = query("ds77_channel_totals")
    assert(s.tables.count(_ == "lineitem") <= 1,
      s"the per-channel blocks must collapse to one lineitem scan:\n$s")
    assert(s.count[ExpandExec] == 1, s"expected exactly the ROLLUP Expand:\n$s")
  }

  test("d14: span dedup joins the dup census as a SEMI join — no pair emission, no cap needed") {
    val s = query("d14_substring_span_dedup")
    assert(s.semis > 0, s"dup-window probe must be a semi-join:\n$s")
    assert(s.evaluates {
      case _: PairEmit | _: PairEmitSized | _: PairEmitSizedAll => true
      case _ => false
    } == 0, s"span dedup must not emit pairs:\n$s")
    // the run/merge windows are per-doc, never corpus-wide
    assert(s.windows.forall(s.partitionKeys(_).contains("doc_id")),
      s"found a window not partitioned by doc_id:\n$s")
    assert(s.partial(), s"expected map-side partial census:\n$s")
  }

  test("d15: the span cut is an equi-keyed ANTI range-join, never a cartesian") {
    val s = query("d15_span_cut_rewrite")
    assert(s.antis > 0, s"cut must be an anti join:\n$s")
  }

  test("d12: line dedup is census + equi-join + bounded per-doc rebuild") {
    val s = query("d12_line_dedup")
    // reassembly must be an aggregate (bounded by the doc's own lines),
    // never a corpus-wide window
    assert(s.windows.isEmpty, s"reassembly should be collect_list agg, not a window:\n$s")
  }

  test("s10: hybrid RRF tops are TakeOrdered, windows only post-limit") {
    // each retrieval side must reduce corpus -> K via TakeOrdered (no
    // corpus-wide sort); the K-row rank windows then cost nothing
    val s = query("s10_hybrid_rrf")
    assert(s.has[TakeOrderedAndProjectExec], s"expected TakeOrdered top-K on the retrieval sides:\n$s")
  }

  test("e18: attribution is one equi-join + min/max struct agg — no window") {
    // both endpoints (first/last touch) come from ONE aggregate over the
    // co-located join; a window formulation would re-sort the pair stream
    val s = query("e18_attribution")
    assert(s.windows.isEmpty, s"attribution should not window:\n$s")
    assert(s.partial("max") && s.partial("min"), s"expected map-side struct endpoints:\n$s")
  }

  /** A window whose first partition key is the column `key`. */
  private def windowedBy(s: Shape, key: String): Boolean =
    s.windows.exists(s.partitionKeys(_).headOption.contains(key))

  test("e17: decomposition windows partition by series, input pre-aggregated") {
    val s = query("e17_seasonal_decompose")
    assert(windowedBy(s, "event_type"), s"trend window must partition by event_type (never global):\n$s")
    assert(s.partial("sum"), s"hourly pre-agg must combine map-side:\n$s")
  }

  test("b03: equality filter on the bucket key prunes buckets at the scan") {
    // direct-dispatch analog: the scan must read fewer than the table's
    // 8 buckets for a 3-key IN probe
    val s = query("b03_bucket_pruning")
    assert(s.fileScans.exists(sc => sc.bucketedScan && sc.optionalBucketSet.exists(
      _.cardinality() < sc.relation.bucketSpec.get.numBuckets)),
      s"probe must not read every bucket:\n$s")
  }

  test("p05: retention moves are partition-pruned scans, not data filters") {
    val s = query("p05_partition_retention")
    // the manifest read unions two partitioned locations; the month
    // predicate must be gone from the data path (PartitionFilters did
    // the split at write time)
    assert(s.partial(), s"manifest rollup must combine map-side:\n$s")
  }

  test("b04: groupBy on the bucket key aggregates with NO exchange before it") {
    // the storage layout already hash-distributes on l_orderkey, so the
    // wide per-order aggregate must run exchange-free; only the tiny
    // histogram rollup (+ its output sort) may exchange
    val s = query("b04_bucketed_agg")
    assert(s.exchanges <= 2, s"expected bucketed agg to elide the wide exchange:\n$s")
    assert(s.hashedOn("l_orderkey") == 0, s"per-order aggregate must not re-shuffle the bucket key:\n$s")
  }

  test("e20: rolling median window partitions by user — never corpus-wide") {
    val s = query("e20_rolling_median")
    assert(windowedBy(s, "user_id"), s"median window must partition by user_id:\n$s")
  }

  /** The final plan of a query that must take its word census from one
    * compiled word_stats pass per document: no token generator, no exchange
    * keyed on the token, no interpreted HOF lambda. */
  private def assertWordStatsPass(name: String): Shape = {
    val s = query(name)
    assert(s.evaluates(_.isInstanceOf[WordStats]) > 0, s"$name must take its census from word_stats:\n$s")
    // the only generator allowed is t22's stack() unpivot of its 5 report rows
    assert(s.all[GenerateExec].forall(_.generator.prettyName == "stack"), s"$name must not explode tokens:\n$s")
    assert(s.hashedOn("tok") == 0, s"$name must not shuffle on tokens:\n$s")
    assert(s.evaluates(_.isInstanceOf[LambdaFunction]) == 0,
      s"$name must not tokenize or count via HOF lambdas:\n$s")
    s
  }

  test("t22: funnel is one word_stats pass — no join, explode or token shuffle") {
    val s = assertWordStatsPass("t22_filter_funnel")
    assert(s.joins.isEmpty, s"funnel must compute all gates from one census:\n$s")
  }

  test("f06: one aggregate on word over word_census — no (doc_id, word) aggregate") {
    val s = query("f06_ts_stat")
    assert(s.evaluates(_.isInstanceOf[WordCensusExpr]) > 0, s"f06 must census each document in one pass:\n$s")
    assert(s.hashShuffles.size == 1 && s.hashedOn("word") == 1, s"f06 must shuffle once, on word:\n$s")
    assert(!s.mentions("doc_id", s.all[HashAggregateExec]), s"f06 must not aggregate per (doc_id, word):\n$s")
  }

  test("s11: probe sweep joins the index ONCE; levels expand candidates in place") {
    val s = query("s11_probe_sweep")
    // exactly two joins: probes->index and swept->exact (both broadcast)
    assert(equiJoins(s) <= 3, s"level expansion must not re-join per level, got ${equiJoins(s)} joins:\n$s")
  }

  test("j07: variant shreds with a single parse_json per row, join-free") {
    val s = query("j07_variant_shred")
    assert(s.joins.isEmpty, s)
    val parses = s.evaluates(_.prettyName == "parse_json")
    assert(parses <= 1, s"document must parse once into the variant, got $parses:\n$s")
  }

  test("ml04: COO matmul is equi-join on k + (i,j) hash agg, partials map-side") {
    val s = query("ml04_matmul")
    assert(s.partial("sum"), s"expected map-side partial products:\n$s")
  }

  test("i15: min/max retraction rescans survivors ONLY through the affected-key semi-join") {
    val s = query("i15_ivm_minmax")
    // the base rescan is bounded by the delta-derived affected key set
    assert(s.semis > 0, s"survivor rescan must be semi-joined to the affected keys:\n$s")
    // state AND delta are materialized (matview + temp delta table), so
    // the ONLY base scan in the retraction plan is the semi-joined
    // survivor rescan — untouched groups are provably not rescanned
    assert(s.tables.count(_ == "events") == 1, s"expected 1 events scan (the bounded rescan):\n$s")
    assert(s.has[InMemoryTableScanExec] || s.spools > 0,
      s"state must read from the checkpoint, not recompute:\n$s")
  }

  test("ddl01: DDL-declared RANGE partitions prune dynamically (DPP rides the layout)") {
    try {
      val s = query("ddl01_gp_ddl")
      assert(dynamicPruning(s, "o_orderdate_prt"),
        s"the month-dim join must plant a dynamic partition filter on o_orderdate_prt:\n$s")
    } finally spark.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
  }

  test("ddl01: DDL-declared DISTRIBUTED BY joins its twin co-located — no motion") {
    colocated {
      val tbl = operators.GpDdl.ensureOrders(spark, Sf)
      val (_, lt) = operators.Bucketed.ensure(spark, Sf)
      spark.table(tbl).join(spark.table(lt),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
    }
  }

  test("id01: corpus-wide numbering window partitions by bucket; grants broadcast") {
    val s = query("id01_sequence_alloc")
    // the row_number over the corpus must ride the bucket partitioning —
    // a single-partition corpus window would serialize 100 TB on one task
    assert(windowedBy(s, "b"), s"corpus window must partition by the range bucket:\n$s")
    assert(s.has[BroadcastHashJoinExec], s"the 16-row grant relation must broadcast:\n$s")
  }

  test("i16: index census reads the materialized index, never the vector corpus") {
    val s = query("i16_ivf_maintain")
    assert(!s.tables.contains("embeddings"),
      s"the maintained index must answer without re-scanning the corpus:\n$s")
    assert(s.spools > 0 || s.has[InMemoryTableScanExec],
      s"expected the checkpointed index as the census input:\n$s")
  }

  test("i17: the incremental span-dedup probe never rescans the corpus") {
    // the O(|delta|) contract: the window index / census / token counts
    // persist as parquet STATE tables (r15 — the production shape; the
    // state build is warmup DDL), the delta slice is fingerprinted once
    // (checkpointed inside the probe), and the emitted-rows plan reads
    // ONLY state tables + checkpoints — base documents.parquet never
    // appears in the probe plan
    val s = query("i17_span_dedup_incremental")
    assert(!s.tables.contains("documents"),
      s"probe must read persisted state + delta checkpoints only — base text is never rescanned:\n$s")
    assert(s.tables.exists(_.startsWith("span_base_")),
      s"expected the persisted span-state tables in the probe plan:\n$s")
    assert(s.semis > 0, s"base windows must arrive via semi-join, never pair emission:\n$s")
  }

  test("i18: the retraction plan is fully index-derived — never touches the corpus") {
    // deletions must never rescan the corpus: deleted windows, the
    // flip set, the remaining-holder lookup, and the re-scored rows
    // all come from the persisted state tables (even the deleted-id
    // set is carved from state's ntok)
    val s = query("i18_span_dedup_retract")
    assert(!s.tables.contains("documents"),
      s"retraction must read state tables only — the corpus is never rescanned:\n$s")
    assert(s.tables.exists(_.startsWith("span_full_")),
      s"expected the persisted span-state tables in the retraction plan:\n$s")
    assert(s.antis > 0, s"survivor windows must arrive via anti-join on the deleted set:\n$s")
  }

  test("ddl04: after SET DISTRIBUTED BY the new-key join runs with no Exchange") {
    colocated {
      // run the redistribution, then compile the new-key join fresh
      SparkEntry.queries("ddl04_set_distributed")(spark, Sf).queryExecution.toRdd.count()
      spark.table(Derived.tableName("orders_redist", Sf))
        .join(spark.table(Derived.tableName("customer_gp", Sf)),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
    }
  }

  test("dt02: directory-table content scan streams against a broadcast catalog") {
    val s = query("dt02_directory_table_read")
    assert(s.has[BroadcastHashJoinExec], s"catalog must broadcast:\n$s")
    assert(!s.has[SortMergeJoinExec],
      s"the file-content relation must not shuffle for the catalog join:\n$s")
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
    val s = shape(joined)
    // HashJoin(region nation) → a shuffled hash join somewhere in the plan
    // (AQE may still plan it as SHJ post-exchange; the hint forbids SMJ/BHJ
    // at that level)
    assert(s.has[ShuffledHashJoinExec], s"HashJoin hint must bind:\n$s")
    // MergeJoin(customer nation) → a sort-merge join at the customer level
    assert(s.has[SortMergeJoinExec], s"MergeJoin hint must bind:\n$s")
    // Parallel(orders 16) → an explicit 16-way round-robin motion on orders
    assert(s.shuffles.exists(_.outputPartitioning == RoundRobinPartitioning(16)),
      s"Parallel hint must emit the repartition(16) motion:\n$s")
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
    assert(shape(unhinted).has[BroadcastHashJoinExec])
  }

  test("b05: jump-hash segment audit is one scan, no join") {
    val s = query("b05_jump_consistent_hash")
    assert(s.joins.isEmpty, s"the audit must not join:\n$s")
    // one scan of orders, one partial/final aggregate pair
    assert(s.fileScans.size == 1, s"expected exactly one scan:\n$s")
    assert(s.partial(), s"expected map-side combine:\n$s")
  }

  test("ml08: the tree report reads materialized levels, never re-deriving") {
    // every best{k}/f{depth} reference is a checkpointed RDD scan; a
    // FileScan here would mean the CTE-inlining re-derivation came back
    val s = query("ml08_decision_tree")
    assert(readsSpoolOnly(s), s"tree report must read only materialized level state:\n$s")
  }

  test("er02: the incremental merge never rescans the mention table") {
    val s = query("er02_incremental_clusters")
    // the delta census is spooled and the base state is PERSISTED (r12:
    // the i16 materialized-index pattern) — the final plan must not
    // contain a parquet scan of part (that would be batch, not O(delta))
    assert(!s.tables.contains("part"), s"incremental ER must not rescan the base mentions:\n$s")
    // and the base labels must come from the persisted parquet state
    assert(s.tables.exists(_.startsWith("er02_base_")), s"expected the persisted base-state scan:\n$s")
  }

  test("fz06/fz07: phonetic censuses are one scan with map-side combine") {
    for (name <- Seq("fz06_metaphone", "fz07_daitch_mokotoff")) {
      val s = query(name)
      // one pass over part; the census partial-aggregates before the
      // exchange (codes are low-cardinality — the map side collapses
      // the word stream to |codes| rows per partition)
      assert(s.fileScans.size == 1, s"$name: expected exactly one scan:\n$s")
      assert(s.partial(), s"$name: expected map-side combine:\n$s")
    }
  }

  test("c15: the fixed-width load parses in one codegen pass, no cache leak") {
    // start from a clean cache so the leak assert below is c15's own
    // (other suites' tests legitimately cache; the session is shared)
    spark.sharedState.cacheManager.clearCache()
    val s = query("c15_fixedwidth")
    // the tolerant parse is substring/rtrim/try_cast row expressions —
    // no UDF, no Python; the reject accounting rides ONE agg action
    // (sum(bad), count(*)) inside parse() and the audit recomputes the
    // cheap codegen parse instead of pinning a session-lifetime cached
    // relation (the r12 advice fix — the old plan read an
    // InMemoryTableScan that was never unpersisted)
    assert(!s.has[BatchEvalPythonExec] && s.evaluates(_.isInstanceOf[ScalaUDF]) == 0,
      s"fixed-width parse must be native row expressions:\n$s")
    assert(!s.has[InMemoryTableScanExec], s"the parse must not pin a cached relation:\n$s")
    assert(s.partial(), s"expected map-side combine:\n$s")
    assert(spark.sharedState.cacheManager.isEmpty,
      "c15 must leave no cached relations behind")
  }

  test("ddl06: the dynamic-table read scans the materialization, not the base") {
    val s = query("ddl06_dynamic_table_ddl")
    // the returned relation is the refreshed matview; a scan of
    // orders.parquet here would mean the report re-derives the
    // definition query instead of reading the materialized state
    assert(s.tables.exists(_.startsWith("ddl06_order_stat")),
      s"expected the materialized dynamic-table scan:\n$s")
    assert(!s.tables.contains("orders"), s"dynamic-table read must not rescan the base table:\n$s")
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
    val s = shape(sample)
    assert(s.has[TakeOrderedAndProjectExec], s"expected top-n plan:\n$s")
    assert(s.rangeShuffles == 0, s"an exact-n sample must not global-sort:\n$s")
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
    val s = shape(visit)
    assert(s.has[TakeOrderedAndProjectExec], s"expected top-n plan:\n$s")
    assert(s.rangeShuffles == 0, s"a page-budget sample must not global-sort:\n$s")
  }

  /** The remote JDBC scans of a plan (postgres_fdw's foreign scan). */
  private def remoteScans(s: Shape) = s.all[RowDataSourceScanExec]

  test("c12: FDW predicate + column pushdown reach the remote JDBC scan") {
    val s = query("c12_fdw_join")
    // the range predicate is deparsed into the remote SQL, not evaluated
    // Spark-side (postgres_fdw deparse.c's contract)
    val remote = remoteScans(s).filter(_.tableIdentifier.exists(_.table == "NATION_REMOTE"))
    assert(remote.nonEmpty, s"expected the remote scan:\n$s")
    val deparsed = remote.flatMap(_.pushedDownOperators.pushedPredicates)
      .map(p => (p.name(), p.children().map(_.toString).toSeq))
    assert(deparsed.contains((">=", Seq("n_regionkey", "1"))) && deparsed.contains(("<=", Seq("n_regionkey", "3"))),
      s"range filter must be pushed to the remote scan:\n$s")
    // the filtered remote dim broadcasts into the local fact
    assert(s.has[BroadcastHashJoinExec], s"remote dim must broadcast:\n$s")
  }

  test("c13: the whole aggregate is pushed to the remote server") {
    val s = query("c13_fdw_remote_agg")
    val pushed = remoteScans(s).flatMap(_.pushedDownOperators.aggregation)
    val functions = pushed.flatMap(_.aggregateExpressions().map(_.getClass.getSimpleName))
    assert(Seq("Count", "Min", "Max").forall(f => functions.exists(_.startsWith(f))),
      s"aggregate must be computed remotely:\n$s")
    assert(pushed.exists(_.groupByExpressions().map(_.toString).toSeq == Seq("n_regionkey")),
      s"GROUP BY must be deparsed into the remote SQL:\n$s")
  }

  test("f12: per-row text analysis keeps a join-free single-pass plan") {
    val s = query("f12_websearch")
    assert(s.joins.isEmpty, s"f12 should not join:\n$s")
    assert(s.windows.isEmpty, s"f12 should not window:\n$s")
    // the only exchange allowed is the output sort's range partitioning
    assert(s.exchanges == s.rangeShuffles, s"f12: every exchange must be the output sort:\n$s")
  }

  /** A windows-only EXCLUDE query: no join of any kind, and every peer
    * term rides ONE hash partitioning (plus the output sort's range
    * exchange). */
  private def windowsOnly(q: String): Unit = {
    val s = query(q)
    assert(s.joins.isEmpty, s"$q must not join:\n$s")
    assert(s.hashShuffles.size == 1, s"$q: peer terms must reuse the window partitioning:\n$s")
  }

  test("q143/q144: bounded-frame EXCLUDE is windows-only — no joins, one hash exchange") {
    // rowsSumExcluding's prefix-sum/lead-lag construction and
    // groupsSumExcluding's dense_rank composition must never plan a
    // self-join for the peers-in-frame term
    windowsOnly("q143_rows_exclude")
    windowsOnly("q144_groups_exclude")
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
    val s = query("q34_order_quartiles")
    assert(s.spools == 2, s"q34: expected the checkpointed bucket assignment read twice:\n$s")
    assert(s.has[BroadcastHashJoinExec], s"q34: offsets must broadcast back to the fat side:\n$s")
    assert(s.rangeShuffles == 1, s"q34: only the output sort may range-partition:\n$s")
  }

  test("t28: BindExpensiveFilterRule fires on the natural spelling — one tokenize, lang pushed") {
    // the rule's first production user (r17 verdict #3): the query is
    // written with size(split(text,' ')) referenced TWICE and no hand
    // binding; the plan must show (a) the exists() binding, (b) no
    // derivation kernel repeated in one filter (the KernelFilterSpec
    // predicate), and (c) the cheap lang conjunct still reaching the
    // scan's PushedFilters — binding must not forfeit pushdown
    val s = query("t28_natural_filter")
    assert(s.all[FilterExec].exists(_.condition.exists(_.isInstanceOf[ArrayExists])),
      s"expected the exists binding in:\n$s")
    assert(KernelFilterAudit.repeats(s.plan).isEmpty,
      s"the tokenize chain must appear at most once per filter:\n$s")
    assert(s.pushed.contains(sources.EqualTo("lang", "en")),
      s"the cheap lang conjunct must still reach the scan:\n$s")
  }

  test("q145: extremum EXCLUDE is windows-only — no joins, one hash exchange") {
    // extremeExcluding's flanking-run + least/greatest construction
    // (all three exclusion modes) must ride ONE (o_custkey, m) window
    // partitioning — never a self-join, never per-mode re-shuffles
    windowsOnly("q145_minmax_exclude")
  }

  test("t21: one word_stats pass — no join, explode, token shuffle or HOF lambda") {
    // the r12 verdict's kernel class must stay dead: the old per-row
    // counting kernel carried transform/filter/aggregate HOF lambdas
    // (CodegenFallback, O(distinct × length)); word_stats counts in one
    // compiled pass per document
    val s = assertWordStatsPass("t21_word_entropy")
    assert(s.joins.isEmpty, s"t21 should not join:\n$s")
  }

  // -- all-pairs joins: the round-1 scale-killers, one row per query.
  // `true`: neither CartesianProduct nor BroadcastNestedLoopJoin;
  // `false`: no CartesianProduct, while a deliberately tiny side (a
  // 20-row query set, a 4-row dim) may still nested-loop.
  private val allPairsFree: Seq[(String, Boolean)] = Seq(
    "d02_ngram_jaccard", "d03_minhash_lsh", "d05_simhash_dedup", "s02_ann_lsh_buckets",
    "s03_embedding_near_dup", "d06_boilerplate_ngrams", "x02_contamination",
    "d09_containment", "t19_dup_ngram_coverage", "s09_multiprobe_lsh", "d13_winnowing",
    "fz02_trgm_match", "t18_charlm_score", "i11_incremental_dedup", "g03_circle_overlap",
    "e14_interval_join", "ds24_returned_netpaid", "ds78_channel_ratio", "ds95_chained_exists",
    "ds75_net_decline", "d15_span_cut_rewrite", "d12_line_dedup", "e18_attribution",
    "p05_partition_retention", "ml04_matmul").map(_ -> true) ++ Seq(
    "s01_cosine_topk", "v01_svec_cosine", "h21_suppliers_kept_waiting",
    "h05_local_supplier_volume", "ds72_inventory_shortfall", "ds23_best_customer_items",
    "m05_phash_neardup", "r04_pagerank", "q79_lateral_topn", "r06_triangle_count",
    "ds04_yoy_growth", "ds14_cross_channel", "ds39_inventory_cov", "ds64_wide_twoyear",
    "ds59_weekly_pivot", "ds73_visit_band", "ds54_revenue_segments", "ds38_intersect_count",
    "ds87_except_chain", "ds11_yoy_customer_dims", "ds66_carrier_monthly", "ds74_union_yoy",
    "ds13_band_join_report", "ds47_monthly_deviation", "ds65_underperforming",
    "ds70_grouping_rank", "ds16_shipping_audit", "ds31_qoq_chain", "ds35_disjunctive_exists",
    "ds49_worst_return_ratios", "ds05_channel_sales_returns", "ds08_preferred_codes",
    "ds79_store_visits", "ds97_channel_overlap", "ds17_return_repurchase", "ds44_best_worst",
    "ds77_channel_totals", "d14_substring_span_dedup", "s10_hybrid_rrf", "s11_probe_sweep"
  ).map(_ -> false)

  for ((name, noNestedLoop) <- allPairsFree) {
    val what = if (noNestedLoop) "all-pairs join (CartesianProduct / BroadcastNestedLoop)" else "CartesianProduct"
    test(s"$name: no $what") {
      for (s <- bothPlans(name)) {
        assert(s.cartesians == 0, s"cartesian in $name:\n$s")
        assert(!noNestedLoop || s.nestedLoops == 0, s"BNLJ in $name:\n$s")
      }
    }
  }

  test("negative controls: each plan predicate trips on a plan that has its shape") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val orders = Tables.df(spark, Sf, "orders").select(col("o_orderkey"), col("o_custkey"))
    val nation = Tables.df(spark, Sf, "nation").select(col("n_nationkey"))
    // a cross join nested-loops against a broadcastable side, and is a
    // cartesian product once broadcasts are off
    assert(shape(orders.crossJoin(nation)).nestedLoops == 1)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(shape(orders.crossJoin(nation)).cartesians == 1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // a row_number window, partitioned by its key
    val ranked = shape(orders.withColumn("rn",
      row_number().over(Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey")))))
    assert(ranked.windowed && windowedBy(ranked, "o_custkey") && !windowedBy(ranked, "o_orderkey"))
    assert(ranked.evaluates(_.isInstanceOf[RowNumber]) == 1)
    // a named table's scan, whatever the checkout path's length
    val scanned = shape(orders.filter(col("o_custkey") > 7))
    assert(scanned.tables == Seq("orders") && !scanned.tables.contains("lineitem"))
    assert(scanned.pushed.contains(sources.GreaterThan("o_custkey", 7)))
    assert(scanned.mentions("o_custkey") && !scanned.mentions("o_comment"))
  }
}

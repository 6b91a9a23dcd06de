package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Derived, Spool, Tables}
import graft.streaming.{DynamicTable, IvmMatview}

/** Incremental-layer queries: the correctness gate runs the REFRESH
  * PATHS (delta folding, re-materialization), and the oracle is the
  * equivalent one-shot batch SQL — refreshed result ≡ batch query is
  * precisely the IVM correctness condition. */
object Incremental {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- IVM matview: fold 4 append batches, then finalize --
    "i01_ivm_matview" -> { (s, dir) =>
      val events = Tables.df(s, dir, "events")
      // deterministic append partitioning of the stream into 4 deltas
      val batches = (0 to 3).map(k => events.filter(col("event_id") % 4 === k))
      val state = batches.tail.foldLeft(IvmMatview.partialState(batches.head)) {
        (st, delta) => IvmMatview.applyDelta(st, IvmMatview.partialState(delta))
      }
      IvmMatview.finalizeState(state).orderBy(col("user_id"), col("event_type"))
    },

    // -- DISTINCT-IVM: count(DISTINCT user_id) maintained under append
    //    AND retraction deltas via a SUPPORT-COUNT state — the pg_ivm /
    //    IMMV __ivm_count discipline for DISTINCT views: the state keeps
    //    one row per (event_type, user_id) with its multiplicity; deltas
    //    add signed multiplicities; a user leaves the distinct set only
    //    when support hits zero (a naive distinct-merge would both
    //    overcount re-inserts and be unable to retract). Batches split
    //    on event_id while users recur across batches, so every merge
    //    exercises the support arithmetic. Scale shape: state is one
    //    row per live (type, user) pair; each fold is a map-side-
    //    combinable hash agg on the state key — O(|Δ| + |state|), no
    //    raw-history rescans, no distinct over history.
    "i14_ivm_distinct" -> { (s, dir) =>
      val events = Tables.df(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
      def support(df: DataFrame, sign: Int) =
        df.groupBy(col("event_type"), col("user_id"))
          .agg((count(lit(1)) * sign).as("cnt"))
      def fold(state: DataFrame, delta: DataFrame) =
        state.unionAll(delta)
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(col("cnt")).as("cnt"))
          .filter(col("cnt") =!= 0) // compaction: zero-support rows leave the state
      val inserts = (0 to 2).map(k =>
        support(events.filter(pmod(col("event_id"), lit(3)) === k), 1))
      val retract = support(events.filter(col("event_id") % 7 === 0), -1)
      val state = (inserts.tail :+ retract).foldLeft(inserts.head)(fold)
      state.filter(col("cnt") > 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"), sum(col("cnt")).as("n_events"))
        .orderBy(col("event_type"))
    },

    // -- algebraic IVM: variance components (n, Σc, Σc²) folded under
    //    4 append deltas ≡ the one-shot batch — stddev_pop maintained
    //    incrementally without ever touching raw history --
    "i09_ivm_variance" -> { (s, dir) =>
      import graft.streaming.AlgebraicIvm
      val events = Tables.df(s, dir, "events")
      val batches = (0 to 3).map(k => events.filter(col("event_id") % 4 === k))
      val state = batches.tail.foldLeft(AlgebraicIvm.partialState(batches.head)) {
        (st, delta) => AlgebraicIvm.applyDelta(st, AlgebraicIvm.partialState(delta))
      }
      AlgebraicIvm.finalizeState(state).orderBy(col("user_id"), col("event_type"))
    },

    // -- AQUMV predicate subsumption: WHERE on a group column answered
    //    from the filtered matview (see aqumvFilterQuery) --
    "i10_aqumv_filter" -> { (s, dir) => aqumvFilterQuery(s, dir) },

    // -- dynamic table: scheduled refresh re-materializes the definition --
    "i02_dynamic_table" -> { (s, dir) =>
      val dt = new DynamicTable(s, Derived.path(dir, "dt_daily_revenue"),
        () => Tables.df(s, dir, "orders")
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n_orders"),
            expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents")))
      // two refresh cycles (idempotent overwrite — the pg_cron task body)
      dt.refresh()
      dt.refreshAndRead()
        .select(col("day"), col("n_orders"),
          round(col("cents").cast("double") / 100.0, 2).as("revenue"))
        .orderBy(col("day"))
    },

    // -- MERGE upsert (ModifyTable beyond CTAS: `src/backend/executor/
    //    nodeModifyTable.c` MERGE; GP's SplitUpdate is the distributed
    //    rendition). Spark parquet has no in-place MERGE, so the operator
    //    is the standard lake-house rewrite: target ⟕⟖ source full-outer
    //    on the key, per-row action = WHEN MATCHED THEN UPDATE / WHEN NOT
    //    MATCHED THEN INSERT, with the untouched partition passed through,
    //    then an atomic overwrite (here: returned for audit). Emits the
    //    merged state tagged with the action taken per row --
    "i06_merge_upsert" -> { (s, dir) =>
      val orders = Tables.df(s, dir, "orders")
      val cutoff = "TIMESTAMP '1997-01-01 00:00:00'"
      val horizon = "TIMESTAMP '1997-07-01 00:00:00'"
      // target: per-customer state as of the cutoff
      val target = orders.filter(expr(s"o_orderdate < $cutoff"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
      // source: the delta batch since the cutoff
      val source = orders.filter(expr(s"o_orderdate >= $cutoff AND o_orderdate < $horizon"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("d_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("d_cents"))
      target.join(source, Seq("o_custkey"), "full_outer")
        .select(
          col("o_custkey"),
          (coalesce(col("n_orders"), lit(0L)) + coalesce(col("d_orders"), lit(0L))).as("n_orders"),
          (coalesce(col("cents"), lit(0L)) + coalesce(col("d_cents"), lit(0L))).as("cents"),
          when(col("n_orders").isNull, "INSERT")
            .when(col("d_orders").isNull, "KEEP")
            .otherwise("UPDATE").as("action"))
        .orderBy(col("o_custkey"))
    },

    // -- MERGE with WHEN NOT MATCHED BY SOURCE (PG 17 / SQL:2023
    //    parse_merge.c): the FULL-SYNC shape i06's upsert can't express —
    //    target rows absent from the source are DELETEd. Workload: a
    //    sliding-window per-customer summary refreshed to a new window;
    //    customers who aged out of the window delete, new ones insert,
    //    the rest update or no-op. Same lake-house full-outer rewrite as
    //    i06 (one shuffle on the merge key, both aggregates map-side
    //    combined; cents discipline keeps the change test exact) --
    "i12_merge_full_sync" -> { (s, dir) =>
      val orders = Tables.df(s, dir, "orders")
      def winAgg(lo: String, hi: String, n: String, c: String) =
        orders.filter(expr(
          s"o_orderdate >= TIMESTAMP '$lo' AND o_orderdate < TIMESTAMP '$hi'"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as(n),
            expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as(c))
      val target = winAgg("1995-01-01 00:00:00", "1997-01-01 00:00:00", "t_orders", "t_cents")
      val source = winAgg("1996-01-01 00:00:00", "1998-01-01 00:00:00", "s_orders", "s_cents")
      target.join(source, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          col("s_orders").as("n_orders"), col("s_cents").as("cents"),
          when(col("t_orders").isNull, "INSERT")
            .when(col("s_orders").isNull, "DELETE")
            .when(col("t_orders") =!= col("s_orders") || col("t_cents") =!= col("s_cents"),
              "UPDATE")
            .otherwise("KEEP").as("action"))
        .orderBy(col("o_custkey"))
    },

    // -- i13: CDC log compaction — the change-data-capture apply step
    //    (the Debezium/consumer side of logical replication,
    //    `src/backend/replication/logical/` reorderbuffer semantics):
    //    a change log of (key, lsn, op, payload) rows compacts to the
    //    final table state by LATEST-WINS per key, with a trailing
    //    DELETE erasing the key. The log is synthesized
    //    deterministically from orders (every order emits an INSERT;
    //    keys % 3 = 1 emit a later UPDATE doubling cents; keys % 5 = 0
    //    emit a final DELETE). Spark-first: latest-wins is ONE
    //    map-side-combined max_by on the LSN — no window over the log,
    //    which is the difference between compacting a 100 TB log in one
    //    exchange and sorting it --
    "i13_cdc_compaction" -> { (s, dir) =>
      val base = Tables.df(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      val log = base
        .select(col("o_orderkey").as("k"), lit(1L).as("lsn"), lit("I").as("op"),
          col("cents"))
        .unionAll(base.filter(col("o_orderkey") % 3 === 1)
          .select(col("o_orderkey").as("k"), lit(2L).as("lsn"), lit("U").as("op"),
            (col("cents") * 2).as("cents")))
        .unionAll(base.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey").as("k"), lit(3L).as("lsn"), lit("D").as("op"),
            lit(null).cast("bigint").as("cents")))
      log.groupBy(col("k"))
        .agg(count(lit(1)).as("n_ops"),
          expr("max_by(op, lsn)").as("last_op"),
          expr("max_by(cents, lsn)").as("last_cents"))
        .filter(col("last_op") =!= "D")
        .select(col("k"), col("n_ops"), col("last_op"), col("last_cents"))
        .orderBy(col("k"))
    },

    // -- IVM_SUB: the DELETE path — build the matview over ALL events,
    //    then retract a delete batch (event_id % 7 = 0) as a negated
    //    delta; the retracted state must equal the batch aggregate of the
    //    surviving rows, including groups that vanish entirely --
    "i08_ivm_retract" -> { (s, dir) =>
      val events = Tables.df(s, dir, "events")
      val full = IvmMatview.partialState(events)
      val deleted = IvmMatview.partialState(events.filter(col("event_id") % 7 === 0))
      IvmMatview.finalizeState(IvmMatview.applyRetraction(full, deleted))
        .orderBy(col("user_id"), col("event_type"))
    },

    // -- IVM min/max retraction (matview.c:2539 apply_delta, :2680
    //    "apply old delta and get rows to be recalculated"): min/max
    //    have no inverse, so the delete delta splits the view into
    //    carried-forward groups (deleted values strictly inside the
    //    surviving range — NOT rescanned) and recalculated groups (the
    //    delta touched an extreme — recomputed via a semi-join of the
    //    survivors against the delta-bounded affected key set). The
    //    state is localCheckpoint'd first, like a real materialized
    //    view, so the retraction plan provably reads state + delta +
    //    the semi-joined rescan, nothing else. Result ≡ batch min/max
    //    over survivors, including groups that vanish entirely --
    "i15_ivm_minmax" -> { (s, dir) =>
      import graft.streaming.MinMaxIvm
      val events = Tables.df(s, dir, "events")
      val deleted = events.filter(col("event_id") % 7 === 0)
      val survivors = events.filter(col("event_id") % 7 =!= 0)
      val st = MinMaxIvm.state(events).localCheckpoint(true)
      val (newState, _, _) = MinMaxIvm.applyRetraction(st, deleted, survivors)
      MinMaxIvm.finalizeState(newState)
        .orderBy(col("user_id"), col("event_type"))
    },

    // -- i16: INCREMENTAL ANN-index maintenance — the IVF complement of
    //    i11's LSH probe (a vector store ingesting embeddings cannot
    //    re-index the corpus per batch; reference analog: pgvector's
    //    ivfflat insert path assigns each NEW vector to its nearest
    //    list). The persisted index (vec → list, materialized like a
    //    real index) grows by assigning ONLY the delta batch against
    //    the broadcast centroids — O(|Δ|·k) per batch, the corpus is
    //    never re-scanned (the census over the materialized index reads
    //    NO embeddings files at all — plan-asserted) — and the
    //    result must equal the index built from scratch (the IVM
    //    condition, enforced by the oracle's full re-derivation).
    //    Output: per-list occupancy census with base/delta provenance —
    //    the index-health report a vector store surfaces --
    "i16_ivf_maintain" -> { (s, dir) =>
      val emb = Tables.df(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
      def assign(df: DataFrame) = df
        .join(broadcast(centroids))
        .withColumn("d2", expr("vec_l2sq(embedding, cent_emb)"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cent_id"))).as("best"))
        .select(col("vec_id"), col("best").getField("cent_id").as("list_id"))
      // the standing index over the base corpus, materialized
      val baseIdx = assign(emb.filter(col("vec_id") >= 100))
        .withColumn("is_delta", lit(0L)).localCheckpoint(true)
      // two ingest batches arrive; each assigns ONLY its own vectors
      val idx = (0 to 1).foldLeft(baseIdx) { (cur, k) =>
        val delta = emb.filter(col("vec_id") >= 50 && col("vec_id") < 100 &&
          pmod(col("vec_id"), lit(2)) === k)
        val next = cur.unionByName(assign(delta).withColumn("is_delta", lit(1L)))
          .localCheckpoint(true)
        Spool.release(cur)
        next
      }
      idx.groupBy(col("list_id"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("is_delta")).as("n_delta"))
        .orderBy(col("list_id"))
    },

    // -- join-IVM: a two-table JOIN matview (orders ⋈ lineitem) maintained
    //    under append deltas on BOTH sides via ΔJ = ΔA⋈B_new ∪ A_old⋈ΔB,
    //    then aggregated at read time. The two sides are batched on
    //    UNRELATED attributes (o_custkey vs l_linenumber), so every cross
    //    term ΔA⋈B_old / ΔA⋈ΔB / A_old⋈ΔB is non-empty — the fold only
    //    matches the one-shot oracle if the delta algebra is right --
    "i07_ivm_join" -> { (s, dir) =>
      import graft.streaming.JoinIvm
      val a = Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val b = Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice"))
      def aBatch(k: Int) = a.filter(pmod(col("o_custkey"), lit(3)) === k)
      def bBatch(k: Int) = b.filter(pmod(col("l_linenumber"), lit(3)) === k)
      val st = (1 to 2).foldLeft(
        JoinIvm.init(aBatch(0), bBatch(0), Seq("o_orderkey"))) {
        (st, k) => JoinIvm.applyDelta(st, aBatch(k), bBatch(k), Seq("o_orderkey"))
      }
      st.j.groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
        .select(col("o_orderpriority"), col("l_returnflag"), col("n_items"),
          round(col("cents").cast("double") / 100.0, 2).as("revenue"))
        .orderBy(col("o_orderpriority"), col("l_returnflag"))
    },

    // -- AQUMV: the optimizer answers the aggregate from the matview --
    "i03_aqumv" -> { (s, dir) =>
      val defDf = aqumvDefinition(s, dir)
      enableMatview(s, dir, "mv_status_revenue", defDf)
      // the user's query: the matching aggregate + post-processing; the
      // AqumvRule swaps the aggregate for the matview scan at optimize
      // time (asserted in PlanShapeSpec)
      defDf
        .select(col("o_orderstatus"), col("n_orders"),
          round(col("cents").cast("double") / 100.0, 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    },

    // -- AQUMV grouping-superset rollup: the matview groups by (status,
    //    priority); the user query groups by priority ONLY, so no exact
    //    match exists and the rule must RE-AGGREGATE the matview
    //    (sum→sum(sum), count→sum(count)) instead of scanning orders
    //    (aqumv.c's wider answerable set; asserted in PlanShapeSpec) --
    "i04_aqumv_rollup" -> { (s, dir) =>
      val defDf = aqumvRollupDefinition(s, dir)
      enableMatview(s, dir, RollupMatview, defDf)
      // the user's coarser query, written against the BASE table; the avg
      // is answerable only through the sum/count decomposition
      Tables.df(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"),
          expr("avg(CAST(round(o_totalprice * 100) AS BIGINT))").as("avg_cents"))
        .select(col("o_orderpriority"), col("n_orders"),
          round(col("cents").cast("double") / 100.0, 2).as("revenue"),
          round(col("avg_cents") / 100.0, 2).as("avg_revenue"))
        .orderBy(col("o_orderpriority"))
    }
  )

  /** Materialize the matview `defDf` (over orders) once as derived data,
    * register it with the AQUMV rewrite and enable the rewrite. */
  private def enableMatview(s: SparkSession, dir: String, name: String,
      defDf: DataFrame): Unit = {
    val path = Derived.once(dir, name, "orders")(defDf.write.mode("overwrite").parquet(_))
    graft.rules.AqumvRule.register(defDf, path)
    s.conf.set(graft.rules.AqumvRule.EnabledConf, "true")
  }

  /** i04/i10's matview; _v2: the layout gained the count component for
    * avg decomposition. */
  private val RollupMatview = "mv_status_prio_revenue_v2"

  /** The matview definition, memoized per (session, dir): AQUMV matching
    * is canonicalized-subtree equality, and separate `spark.read` calls
    * produce relations that never canonicalize equal (HadoopFsRelation
    * has identity equality) — a catalog-table implementation would match
    * by table identity instead. */
  private val defCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private[graft] def aqumvDefinition(s: SparkSession, dir: String): DataFrame =
    defCache.computeIfAbsent((s, dir), { _ =>
      Tables.df(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
    })

  /** The i04 two-key matview definition (distinctive column names so the
    * plan test can assert the rollup reads the matview). */
  private val rollupDefCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  /** i10: AQUMV predicate subsumption — the user filters on a matview
    * GROUP column, so the rule answers by filtering the |groups|-row
    * materialization before re-aggregating it (aqumv.c's WHERE
    * matching). A filter on a measure column would kill the rewrite. */
  private def aqumvFilterQuery(s: SparkSession, dir: String): DataFrame = {
    enableMatview(s, dir, RollupMatview, aqumvRollupDefinition(s, dir))
    Tables.df(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
      .select(col("o_orderpriority"), col("n_orders"),
        round(col("cents").cast("double") / 100.0, 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  private[graft] def aqumvRollupDefinition(s: SparkSession, dir: String): DataFrame =
    rollupDefCache.computeIfAbsent((s, dir), { _ =>
      Tables.df(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("mv_cnt"),
          expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("mv_cents"),
          // the count COMPONENT of avg(cents): count(expr), not count(1),
          // so the decomposition preserves null semantics
          expr("count(CAST(round(o_totalprice * 100) AS BIGINT))").as("mv_val_cnt"))
    })

  def oracle: Map[String, String] = Map(
    "i13_cdc_compaction" -> """
      WITH base AS (
        SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey <= 2000),
      log AS (
        SELECT k, 1 AS lsn, 'I' AS op, cents FROM base
        UNION ALL
        SELECT k, 2, 'U', cents * 2 FROM base WHERE k % 3 = 1
        UNION ALL
        SELECT k, 3, 'D', NULL FROM base WHERE k % 5 = 0),
      compacted AS (
        SELECT k, count(*) AS n_ops,
          max_by(op, lsn) AS last_op,
          max_by(cents, lsn) AS last_cents
        FROM log GROUP BY k)
      SELECT k, n_ops, last_op, CAST(last_cents AS BIGINT) AS last_cents
      FROM compacted WHERE last_op <> 'D'
      ORDER BY k""",
    "i10_aqumv_filter" -> """
      SELECT o_orderpriority, count(*) AS n_orders,
        round(CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
              / 100.0, 2) AS revenue
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "i09_ivm_variance" -> """
      SELECT user_id, event_type, n,
        round(CAST(s AS DOUBLE) / n / 100.0, 6) AS avg_value,
        round(sqrt(greatest(
          CAST(s2 AS DOUBLE) / n
            - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) / 100.0, 6)
          AS stddev_value
      FROM (
        SELECT user_id, event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS s2
        FROM (SELECT user_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS c FROM events) e
        GROUP BY user_id, event_type) g
      ORDER BY user_id, event_type""",

    "i12_merge_full_sync" -> """
      WITH target AS (
        SELECT o_custkey, count(*) AS t_orders,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS t_cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY o_custkey),
      source AS (
        SELECT o_custkey, count(*) AS s_orders,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY o_custkey)
      SELECT coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
        s.s_orders AS n_orders, s.s_cents AS cents,
        CASE WHEN t.o_custkey IS NULL THEN 'INSERT'
             WHEN s.o_custkey IS NULL THEN 'DELETE'
             WHEN t.t_orders <> s.s_orders OR t.t_cents <> s.s_cents THEN 'UPDATE'
             ELSE 'KEEP' END AS action
      FROM target t FULL OUTER JOIN source s ON t.o_custkey = s.o_custkey
      ORDER BY o_custkey""",

    "i06_merge_upsert" -> """
      WITH target AS (
        SELECT o_custkey, count(*) AS n_orders,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY o_custkey),
      source AS (
        SELECT o_custkey, count(*) AS d_orders,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS d_cents
        FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        GROUP BY o_custkey)
      SELECT coalesce(t.o_custkey, s.o_custkey) AS o_custkey,
        coalesce(t.n_orders, 0) + coalesce(s.d_orders, 0) AS n_orders,
        coalesce(t.cents, 0) + coalesce(s.d_cents, 0) AS cents,
        CASE WHEN t.o_custkey IS NULL THEN 'INSERT'
             WHEN s.o_custkey IS NULL THEN 'KEEP'
             ELSE 'UPDATE' END AS action
      FROM target t FULL OUTER JOIN source s ON t.o_custkey = s.o_custkey
      ORDER BY o_custkey""",

    // retraction correctness: state minus the delete delta == batch over
    // the surviving rows
    "i08_ivm_retract" -> """
      SELECT user_id, event_type, count(*) AS n,
        round(CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS total_value,
        round(CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
          / count(*), 6) AS avg_value
      FROM events WHERE event_id % 7 <> 0
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",

    // the incrementally-grown index must equal a from-scratch build:
    // the oracle re-derives every assignment (vec_id >= 50) in one pass
    "i16_ivf_maintain" -> """
      WITH centroids AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb
        FROM embeddings WHERE vec_id < 8),
      assigned AS (
        SELECT vec_id, cent_id AS list_id FROM (
          SELECT e.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_sum(list_transform(generate_series(1, len(e.embedding)), i ->
                (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent_emb[i] AS DOUBLE))
              * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent_emb[i] AS DOUBLE)))),
              c.cent_id) AS rn
          FROM embeddings e CROSS JOIN centroids c
          WHERE e.vec_id >= 50) t
        WHERE rn = 1)
      SELECT list_id, count(*) AS n_vecs,
        CAST(sum(CASE WHEN vec_id < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
      FROM assigned GROUP BY list_id ORDER BY list_id""",

    // min/max retraction correctness: carried-forward groups plus the
    // recalculated-affected groups == batch min/max over the survivors
    "i15_ivm_minmax" -> """
      SELECT user_id, event_type, count(*) AS n,
        round(CAST(min(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS min_value,
        round(CAST(max(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS max_value
      FROM events WHERE event_id % 7 <> 0
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",

    // the IVM correctness condition: the incrementally-folded join view
    // aggregates to exactly the one-shot batch join
    "i07_ivm_join" -> """
      SELECT o_orderpriority, l_returnflag, count(*) AS n_items,
        round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "i01_ivm_matview" -> """
      SELECT user_id, event_type, count(*) AS n,
        round(CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS total_value,
        round(CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
          / count(*), 6) AS avg_value
      FROM events GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",

    // one-shot batch equivalent: the folded support state must read back
    // as the distinct/count aggregates over the surviving history
    "i14_ivm_distinct" -> """
      SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      FROM events WHERE event_id % 7 <> 0
      GROUP BY event_type ORDER BY event_type""",

    "i02_dynamic_table" -> """
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        count(*) AS n_orders,
        round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
      FROM orders GROUP BY 1 ORDER BY day""",

    "i03_aqumv" -> """
      SELECT o_orderstatus, count(*) AS n_orders,
        round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "i04_aqumv_rollup" -> """
      SELECT o_orderpriority, count(*) AS n_orders,
        round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue,
        round(avg(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2) AS avg_revenue
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Spool, Tables}

/** Recursive CTE (`WITH RECURSIVE`, reference nodeRecursiveunion.c /
  * nodeWorktablescan.c). Four renditions, each where it fits:
  *
  *  - r03 and r08 run Spark 4's NATIVE `WITH RECURSIVE` (the UnionLoop
  *    operator, SPARK-24497) on SQL text shared verbatim with the DuckDB
  *    oracle, like the reference's RecursiveUnion + WorkTableScan pair.
  *    r03 is the plan-asserted demonstrator; r08's cycle guard reads the
  *    work table's path, so its rows do not follow from the row alone.
  *    UnionLoop pays a map job, a count job and a planning pass per level.
  *  - r09, r10 and cb01 join the work table on a computable parent of
  *    the child key (⌊k/10⌋, ⌊p/32⌋), so a row's ancestry follows from
  *    its key alone: [[ancestorUnfold]] walks each key's chain in its
  *    row and keeps the rows whose ancestors all exist with ONE
  *    membership join, with no loop over levels. Their oracle texts
  *    keep `WITH RECURSIVE`, and InvariantsSpec runs those texts on
  *    Spark as the reference.
  *  - r01 and r05 are ONE lazy plan with no driver step between levels:
  *    r01's recursion is linear (a row's successor depends on that row
  *    alone), so it unfolds per row; r05 has a fixed round count, so its
  *    rounds unroll into a plan whose size is linear in the count.
  *  - r02 and r07 are driver loops with a spool per round (SURVEY.md
  *    §7.3). That shape is right only when the step joins other data AND
  *    the stop is data-dependent (r02's changed-label count, r07's stable
  *    trajectory); each round then costs an action, ~0.15 s of fixed
  *    scheduling at sf0.1, which a loop needing neither must not pay.
  */
object Recursive {

  private val maxDepth = 10

  /** Collatz descent seeded from order keys: the recursive step is pure
    * arithmetic so the DuckDB oracle (a genuine WITH RECURSIVE) computes
    * the identical rows. Each seed's chain unfolds inside its own row —
    * `aggregate` extends it while the last value is > 1, `inline` emits
    * one (step, val) row per level. */
  private def collatzChain(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.df(s, dir, "orders")
      .filter(col("o_orderkey") <= 100)
      .select(col("o_orderkey").as("seed")).distinct()
    val last = "element_at(acc, -1).val"
    seeds.select(col("seed"), inline(expr(s"""
      aggregate(sequence(1, $maxDepth),
        array(named_struct('step', 0, 'val', CAST(seed AS BIGINT))),
        (acc, i) -> CASE WHEN $last > 1
          THEN concat(acc, array(named_struct('step', i,
            'val', CASE WHEN $last % 2 = 0 THEN $last div 2 ELSE $last * 3 + 1 END)))
          ELSE acc END)""")))
  }

  /** Bounded recursion over a computable parent key, as one ancestor
    * unfold: the rows of
    * {{{
    *   WITH RECURSIVE t AS (
    *     SELECT rel.* FROM rel WHERE root(key)
    *     UNION ALL
    *     SELECT c.* FROM rel c JOIN t ON parent(c.key) = t.key
    *     WHERE step(c.key) AND t.level < maxLevel)
    * }}}
    * duplicates included, as UNION ALL derives them, each with `chain`:
    * the BIGINT keys from the row's own up to its root's, so
    * `size(chain) - 1` is the row's level and every work-table column is
    * a fold over `chain` and the row's own columns.
    *
    * A key's parent is a function of the key, so each distinct row of
    * `rel` walks its key's ancestor chain inside the row (up to maxLevel
    * parents, while `step` holds) and yields one unit per level at which
    * the walk stands on a root. A unit is a row of the recursion iff
    * every ancestor on its chain is a key of `rel`: one membership join
    * against the key multiplicities checks that. UNION ALL derives a
    * unit once per copy of the row times the product of its ancestors'
    * multiplicities, so duplicates are counted, never joined (`product`
    * is a DOUBLE, exact below 2^53 copies: more could not be emitted).
    * No loop over levels is left, so neither jobs nor plan grow with the
    * depth.
    *
    * maxLevel is the recursion's own level bound (cb01's `t.level < 3`)
    * or exceeds every chain the key type allows (r09, r10). NULL keys,
    * and keys whose walk reaches no root, yield no rows, as in the
    * recursion. */
  private[graft] def ancestorUnfold(rel: DataFrame, key: String, parent: Column => Column,
      root: Column => Column, step: Column => Column, maxLevel: Int): DataFrame = {
    val cols = rel.columns.map(col)
    val rows = rel.filter(col(key).isNotNull).groupBy(cols: _*).agg(count(lit(1)).as("_d"))
    val keys = rows.groupBy(col(key).cast("bigint").as("_a")).agg(sum(col("_d")).as("_m"))
    val walk = aggregate(sequence(lit(1), lit(maxLevel)), array(col(key).cast("bigint")), { (acc, _) =>
      val last = element_at(acc, -1)
      when(step(last), concat(acc, array(parent(last).cast("bigint")))).otherwise(acc)
    })
    rows.select(col("*"), walk.as("_walk"))
      .select(col("*"), explode(filter(sequence(lit(0), size(col("_walk")) - 1),
        l => root(element_at(col("_walk"), l + 1)))).as("_l"))
      .select(cols :+ col("_d") :+ slice(col("_walk"), lit(1), col("_l") + 1).as("chain"): _*)
      .select(col("*"), explode_outer(slice(col("chain"), lit(2), size(col("chain")) - 1)).as("_a"))
      .join(keys, Seq("_a"), "left")
      .groupBy(cols :+ col("_d") :+ col("chain"): _*)
      .agg(count(col("_m")).as("_found"), product(col("_m")).as("_w"))
      .filter(col("_found") === size(col("chain")) - 1)
      .select(cols :+ col("chain") :+ explode(sequence(lit(1L),
        col("_d") * coalesce(col("_w"), lit(1.0)).cast("bigint"))).as("_dup"): _*)
      .drop("_dup")
  }

  /** r03's 10-ary custkey tree: parent = ⌊k/10⌋, the same double
    * division and floor as the SQL texts' `CAST(floor(k / 10) AS BIGINT)`. */
  private def custkeyParent(k: Column): Column = floor(k / 10)

  /** r09 (see r09Sql) on [[ancestorUnfold]]: depth and the DEPTH FIRST
    * path are folds over the chain. A key has at most 19 digits, so 18
    * parents bound every walk. */
  private[graft] def searchOrder(customer: DataFrame): DataFrame =
    ancestorUnfold(customer.select(col("c_custkey")), "c_custkey", custkeyParent,
        root = _.between(1, 9), step = _ >= 10, maxLevel = 18)
      .select(col("c_custkey").cast("bigint").as("keyid"), size(col("chain")).as("depth"),
        concat_ws("/", transform(reverse(col("chain")),
          k => lpad(k.cast("string"), 6, "0"))).as("seq_dfs"))
      .select(col("*"),
        row_number().over(Window.orderBy(col("seq_dfs"))).cast("bigint").as("ord_dfs"),
        row_number().over(Window.orderBy(col("depth"), col("keyid"))).cast("bigint").as("ord_bfs"))
      .orderBy(col("keyid"))

  /** cb01 (see cb01Sql) on [[ancestorUnfold]]: the level bound is the
    * text's `t.level < 3`; parent_keyid, level and branch are folds over
    * the chain. */
  private[graft] def connectBy(customer: DataFrame): DataFrame =
    ancestorUnfold(customer.select(col("c_custkey")), "c_custkey", custkeyParent,
        root = _ === 1, step = _ => lit(true), maxLevel = 3)
      .select(col("c_custkey").cast("bigint").as("keyid"),
        when(size(col("chain")) > 1, element_at(col("chain"), 2)).as("parent_keyid"),
        (size(col("chain")) - 1).as("level"),
        concat_ws("~", reverse(col("chain")).cast("array<string>")).as("branch"))
      .orderBy(col("keyid"))

  /** r10 (see r10Sql) on [[ancestorUnfold]]: the root and the path-product
    * multiplier are folds over the chain. ⌊p/32⌋ divides by the DECIMAL
    * 32.0 as the text does; a BIGINT key has at most 13 base-32 digits,
    * so 13 parents bound every walk. */
  private[graft] def bomRollup(part: DataFrame): DataFrame =
    ancestorUnfold(
        part.select(col("p_partkey"), round(col("p_retailprice") * 100).cast("bigint").as("cents")),
        "p_partkey", k => floor(k / lit(BigDecimal("32.0"))),
        root = _ <= 31, step = _ > 31, maxLevel = 13)
      .select(element_at(col("chain"), -1).as("root"),
        aggregate(slice(col("chain"), lit(1), size(col("chain")) - 1), lit(1L),
          (m, k) => m * (k % 3 + 1)).as("mult"),
        (size(col("chain")) - 1).as("depth"), col("cents"))
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_parts"), max(col("depth")).as("max_depth"),
        max(col("mult")).cast("bigint").as("max_mult"),
        sum(col("mult") * col("cents")).cast("bigint").as("total_cents"))
      .orderBy(col("root"))

  /** Max label-propagation rounds for r02 (components converge in
    * O(diameter) rounds; the fixpoint check usually stops far earlier). */
  private val maxCcIters = 20

  /** General graph recursion with a cycle guard (the r2-verdict's missing
    * item 7): connected components over d05's Hamming-verified near-dup
    * edges — the transitive clustering the d05 greedy assignment defers.
    * Spark-native rendition is iterative min-label propagation (the
    * standard distributed CC algorithm — each round is one shuffle over
    * the edge list, O(diameter) rounds): label(v) ← min(label(v),
    * min_{u~v} label(u)) until a fixpoint. The convergence check (count of
    * changed labels per round) IS the cycle guard — cyclic edges cannot
    * loop forever because labels only decrease. The DuckDB oracle is a
    * genuine WITH RECURSIVE reachability closure with UNION-distinct as
    * its frontier dedup (nodeRecursiveunion.c semantics: the worktable
    * only carries rows not yet seen). */
  private def connectedDedup(s: SparkSession, dir: String): DataFrame = {
    val verified = Dedup.verifiedEdges(s, dir)
    val edges = verified.localCheckpoint()
    val und = edges.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(edges.select(col("b_id").as("u"), col("a_id").as("v")))
      .localCheckpoint()
    Seq(verified, edges).foreach(Spool.release) // the simhash and edge spools
    val labels = minLabelPropagate(und).withColumnRenamed("node", "doc_id")
    Spool.release(und)
    labels.filter(col("lbl") < col("doc_id"))
      .select(col("doc_id"), col("lbl").as("keeper_id"))
      .orderBy(col("doc_id"))
  }

  /** Decimal-digit management tree over customer keys (parent =
    * custkey div 10, roots 1–9): bounded depth = digit count, so the
    * recursion terminates structurally in both engines. Key 0 is
    * excluded on BOTH legs — floor(0/10) = 0 makes it its own parent,
    * an infinite worktable (caught by Spark's recursion-level guard).
    * ONE SQL text for the Spark run and the DuckDB oracle. */
  private val r03Sql = """
      WITH RECURSIVE tree(c_custkey, depth) AS (
        SELECT c_custkey, 1 AS depth FROM customer WHERE c_custkey BETWEEN 1 AND 9
        UNION ALL
        SELECT c.c_custkey, t.depth + 1
        FROM customer c JOIN tree t
          ON CAST(floor(c.c_custkey / 10) AS BIGINT) = t.c_custkey
        WHERE c.c_custkey >= 10)
      SELECT depth, count(*) AS n, min(c_custkey) AS min_key, max(c_custkey) AS max_key
      FROM tree GROUP BY depth ORDER BY depth"""

  /** r10: BOM explosion + cost rollup — THE canonical WITH RECURSIVE
    * workload (PG docs' bill-of-materials example; the reference runs
    * it through the same UnionLoop plan r03 exercises). The part
    * forest is synthesized arithmetically: parent(p) = ⌊p/32⌋ (wide fan-out, the common BOM shape), roots
    * ≤ 31, per-edge assembly quantity (p % 3) + 1. The recursion
    * carries the PATH-PRODUCT multiplier (quantity folding down the
    * tree — the part a BOM query can't express without recursion) in
    * exact BIGINTs (≤ 3^depth), costs in cents; the rollup is one
    * group-by over the explosion. The oracle text; Spark runs it as
    * [[bomRollup]], the multiplier a fold over each part's chain. */
  private val r10Sql = """
      WITH RECURSIVE parts AS (
        SELECT p_partkey,
          CAST(floor(p_partkey / 32.0) AS BIGINT) AS parent,
          CAST(round(p_retailprice * 100) AS BIGINT) AS cents
        FROM part),
      bom(root, part, mult, depth, cents) AS (
        SELECT p_partkey, p_partkey, CAST(1 AS BIGINT), 0, cents
        FROM parts WHERE p_partkey <= 31
        UNION ALL
        SELECT b.root, c.p_partkey, b.mult * ((c.p_partkey % 3) + 1),
          b.depth + 1, c.cents
        FROM parts c JOIN bom b ON c.parent = b.part
        WHERE c.p_partkey > 31)
      SELECT root, count(*) AS n_parts, max(depth) AS max_depth,
        CAST(max(mult) AS BIGINT) AS max_mult,
        CAST(sum(mult * cents) AS BIGINT) AS total_cents
      FROM bom GROUP BY root ORDER BY root"""

  /** r06: degree-oriented triangle count, one text for both engines.
    * Edges u < v always (the pair join enforces it), so orientation
    * only compares (degree, id). */
  private val r06Sql = """
      WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      edges AS (
        SELECT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p),
      deg AS (
        SELECT node, count(*) AS d FROM (
          SELECT u AS node FROM edges
          UNION ALL
          SELECT v AS node FROM edges) t
        GROUP BY node),
      oe AS (
        SELECT e.u AS s, e.v AS t
        FROM edges e
        JOIN deg du ON e.u = du.node
        JOIN deg dv ON e.v = dv.node
        WHERE du.d <= dv.d
        UNION ALL
        SELECT e.v AS s, e.u AS t
        FROM edges e
        JOIN deg du ON e.u = du.node
        JOIN deg dv ON e.v = dv.node
        WHERE du.d > dv.d),
      tri AS (
        SELECT count(*) AS n_triangles
        FROM oe e1
        JOIN oe e2 ON e1.t = e2.s
        JOIN oe e3 ON e3.s = e1.s AND e3.t = e2.t)
      SELECT (SELECT count(*) FROM edges) AS n_edges,
             (SELECT count(*) FROM deg) AS n_nodes,
             n_triangles
      FROM tri"""

  /** connectby analog (reference `contrib/tablefunc/tablefunc.c`
    * connectby: keyid/parent_keyid/level/branch rows from a start key
    * with a depth bound). The parent relation is the derived 10-ary
    * custkey tree (parent = ⌊k/10⌋, r03's edge rule); start_with = 1,
    * max_depth = 3, '~' branch delimiter — tablefunc's default. The
    * branch string accumulates on the worktable rows. The oracle text;
    * Spark runs it as [[connectBy]], the branch a fold over each key's
    * chain. */
  private val cb01Sql = """
      WITH RECURSIVE tree(keyid, parent_keyid, level, branch) AS (
        SELECT CAST(c_custkey AS BIGINT), CAST(NULL AS BIGINT), 0,
               '' || c_custkey
        FROM customer WHERE c_custkey = 1
        UNION ALL
        SELECT CAST(c.c_custkey AS BIGINT), t.keyid, t.level + 1,
               t.branch || '~' || c.c_custkey
        FROM customer c JOIN tree t
          ON CAST(floor(c.c_custkey / 10) AS BIGINT) = t.keyid
        WHERE t.level < 3)
      SELECT keyid, parent_keyid, level, branch FROM tree ORDER BY keyid"""

  /** r08: path enumeration with a CYCLE guard — the semantics of PG14's
    * `CYCLE col SET ... USING path` clause (rewritten exactly as PG's
    * own doc suggests: accumulate the visited set on the worktable row
    * and refuse to extend into it; parse_cte.c rewrites CYCLE to this).
    * Runs as ONE recursive-SQL text on Spark 4's UnionLoop AND DuckDB —
    * the path is a '>'-delimited string so the membership test is a
    * dialect-portable instr(). The doc graph is r04's 3-out-regular
    * modular graph restricted to keys < 40 (dst may leave the set —
    * out-degree varies, which exercises the guard asymmetrically). */
  private val r08Sql = """
      WITH RECURSIVE paths(src, cur, depth, path) AS (
        SELECT doc_id, doc_id, 0, concat('>', doc_id, '>')
        FROM documents WHERE doc_id < 5
        UNION ALL
        SELECT p.src, e.dst, p.depth + 1, concat(p.path, e.dst, '>')
        FROM paths p JOIN (
          SELECT a.doc_id AS src, b.doc_id AS dst
          FROM documents a JOIN documents b
            ON a.doc_id < 40 AND b.doc_id < 40
           AND (b.doc_id = (2 * a.doc_id + 1) % 40
             OR b.doc_id = (3 * a.doc_id + 2) % 40
             OR b.doc_id = (a.doc_id + 7) % 40)) e
          ON e.src = p.cur
        WHERE p.depth < 4
          AND instr(p.path, concat('>', e.dst, '>')) = 0)
      SELECT depth, count(*) AS n_paths, count(DISTINCT cur) AS n_ends,
             min(path) AS min_path
      FROM paths GROUP BY depth ORDER BY depth"""

  /** r09: `WITH RECURSIVE ... SEARCH DEPTH|BREADTH FIRST BY keyid SET c`
    * — the other half of PG14's recursive-CTE sugar next to r08's CYCLE
    * (parse_cte.c:442-488 rewrites SEARCH into a synthetic ordering
    * column on the worktable; no executor machinery at all). Applied
    * here as exactly that rewrite over r03's 10-ary custkey tree:
    *  - DEPTH FIRST's column is PG's array-of-rows path; the
    *    distributed-friendly encoding is a '/'-joined FIXED-WIDTH
    *    (lpad-6) key path, where '/' < '0' in ASCII makes plain string
    *    order ≡ component-wise path order, so preorder needs no array
    *    comparator — each row's sort key is computed locally on the
    *    worktable with zero global state (the property that matters at
    *    scale; the ordinal projection below is display sugar).
    *  - BREADTH FIRST's column is ROW(depth, keyid) — already plain
    *    columns here.
    * The two row_number windows are unpartitioned by the CLAUSE's
    * semantics (a SEARCH column defines a total order) and run over the
    * CTE result, not a base table. The oracle text; Spark runs it as
    * [[searchOrder]], the path a fold over each key's chain. */
  private val r09Sql = """
      WITH RECURSIVE tree(keyid, depth, seq_dfs) AS (
        SELECT CAST(c_custkey AS BIGINT), 1,
               lpad(CAST(c_custkey AS STRING), 6, '0')
        FROM customer WHERE c_custkey BETWEEN 1 AND 9
        UNION ALL
        SELECT CAST(c.c_custkey AS BIGINT), t.depth + 1,
               concat(t.seq_dfs, '/', lpad(CAST(c.c_custkey AS STRING), 6, '0'))
        FROM customer c JOIN tree t
          ON CAST(floor(c.c_custkey / 10) AS BIGINT) = t.keyid
        WHERE c.c_custkey >= 10)
      SELECT keyid, depth, seq_dfs,
        CAST(row_number() OVER (ORDER BY seq_dfs) AS BIGINT) AS ord_dfs,
        CAST(row_number() OVER (ORDER BY depth, keyid) AS BIGINT) AS ord_bfs
      FROM tree ORDER BY keyid"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r08_cycle_paths" -> { (s, dir) =>
      Tables.register(s, dir)
      s.sql(r08Sql)
    },
    "r09_search_order" -> { (s, dir) => searchOrder(Tables.df(s, dir, "customer")) },
    "r01_recursive_collatz" -> { (s, dir) =>
      collatzChain(s, dir).orderBy(col("seed"), col("step"))
    },
    "cb01_connectby" -> { (s, dir) => connectBy(Tables.df(s, dir, "customer")) },

    // -- r05: bounded-hop min-cost path (Bellman-Ford relaxation) over
    //    r04's deterministic multigraph with weight (src+dst)%17+1 —
    //    the "cheapest route within K hops" shape. A zero-weight self-loop
    //    per node (doc ids are 0..N-1, so every dst is one) makes a
    //    round's min(dist ∪ relax(dist)) ONE edge join + min aggregate
    //    reading dist once: K rounds = one plan linear in K, no spool,
    //    never a path enumeration. The oracle IS one (≤K hops then min),
    //    tractable there because out-degree is 3; the relaxation form
    //    scales: state is |reached nodes|, not |paths| --
    "r05_shortest_path" -> { (s, dir) =>
      // one scan and explode: the self-loop is each node's 4th target.
      // dst is never NULL; spelled out, the filter Catalyst infers only
      // in rounds whose output feeds a join makes every round's edge
      // plan the same, so rounds 2 and 3 share one broadcast build
      // (round 1 reads only the source's row, its filter pushed down)
      val docs = Tables.df(s, dir, "documents").select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("src"), posexplode(concat(
          pagerankTargets(Tables.rows(s, dir, "documents")), array(col("doc_id")))).as(Seq("i", "dst")))
        .select(col("src"), col("dst"),
          when(col("i") === 3, 0L).otherwise(expr("(src + dst) % 17 + 1")).as("w"))
        .filter(col("dst").isNotNull)
      var dist = docs.filter(col("doc_id") === 0)
        .select(col("doc_id"), lit(0L).as("d"))
      for (_ <- 1 to 3)
        dist = edges.join(dist, col("src") === col("doc_id"))
          .groupBy(col("dst").as("doc_id")).agg(min(col("d") + col("w")).as("d"))
      // 3 hops at out-degree 3 reach at most 1 + 3 + 9 + 27 = 40 nodes,
      // whatever the corpus size: one partition sorts them with no
      // range-sampling job and no range shuffle
      dist.select(col("doc_id"), col("d").as("dist_cost"))
        .coalesce(1).orderBy(col("doc_id"))
    },
    "r02_connected_dedup" -> { (s, dir) => connectedDedup(s, dir) },
    // native SQL-surface recursive CTE (UnionLoop): the worktable walks
    // one tree level per iteration, each level one distributed join
    "r03_recursive_sql" -> { (s, dir) =>
      Tables.register(s, dir)
      s.sql(r03Sql)
    },

    // -- r10: BOM explosion + cost rollup (see r10Sql) --
    "r10_bom_rollup" -> { (s, dir) => bomRollup(Tables.df(s, dir, "part")) },

    // -- r06: triangle counting over the part co-purchase graph — the
    //    third classic distributed-graph kernel next to r02 (components)
    //    and r04 (PageRank); the reference ecosystem runs it via MADlib
    //    graph / Apache AGE on Greenplum. The naive 3-way edge self-join
    //    explodes as Σ deg(v)² on hub nodes; the standard fix (degree
    //    ORIENTATION) directs every edge from its lower-(degree, id)
    //    endpoint to the higher one, making the edge set a DAG whose max
    //    out-degree is O(√m) — wedge enumeration Σ outdeg² is then
    //    bounded regardless of hubs, each triangle counted exactly once.
    //    Co-order pairs are bounded per order (≤ C(7,2) — order size is
    //    data-model-capped like d02's StopShingleCap), so the pair
    //    build is one equi-join + hash agg, no skew.
    //    The oriented edge set is SPOOLED (ShareInputScan analog, like
    //    q65): the wedge join reads it three times, and an inlined CTE
    //    would recompute the pair build + degree joins each time (the
    //    SQL-text form measured 12.5 s at sf0.1; spooled ~3×  less).
    //    The DuckDB oracle runs the identical logic as one SQL text. --
    "r07_kcore" -> { (s, dir) => kcoreQuery(s, dir) },

    "r06_triangle_count" -> { (s, dir) =>
      // Pair build (r18 optimization, guide §2.4 — remove shuffles
      // outright): the old spelling was distinct(o,p) → self-join on o →
      // groupBy(u,v), i.e. an exchange on (o,p), an exchange on o for
      // both join sides, the join itself, and the (u,v) dedup exchange.
      // Co-order part sets are data-model-capped (≤7/order, like d02's
      // StopShingleCap), so the same pair set falls out of ONE exchange
      // on o (collect_set is map-side combinable) + a bounded per-order
      // pair explode + the (u,v) dedup exchange — one exchange and one
      // join fewer, and nothing new is skew-exposed (order keys are
      // uniform). Idle A/B at sf0.1: 5.28 → 4.30 s (−19%); hash-green.
      // sort_array makes u < v positional: x pairs only with the ys
      // AFTER it in the sorted set.
      val edges = Tables.df(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .groupBy(col("o")).agg(sort_array(collect_set(col("p"))).as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
               transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"""))
          .as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy(col("u"), col("v")).agg(lit(1))
        .select(col("u"), col("v"))
        // spool (r18): edges feeds THREE consumers — the degree
        // aggregate, the orientation join, and the final edge census.
        // Within one job exchange reuse dedups them, but the census
        // runs in the FINAL job while orientation ran in the oe
        // checkpoint job, so the whole pair build re-derived from the
        // scan once more there. Edge-sized spool, read three times.
        .localCheckpoint()
      val deg = edges.select(col("u").as("node"))
        .unionAll(edges.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      // deg is |nodes| rows (20k at sf0.1) — small here, but node count
      // scales with the corpus too, so no forced hint: AQE broadcasts
      // the orientation joins when deg's measured size fits and falls
      // back to shuffle joins when it doesn't.
      val du = deg.select(col("node").as("u"), col("d").as("du"))
      val dv = deg.select(col("node").as("v"), col("d").as("dv"))
      val withDeg = edges.join(du, Seq("u")).join(dv, Seq("v"))
      val oe = withDeg.filter(col("du") <= col("dv"))
        .select(col("u").as("s"), col("v").as("t"))
        .unionAll(withDeg.filter(col("du") > col("dv"))
          .select(col("v").as("s"), col("u").as("t")))
        .localCheckpoint() // spool: the wedge join reads oe three times
      // In the oriented DAG every triangle is a unique edge trio
      // a→b, a→c, b→c, so per oriented edge (a,b) the triangle count is
      // |N⁺(a) ∩ N⁺(b)|. Enumerating wedges instead (e1⋈e2⋈e3) would
      // materialize Σ in(b)·out(b) rows — 49M at sf0.1, 40× the edge
      // set — through two joins; the adjacency-intersect form does the
      // same Σ(|N⁺(a)|+|N⁺(b)|) work INSIDE a per-row expression, with
      // zero wedge rows ever built. Orientation bounds every list at
      // O(√m) (97 here), so each row's intersect is small. The adjacency
      // relation has |nodes| ROWS but its payload totals |edges| array
      // entries — edge-sized, NOT broadcastable at scale — so both
      // joins are plain shuffle equi-joins on s/t and AQE promotes them
      // to broadcast only when the measured size actually fits
      // (PlanShapeSpec asserts no build-side hint survives in the plan).
      val adj = oe.groupBy(col("s"))
        .agg(sort_array(collect_list(col("t"))).as("nbrs"))
        .localCheckpoint() // reused by both join sides
      // r18 (guide §1.2 per-task work, after the shape is right):
      // size(array_intersect) builds a hash set per row pair; both
      // neighbor lists are sorted, so the count is a two-pointer merge
      // (sorted_intersect_count) — same distinct-count semantics,
      // zero allocation, whole-stage codegen. Idle A/B + oracle hash
      // below; SortedIntersectSpec pins equivalence property-style.
      val tri = oe
        .join(adj.select(col("s").as("s"), col("nbrs").as("na")), Seq("s"))
        .join(adj.select(col("s").as("t"), col("nbrs").as("nb")), Seq("t"))
        .agg(coalesce(sum(expr("sorted_intersect_count(na, nb)")), lit(0L))
          .as("n_triangles"))
        .select(col("n_triangles").cast("long").as("n_triangles"))
      val counts = edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      counts.crossJoin(tri)
        .select(col("n_edges"), col("n_nodes"), col("n_triangles"))
    },

    // -- r04: PageRank over a deterministic document link graph — the
    //    crawl-curation signal (rank web docs before training-set
    //    selection). Every doc has out-degree exactly 3 (targets
    //    (2u+1)%N, (3u+2)%N, (u+7)%N — a multigraph, no dangling
    //    nodes), so per-edge contribution is rank div 3 and ALL
    //    arithmetic stays in exact positive BIGINTs (micro-rank units,
    //    floor division agrees across engines on positives): no float
    //    summation anywhere. Three unrolled power iterations, damping
    //    0.85 as (85·contrib) div 100 + 150000.
    //    Scale shape: each iteration is ONE shuffle — join ranks to
    //    edges on src (both sides partitioned by the same key; in a
    //    real deployment the edge relation is bucketed by src so the
    //    join is co-located), then groupBy dst with map-side partial
    //    sums. The final left join restores in-degree-0 nodes.
    //    That is exactly GraphX/Pregel's iteration shape expressed
    //    relationally. --
    "r04_pagerank" -> { (s, dir) =>
      val docs = Tables.df(s, dir, "documents").select(col("doc_id"))
      val edges = pagerankEdges(docs, Tables.rows(s, dir, "documents"))
      var ranks = docs.select(col("doc_id"), lit(1000000L).as("r"))
      for (_ <- 1 to 3) ranks = pagerankStep(docs, edges, ranks)
      ranks.groupBy(expr("r div 100000").as("rank_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("r")).cast("bigint").as("sum_rank"),
          min(col("doc_id")).as("min_doc"),
          max(col("r")).as("max_rank"))
        .orderBy(col("rank_bucket"))
    }
  )

  /** Distributed min-label propagation over an UNDIRECTED edge list
    * (columns u, v — both directions present): label(v) ← min(label(v),
    * min_{u~v} label(u)) to a fixpoint, one shuffle per round,
    * checkpointed frontiers, O(diameter) rounds, labels-only-decrease
    * as the cycle guard. Works for any orderable node type (r02 uses
    * numeric doc ids, er01 string names). Returns (node, lbl); only
    * nodes that appear in the edge list are labeled — callers restore
    * isolated nodes with a left join + coalesce(lbl, node). */
  private[graft] def minLabelPropagate(und: DataFrame): DataFrame = {
    var labels = und.groupBy(col("u").as("node")).agg(min(col("v")).as("m"))
      .select(col("node"), least(col("node"), col("m")).as("lbl"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxCcIters) {
      // propagate: the best label any neighbor carries; the previous label
      // rides along so convergence is a filter on the checkpointed
      // frontier, not an extra join
      val prop = und
        .join(labels.select(col("node").as("u"), col("lbl").as("u_lbl")), Seq("u"))
        .groupBy(col("v").as("node")).agg(min(col("u_lbl")).as("n_lbl"))
      val stepped = labels.join(prop, Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("n_lbl"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
      // pointer halving (r18, guide §1.2 — the distributed algorithm
      // first): follow each label one hop to ITS label in the same
      // round. Labels only copy values already inside the component
      // (init = min(self, neighbors); every hop stays in-component),
      // so the unique fixpoint — the component minimum everywhere —
      // is unchanged; what changes is convergence: label chains halve
      // per round, O(diameter) rounds → O(log diameter). At 100 TB
      // (long chains from span/near-dup graphs) this is the difference
      // between tens of rounds and a handful; each round costs one
      // extra node-keyed equi-join. prev stays the round-entry label,
      // so the convergence count sees a change from EITHER hop.
      val next = stepped.join(
          stepped.select(col("node").as("lbl"), col("lbl").as("ll")),
          Seq("lbl"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("ll"), col("lbl"))).as("lbl"),
          col("prev"))
        .localCheckpoint()
      Spool.release(labels) // the previous round's spool: next no longer reads it
      changed = next.filter(col("lbl") =!= col("prev")).count()
      labels = next.select(col("node"), col("lbl"))
      iter += 1
    }
    labels
  }

  /** peel rounds for r07 (shared by the query and the generated oracle) */
  private val KcoreRounds = 5

  /** k-core decomposition (k=5) of the deterministic doc link graph —
    * the degeneracy-ordering building block for community detection and
    * graph sparsification (MADlib graph / Apache AGE territory, like
    * r02/r04/r06). The algorithm is the textbook peel: repeatedly drop
    * nodes with undirected simple-degree < k and the edges touching
    * them, until stable. Spark-first shape: each round is ONE degree
    * aggregate (map-side combined) + one semi-join of the edge set
    * against surviving nodes — both linear shuffles; the frontier is
    * checkpointed per round like r02 so plans don't nest. Rounds
    * are capped at KcoreRounds with early-exit on stability; the output is the
    * per-round (n_nodes, n_edges) TRAJECTORY, so the oracle (the same
    * peeling rounds unrolled as CTEs) verifies every intermediate
    * state, not just the fixpoint. */
  private def kcoreQuery(s: SparkSession, dir: String): DataFrame = {
    val K = 5
    val docs = Tables.df(s, dir, "documents").select(col("doc_id"))
    var edges = pagerankEdges(docs, Tables.rows(s, dir, "documents"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    // r19 (guide §2.4, r18 verdict #2): the trajectory counts FOLD INTO
    // the degree aggregate. The per-node degree relation the peel needs
    // anyway determines both counts of its edge set exactly:
    //   n_nodes = count(deg rows)        (a node appears iff it has an edge)
    //   n_edges = sum(d) / 2             (every edge contributes 2 endpoints)
    // so they are observed in the job that spools deg, and a round runs
    // no count action of its own. Returns (deg, n_nodes, n_edges).
    def degOf(e: DataFrame): (DataFrame, Long, Long) = {
      val o = org.apache.spark.sql.Observation()
      val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .observe(o, count(lit(1)).as("nn"), coalesce(sum(col("d")), lit(0L)).as("d2"))
        .localCheckpoint()
      val m = o.get
      (deg, m("nn").asInstanceOf[Long], m("d2").asInstanceOf[Long] / 2)
    }
    var (deg, nn, ne) = degOf(edges)
    val traj = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]((0, nn, ne))
    var round = 1
    var stable = false
    while (round <= KcoreRounds) {
      if (!stable) {
        val (prevEdges, prevDeg) = (edges, deg)
        val keep = deg.filter(col("d") >= K).select(col("node"))
        edges = edges
          .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v"))
          .localCheckpoint()
        val (deg2, nn2, ne2) = degOf(edges)
        // this round's spools exist, so the previous round's are dead:
        // release them now, not at the query's end
        Seq(prevEdges, prevDeg).foreach(Spool.release)
        deg = deg2
        stable = ne2 == ne
        nn = nn2; ne = ne2
        // once stable, the remaining rounds repeat the fixpoint counts
        // without launching further jobs
      }
      traj += ((round, nn, ne))
      round += 1
    }
    import s.implicits._
    traj.toSeq.toDF("round", "n_nodes", "n_edges")
      .select(col("round"), col("n_nodes"), col("n_edges"))
      .orderBy(col("round"))
  }

  /** r04's deterministic out-degree-3 multigraph over `n` nodes: targets
    * (2u+1)%n, (3u+2)%n, (u+7)%n. `n` is the node count as a constant
    * (`Tables.rows`, read from the footers), so the edge relation is a
    * pure function of the node set with no count job, broadcast or
    * cross join in the plan. */
  private[graft] def pagerankEdges(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"), explode(pagerankTargets(n)).as("dst"))

  /** The out-edge targets of node `doc_id` in r04's graph. */
  private def pagerankTargets(n: Long): Column = array(
    expr(s"(2 * doc_id + 1) % ${n}L"),
    expr(s"(3 * doc_id + 2) % ${n}L"),
    expr(s"(doc_id + 7) % ${n}L"))

  /** One damped power iteration in exact positive-BIGINT micro-rank
    * units: contrib = Σ_in rank div 3, rank' = 150000 + (85·contrib)
    * div 100. One src-join + one dst partial-sum shuffle (Pregel shape);
    * the left join restores in-degree-0 nodes. */
  private[graft] def pagerankStep(docs: DataFrame, edges: DataFrame, ranks: DataFrame): DataFrame = {
    val contrib = edges.join(ranks, col("src") === col("doc_id"))
      .groupBy(col("dst"))
      .agg(sum(expr("r div 3")).as("contrib"))
    docs.join(contrib, col("doc_id") === col("dst"), "left")
      .select(col("doc_id"),
        expr("150000 + (85 * coalesce(contrib, 0L)) div 100").as("r"))
  }

  /** The same peeling rounds unrolled as CTEs (e0..eN), counting each
    * round's surviving (nodes, edges) — generated, not hand-copied, so
    * the round count stays in one place. */
  private val kcoreOracleSql: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      s"""e$r AS MATERIALIZED (
        SELECT e.u, e.v FROM e${r - 1} e
        JOIN (SELECT node FROM (
            SELECT node, count(*) AS d FROM (
              SELECT u AS node FROM e${r - 1} UNION ALL SELECT v AS node FROM e${r - 1}) x
            GROUP BY node) dd WHERE d >= 5) ku ON e.u = ku.node
        JOIN (SELECT node FROM (
            SELECT node, count(*) AS d FROM (
              SELECT u AS node FROM e${r - 1} UNION ALL SELECT v AS node FROM e${r - 1}) x
            GROUP BY node) dd WHERE d >= 5) kv ON e.v = kv.node)"""
    }.mkString(",\n")
    val counts = (0 to KcoreRounds).map { r =>
      s"""SELECT $r AS round,
        (SELECT count(DISTINCT node) FROM
          (SELECT u AS node FROM e$r UNION ALL SELECT v AS node FROM e$r) x) AS n_nodes,
        (SELECT count(*) FROM e$r) AS n_edges"""
    }.mkString(" UNION ALL ")
    s"""
      WITH docs AS (SELECT doc_id FROM documents),
      n AS (SELECT count(*) AS nn FROM docs),
      raw AS (
        SELECT doc_id AS src, (2 * doc_id + 1) % nn AS dst FROM docs, n
        UNION ALL
        SELECT doc_id, (3 * doc_id + 2) % nn FROM docs, n
        UNION ALL
        SELECT doc_id, (doc_id + 7) % nn FROM docs, n),
      e0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM raw WHERE src <> dst),
      $rounds
      SELECT CAST(round AS INTEGER) AS round, n_nodes, n_edges
      FROM ($counts) ORDER BY round"""
  }

  def oracle: Map[String, String] = Map(
    "r07_kcore" -> kcoreOracleSql,
    "r08_cycle_paths" -> r08Sql,
    // Three unrolled power iterations in the same exact positive-BIGINT
    // arithmetic (floor division agrees across engines on positives).
    "r04_pagerank" -> """
      WITH docs AS (SELECT doc_id FROM documents),
      n AS (SELECT count(*) AS nn FROM docs),
      edges AS (
        SELECT doc_id AS src, (2 * doc_id + 1) % nn AS dst FROM docs, n
        UNION ALL
        SELECT doc_id, (3 * doc_id + 2) % nn FROM docs, n
        UNION ALL
        SELECT doc_id, (doc_id + 7) % nn FROM docs, n),
      r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM docs),
      c1 AS (SELECT dst, sum(r // 3) AS contrib FROM edges
             JOIN r0 ON src = doc_id GROUP BY dst),
      r1 AS (SELECT d.doc_id,
               CAST(150000 + (85 * coalesce(contrib, 0)) // 100 AS BIGINT) AS r
             FROM docs d LEFT JOIN c1 ON d.doc_id = c1.dst),
      c2 AS (SELECT dst, sum(r // 3) AS contrib FROM edges
             JOIN r1 ON src = doc_id GROUP BY dst),
      r2 AS (SELECT d.doc_id,
               CAST(150000 + (85 * coalesce(contrib, 0)) // 100 AS BIGINT) AS r
             FROM docs d LEFT JOIN c2 ON d.doc_id = c2.dst),
      c3 AS (SELECT dst, sum(r // 3) AS contrib FROM edges
             JOIN r2 ON src = doc_id GROUP BY dst),
      r3 AS (SELECT d.doc_id,
               CAST(150000 + (85 * coalesce(contrib, 0)) // 100 AS BIGINT) AS r
             FROM docs d LEFT JOIN c3 ON d.doc_id = c3.dst)
      SELECT r // 100000 AS rank_bucket, count(*) AS n_docs,
        CAST(sum(r) AS BIGINT) AS sum_rank,
        min(doc_id) AS min_doc, max(r) AS max_rank
      FROM r3 GROUP BY rank_bucket ORDER BY rank_bucket""",

    // r03 (and r08 above) run the same text on Spark; r09, r10, cb01 run as
    // ancestor unfolds, and InvariantsSpec runs their texts on Spark too
    "r03_recursive_sql" -> r03Sql,
    "r10_bom_rollup" -> r10Sql,
    "r09_search_order" -> r09Sql,
    "r06_triangle_count" -> r06Sql,
    "cb01_connectby" -> cb01Sql,
    // path enumeration is safe in the oracle: out-degree 3, ≤3 hops
    // ⇒ ≤40 path rows; floor of the same exact BIGINT arithmetic
    "r05_shortest_path" -> """
      WITH RECURSIVE docs AS (SELECT doc_id FROM documents),
      n AS (SELECT count(*) AS nn FROM docs),
      edges AS (
        SELECT doc_id AS src, (2 * doc_id + 1) % nn AS dst FROM docs, n
        UNION ALL
        SELECT doc_id, (3 * doc_id + 2) % nn FROM docs, n
        UNION ALL
        SELECT doc_id, (doc_id + 7) % nn FROM docs, n),
      we AS (SELECT src, dst, (src + dst) % 17 + 1 AS w FROM edges),
      paths(node, cost, hops) AS (
        SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
        UNION ALL
        SELECT e.dst, p.cost + e.w, p.hops + 1
        FROM paths p JOIN we e ON e.src = p.node WHERE p.hops < 3)
      SELECT node AS doc_id, CAST(min(cost) AS BIGINT) AS dist_cost
      FROM paths GROUP BY node ORDER BY doc_id""",

    "r01_recursive_collatz" -> s"""
      WITH RECURSIVE chain(seed, step, val) AS (
        SELECT DISTINCT o_orderkey AS seed, 0 AS step, o_orderkey AS val
        FROM orders WHERE o_orderkey <= 100
        UNION ALL
        SELECT seed, step + 1,
          CASE WHEN val % 2 = 0 THEN val // 2 ELSE val * 3 + 1 END
        FROM chain WHERE val > 1 AND step < $maxDepth)
      SELECT seed, step, val FROM chain ORDER BY seed, step""",

    // full-reachability closure over the same verified edge set; min over
    // the reach set = the component minimum = the Spark fixpoint label
    "r02_connected_dedup" -> s"""
      WITH RECURSIVE ${Dedup.oracleSimhashCtes},
      ${Dedup.oracleCandCtes},
      edges AS (
        SELECT DISTINCT a_id, b_id FROM cands
        WHERE bit_count(xor(a_sim, b_sim)) <= 3),
      und AS (
        SELECT a_id AS u, b_id AS v FROM edges
        UNION ALL
        SELECT b_id AS u, a_id AS v FROM edges),
      reach(doc_id, r) AS (
        SELECT u, v FROM und
        UNION
        SELECT reach.doc_id, und.v FROM reach JOIN und ON und.u = reach.r)
      SELECT doc_id, min(r) AS keeper_id
      FROM reach GROUP BY doc_id HAVING min(r) < doc_id
      ORDER BY doc_id"""
  )
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Derived, Tables}

/** Remaining native-API inventory rows (VERDICT round-1 "small gaps"):
  * INTERSECT ALL (nodeSetOp.c multiset mode), FETCH ... WITH TIES
  * (nodeLimit.c LIMIT_OPTION_WITH_TIES), HLL distinct estimation
  * (gp_hyperloglog.c ≙ approx_count_distinct), TABLESAMPLE
  * (nodeSamplescan.c), GROUPS window frames and EXCLUDE clauses
  * (parsenodes.h:631-658) as SQL-standard rewrites, and cross-consumer
  * subtree reuse (ShareInputScan ≙ ReuseExchange).
  */
object Extras {

  /** Shared verbatim between the Spark run and the DuckDB oracle:
    * Bernoulli-per-stratum sampling with a DETERMINISTIC coin — compare
    * the row's md5 (lowercase hex, bit-identical cross-engine; equal
    * length so string order = numeric order) against a per-stratum
    * threshold = fraction × 16^32. TABLESAMPLE REPEATABLE semantics
    * (nodeSamplescan.c) with an exact oracle, complementing the
    * rows-only q62: a pure map-side filter — no shuffle, no state, the
    * sample decision streams with the scan at any scale. Strata:
    * F → 50 %, O → ~10 %, P → 100 %. */
  private val stratifiedSql = """
      WITH tagged AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               md5('strat-' || CAST(o_orderkey AS STRING)) AS hx
        FROM orders),
      sampled AS (
        SELECT * FROM tagged
        WHERE hx < CASE o_orderstatus
          WHEN 'F' THEN '80000000000000000000000000000000'
          WHEN 'O' THEN '1a000000000000000000000000000000'
          ELSE 'g' END)
      SELECT o_orderstatus, count(*) AS n_sampled,
        round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sampled_total
      FROM sampled GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** q62's deterministic Bernoulli coin, shared verbatim with the oracle:
    * TABLESAMPLE BERNOULLI (10) REPEATABLE ('bern-42') with the coin
    * md5(seed || key) — see the q62 entry for why content-keyed beats
    * position-keyed sampling at scale. */
  private val bernoulliSql = """
      SELECT o_orderkey, o_custkey
      FROM orders
      WHERE md5('bern-42-' || CAST(o_orderkey AS STRING))
              < '1a000000000000000000000000000000'
      ORDER BY o_orderkey"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- lo01: LARGE OBJECTS as page rows — PG stores each large object
    //    as LOBLKSIZE-sized pages in pg_largeobject {loid, pageno, data}
    //    (`src/backend/storage/large_object/inv_api.c` inv_write splits
    //    on LOBLKSIZE; `contrib/lo` manages the refs), and lo_read
    //    reassembles pages in pageno order. The same shape is how any
    //    blob column outgrows a row store. Spark-first: the page
    //    relation is ONE LINEAR SLICING PASS — `regexp_extract_all`
    //    with a dotall `.{1,N}` chunker walks the string once (each
    //    match resumes where the last ended), where a per-page
    //    `substring(text, p*N+1, N)` would re-scan from the start of
    //    the UTF8String for every page: O(L²/N) on book-length objects,
    //    the exact quadratic the r10 length sweep caught in m08/t18.
    //    posexplode numbers the pages (no shuffle to WRITE pages);
    //    reassembly is a per-loid sort_array over collected
    //    {pageno, data} structs — page count per object is bounded
    //    (size/LOBLKSIZE), so the collect_list state is bounded, never
    //    corpus-wide. The audit proves chunk∘assemble = id per object:
    //    md5(reassembled) rides the output and pages_ok compares
    //    against the original — any lost, reordered, or truncated page
    //    flips it --
    "lo01_largeobject_pages" -> { (s, dir) =>
      val pageChars = 128
      Tables.df(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id").as("loid"), col("text"),
          posexplode(expr(
            s"""regexp_extract_all(text, '(?s).{1,$pageChars}', 0)""")))
        .select(col("loid"), col("text"),
          col("pos").as("pageno"), col("col").as("data"))
        .groupBy(col("loid"))
        .agg(
          count(lit(1)).cast("bigint").as("n_pages"),
          sum(length(col("data"))).cast("bigint").as("n_chars"),
          expr("array_join(transform(sort_array(collect_list(struct(pageno, data))), x -> x.data), '')")
            .as("obj"),
          max(col("text")).as("orig"))
        .select(col("loid"), col("n_pages"), col("n_chars"),
          md5(col("obj")).as("obj_md5"),
          (col("obj") === col("orig")).cast("int").as("pages_ok"))
        .orderBy(col("loid"))
    },
    // -- stratified TABLESAMPLE with a deterministic per-stratum coin --
    "q90_stratified_sample" -> { (s, dir) =>
      Tables.register(s, dir)
      s.sql(stratifiedSql)
    },

    // -- q138: TABLESAMPLE SYSTEM_ROWS(n) — the exact-row-count sample
    //    (`contrib/tsm_system_rows/tsm_system_rows.c`: returns EXACTLY
    //    n rows regardless of table size, the notebook "give me 1000
    //    rows" sample; its sibling tsm_system_time is wall-clock-bound
    //    and therefore has no deterministic analog). Deterministic
    //    variant: rank by a content-keyed md5 coin and take exactly n —
    //    Spark plans orderBy+limit as TakeOrderedAndProject (per-
    //    partition top-n, then one tiny merge; NO global sort shuffle,
    //    plan-asserted), so the 100 TB cost is one scan + n rows moved.
    //    Coins are unique (md5 of unique keys), so the cut is
    //    unambiguous in both engines; the oracle pins n exactly --
    "q138_system_rows" -> { (s, dir) =>
      val n = 1000
      val sample = Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          md5(concat(lit("sysrows-42-"), col("o_orderkey").cast("string")))
            .as("coin"))
        .orderBy(col("coin")).limit(n)
      sample.agg(
        count(lit(1)).cast("bigint").as("n_rows"),
        (count(lit(1)) === n).cast("int").as("exact_n"),
        min(col("coin")).as("first_coin"),
        max(col("coin")).as("last_coin"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .cast("bigint").as("cents"))
    },

    // -- q139: TABLESAMPLE SYSTEM_TIME analog — the reference's sibling
    //    sampler (`contrib/tsm_system_time/tsm_system_time.c`): BLOCK
    //    sampling under a budget, visiting blocks "starting at a random
    //    block, advancing with a stride relatively prime to nblocks"
    //    until time runs out. Wall-clock is inherently unrepeatable, so
    //    the deterministic analog fixes the two nondeterminism sources:
    //    the visit order becomes the q138 content-keyed md5 coin over
    //    PAGE ids (a deterministic pseudo-random permutation — same
    //    role as the random stride), and the time budget becomes its
    //    expectation, an exact PAGE count (time ∝ blocks read). Rows
    //    per sampled page stay data-dependent — the "as many rows as
    //    fit" flavor — while the page count is pinned, so the oracle
    //    can assert it exactly. Scale shape: one scan collapses rows to
    //    the page census (map-side combined, |rows|/64), the page
    //    top-k plans as TakeOrderedAndProject (never a global sort —
    //    plan-asserted), and the final aggregate reads 24 census rows --
    "q139_system_time" -> { (s, dir) =>
      val nPages = 24
      val pages = Tables.df(s, dir, "orders")
        .groupBy(expr("o_orderkey div 64").as("page"))
        .agg(count(lit(1)).as("pg_rows"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("pg_cents"))
        .withColumn("coin",
          md5(concat(lit("systime-42-"), col("page").cast("string"))))
      pages.orderBy(col("coin")).limit(nPages)
        .agg(
          count(lit(1)).cast("bigint").as("n_pages"),
          (count(lit(1)) === nPages).cast("int").as("exact_n_pages"),
          sum(col("pg_rows")).cast("bigint").as("n_rows"),
          min(col("coin")).as("first_coin"),
          max(col("coin")).as("last_coin"),
          sum(col("pg_cents")).cast("bigint").as("cents"))
    },

    // -- INTERSECT ALL (multiset semantics) --
    "q59_intersect_all" -> { (s, dir) =>
      val l = Tables.df(s, dir, "lineitem")
      val odd = l.filter(col("l_orderkey") % 2 === 1)
        .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      val even = l.filter(col("l_orderkey") % 2 === 0)
        .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
      odd.intersectAll(even)
        .groupBy(col("flag"), col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("flag"), col("status"))
    },

    // -- FETCH FIRST 10 ROWS WITH TIES (nodeLimit.c LIMIT_OPTION_TIES) --
    // Two-pass plan, no global window (the r2-verdict's scale note: a
    // partitionless rank funnels the whole table through one task): pass 1
    // computes the k-th value via top-k (TakeOrderedAndProject, tiny);
    // pass 2 broadcast-joins it and keeps rows >= it — ties included by
    // construction. Both passes scan only the two projected columns.
    "q60_with_ties" -> { (s, dir) =>
      val orders = Tables.df(s, dir, "orders")
      val kth = orders.select(col("o_totalprice"))
        .orderBy(col("o_totalprice").desc).limit(10)
        .agg(min(col("o_totalprice")).as("kth"))
      orders.select(col("o_orderkey"), col("o_totalprice"))
        .join(broadcast(kth), col("o_totalprice") >= col("kth"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    },

    // -- HLL++ distinct estimation, audited against the exact count --
    "q61_approx_distinct" -> { (s, dir) =>
      Tables.df(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"),
          approx_count_distinct(col("l_partkey")).as("approx_raw"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("approx_raw") - col("n_exact")) * 100 <= col("n_exact") * 5)
            .cast("int").as("approx_within_5pct"))
        .orderBy(col("l_returnflag"))
    },

    // -- q122: HLL sketch MERGEABILITY — the property q61 doesn't show:
    //    per-month DataSketches HLL sketches union losslessly into
    //    quarter estimates (hll_union_agg over hll_sketch_agg partials),
    //    which is the sketch-IVM story — month partials persist once,
    //    any coarser rollup derives from the sketches without rescanning
    //    the facts (Exchange carries |months| sketch binaries, not rows).
    //    Audited in-result against the exact quarter distinct (q61's
    //    pattern); the oracle recomputes the exact side and pins ok=1 --
    "q122_hll_union" -> { (s, dir) =>
      val orders = Tables.df(s, dir, "orders")
        .withColumn("qtr", expr("concat(year(o_orderdate), '-Q', quarter(o_orderdate))"))
        .withColumn("mon", expr("date_trunc('month', o_orderdate)"))
      val monthly = orders
        .groupBy(col("qtr"), col("mon"))
        .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
      val est = monthly.groupBy(col("qtr"))
        .agg(count(lit(1)).as("n_months"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = orders.groupBy(col("qtr"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      est.join(exact, Seq("qtr"))
        .select(col("qtr"), col("n_months"), col("n_exact"),
          (abs(col("est") - col("n_exact")) * 100 <= col("n_exact") * 5)
            .cast("int").as("union_within_5pct"))
        .orderBy(col("qtr"))
    },

    // -- count-min sketch (the frequency cousin of q61's HLL; reference
    //    ships the sketch family via contrib — madlib/datasketches-style
    //    CountMin). d=4 hash rows × w=256 counters with the same
    //    deterministic universal hashes as d03's minhash, so the oracle
    //    reproduces the sketch bit-for-bit. The counter build aggregates
    //    the (already tiny) word-count table; the probe joins the
    //    broadcast top-k words against the 1,024-cell sketch and takes
    //    min over rows. Asserts the CMS one-sided guarantee
    //    (estimate >= exact) in-row --
    "q101_count_min" -> { (s, dir) =>
      graft.functions.PgFunctions.register(s)
      val wc = Tables.df(s, dir, "documents")
        .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .withColumn("fp", expr("str_hash31(word)"))
        .localCheckpoint() // spool: counters + top-k probe both read it
      val cells = wc
        .select(col("n"), explode(expr(
          """transform(sequence(0, 3), d ->
               struct(d AS d, ((1000003 * d + 12345) * fp + 7919 * d + 271) % 1000000007 % 256 AS bucket))""")).as("h"))
        .groupBy(col("h.d").as("d"), col("h.bucket").as("bucket"))
        .agg(sum(col("n")).as("cnt"))
      val top = wc.orderBy(col("n").desc, col("word")).limit(20)
        .select(col("word"), col("n").as("n_exact"), explode(expr(
          """transform(sequence(0, 3), d ->
               struct(d AS d, ((1000003 * d + 12345) * fp + 7919 * d + 271) % 1000000007 % 256 AS bucket))""")).as("h"))
        .select(col("word"), col("n_exact"), col("h.d").as("d"), col("h.bucket").as("bucket"))
      cells.join(broadcast(top), Seq("d", "bucket"))
        .groupBy(col("word"), col("n_exact"))
        .agg(min(col("cnt")).as("n_est"))
        .select(col("word"), col("n_exact"), col("n_est"),
          (col("n_est") >= col("n_exact")).cast("int").as("one_sided_ok"))
        .orderBy(col("n_exact").desc, col("word"))
    },

    // -- TABLESAMPLE BERNOULLI ... REPEATABLE (nodeSamplescan.c's
    //    bernoulli_nextsampletuple: an independent per-row coin seeded by
    //    REPEATABLE). The coin here is a content-keyed hash
    //    (md5(seed||key) < fraction·16^32) rather than a PRNG keyed on
    //    physical position: at 100 TB a restarted/speculated task MUST
    //    re-emit the same sample, and Spark's .sample(seed) is partition-
    //    position-dependent — repartitioning or a lost executor changes
    //    the rows. The content-keyed coin is restart-stable, engine-
    //    portable (exact DuckDB oracle, r9 — previously rows-only), and
    //    still a pure map-side filter that streams with the scan.
    //    Threshold '1a' = 26/256 ≈ 10.16% Bernoulli fraction; native
    //    .sample()'s SampleExec fraction stays bounded in ScalaTest. --
    "q62_tablesample" -> { (s, dir) =>
      Tables.register(s, dir)
      s.sql(bernoulliSql)
    },

    // -- GROUPS frame (GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW):
    //    no native Spark API → dense_rank + RANGE on the rank key.
    //    Peer groups = equal order-key values. --
    "q63_groups_frame" -> { (s, dir) =>
      // shared GROUPS rewriter (WindowFrames; property-tested vs the
      // brute-force peer-group semantics in WindowFramesSpec)
      WindowFrames.withGroupsSum(
        Tables.df(s, dir, "orders").filter(col("o_custkey") <= 50),
        out = "grp_sum", value = expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        part = Seq(col("o_orderpriority")), ord = col("o_orderdate"),
        lo = -1, hi = 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("grp_sum").cast("double") / 100.0, 2).as("grp_sum_dollars"))
        .orderBy(col("o_orderkey"))
    },

    // -- EXCLUDE CURRENT ROW: full-frame aggregate minus current row --
    "q64_exclude_current" -> { (s, dir) =>
      // shared EXCLUDE rewriter (WindowFrames.sumExcluding)
      Tables.df(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(WindowFrames.sumExcluding(col("cents"),
            Seq(col("o_orderstatus")), col("o_orderdate"),
            WindowFrames.ExcludeCurrentRow).cast("double") / 100.0, 2)
            .as("others_total"))
        .orderBy(col("o_orderkey"))
    },

    // -- shared producer subtree consumed twice (ShareInputScan,
    //    `nodeShareInputScan.c:1-50`: one producer materializes a
    //    tuplestore, N consumers scan it). Spark analog: persist() the
    //    aggregate — CacheManager dedups identical plans, so both join
    //    sides read the same materialized spool and the fact table is
    //    scanned ONCE (asserted in PlanShapeSpec via InMemoryTableScan) --
    "q65_shared_subtree" -> { (s, dir) =>
      val monthly = Tables.df(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("cents"))
        .persist()
      val prev = monthly.select(add_months(col("month"), 1).as("month"),
        col("cents").as("prev_cents"))
      monthly.join(prev, Seq("month"))
        .select(col("month"),
          round(col("cents").cast("double") / 100.0, 2).as("total"),
          round((col("cents") - col("prev_cents")).cast("double") / 100.0, 2).as("mom_delta"))
        .orderBy(col("month"))
    },

    // -- TidScan (`nodeTidscan.c`: fetch by physical tuple id). Spark's
    //    ctid analog is the file-source `_metadata` column: (file_path,
    //    row_index) addresses a physical row independent of how the file
    //    is split across tasks. The oracle (r9 — previously rows-only)
    //    re-derives the physical position from the documents layout
    //    invariant: the table is one parquet file written in doc_id
    //    order, so tid = rank(doc_id) − 1; FunctionsSpec asserts the
    //    invariant itself (tid == doc_id, dense, zero-based) so a layout
    //    change fails loudly rather than silently shifting the oracle. --
    "q66_tid_scan" -> { (s, dir) =>
      graft.Tables.configure(s)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("_metadata.row_index").as("tid"))
        .filter(col("tid") < 100)
        .orderBy(col("tid"))
    },

    // -- external table (readable): JSON-lines landing file read through
    //    schema-on-read (`url_file.c` / gpfdist analog; FDW surface) --
    "q67_external_json" -> { (s, dir) =>
      val path = Derived.once(dir, "docs_external_json", "documents") { p =>
        Tables.df(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").json(p)
      }
      s.read.json(path) // schema inferred from the external file
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    },

    // -- POSIX regex family (`src/backend/utils/adt/regexp.c`): patterns
    //    restricted to the POSIX-ERE subset both engines agree on --
    "q69_regex" -> { (s, dir) =>
      Tables.df(s, dir, "customer")
        .filter(col("c_custkey") <= 500)
        .select(
          col("c_custkey"),
          col("c_name").rlike("[0-9]+").cast("int").as("has_digits"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("first_num"),
          regexp_count(col("c_name"), lit("[0-9]")).as("n_digits"),
          regexp_replace(col("c_name"), "[aeiou]", "_").as("devoweled"))
        .orderBy(col("c_custkey"))
    },

    // -- Z-order clustering key (PAX `zorder_clustering.cc`): bit-
    //    interleave two dimensions so range queries on either column skip
    //    row groups. The key build is pure arithmetic (oracle-stable);
    //    ScaleSpec asserts the locality property and the write path --
    "q70_zorder" -> { (s, dir) =>
      Tables.df(s, dir, "part")
        .filter(col("p_partkey") <= 500)
        .select(col("p_partkey"), col("p_size"),
          expr(graft.functions.ZOrder.interleaveExpr("p_partkey % 256", "p_size % 256", 8))
            .as("zval"))
        .orderBy(col("zval"), col("p_partkey"))
    },

    // -- interval arithmetic (timestamp.c interval_pl / CalendarInterval) --
    "q73_interval_arith" -> { (s, dir) =>
      Tables.df(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          // 100 days, not 90: DuckDB 1.0 CSE considers INTERVAL 90 DAY ==
          // INTERVAL 3 MONTH (month≈30d) and merges the two additions
          (col("o_orderdate") + expr("INTERVAL 100 DAYS")).as("due_date"),
          (col("o_orderdate") - expr("INTERVAL 1 MONTH")).as("month_before"),
          add_months(col("o_orderdate"), 3).cast("timestamp").as("plus_quarter"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date"))
            .cast("int").as("days_to_eoy"))
        .orderBy(col("o_orderkey"))
    },

    // -- null-handling scalar battery (COALESCE/NULLIF/LEAST/GREATEST) --
    "q74_null_funcs" -> { (s, dir) =>
      Tables.df(s, dir, "customer")
        .filter(col("c_custkey") <= 500)
        .select(col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(default)")).as("seg_coalesced"),
          least(col("c_acctbal"), lit(0.0)).as("neg_or_zero"),
          greatest(col("c_acctbal"), lit(0.0)).as("pos_or_zero"),
          when(col("c_acctbal") < 0, null).otherwise(col("c_acctbal")).as("pos_or_null"))
        .orderBy(col("c_custkey"))
    }
  )

  def oracle: Map[String, String] = Map(
    "lo01_largeobject_pages" -> """
      WITH pages AS (
        SELECT doc_id AS loid, text, (i - 1) AS pageno,
               substring(text, (i - 1) * 128 + 1, 128) AS data
        FROM documents,
          LATERAL (SELECT unnest(generate_series(1, ((length(text) - 1) // 128) + 1)) AS i) g
        WHERE length(text) > 0),
      asm AS (
        SELECT loid, CAST(count(*) AS BIGINT) AS n_pages,
               CAST(sum(length(data)) AS BIGINT) AS n_chars,
               string_agg(data, '' ORDER BY pageno) AS obj,
               max(text) AS orig
        FROM pages GROUP BY loid)
      SELECT loid, n_pages, n_chars, md5(obj) AS obj_md5,
             CAST(obj = orig AS INT) AS pages_ok
      FROM asm ORDER BY loid""",

    "q101_count_min" -> """
      WITH wc AS (
        SELECT word, count(*) AS n,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1, length(word)),
              i -> CAST(ascii(substring(word, CAST(i AS INT), 1)) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
        FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
              FROM documents) t
        GROUP BY word),
      ds AS (SELECT unnest(generate_series(0, 3)) AS d),
      cells AS (
        SELECT ds.d AS d,
          ((1000003 * ds.d + 12345) * wc.fp + 7919 * ds.d + 271) % 1000000007 % 256 AS bucket,
          sum(wc.n) AS cnt
        FROM wc CROSS JOIN ds GROUP BY 1, 2),
      top AS (SELECT word, n AS n_exact, fp FROM wc ORDER BY n DESC, word LIMIT 20),
      probe AS (
        SELECT t.word, t.n_exact, ds.d AS d,
          ((1000003 * ds.d + 12345) * t.fp + 7919 * ds.d + 271) % 1000000007 % 256 AS bucket
        FROM top t CROSS JOIN ds)
      SELECT p.word, p.n_exact, CAST(min(c.cnt) AS BIGINT) AS n_est,
        CAST(CASE WHEN min(c.cnt) >= p.n_exact THEN 1 ELSE 0 END AS INTEGER) AS one_sided_ok
      FROM probe p JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
      GROUP BY p.word, p.n_exact
      ORDER BY n_exact DESC, word""",

    "q90_stratified_sample" -> stratifiedSql,

    "q138_system_rows" -> """
      WITH sample AS (
        SELECT o_orderkey, o_totalprice,
          md5('sysrows-42-' || CAST(o_orderkey AS VARCHAR)) AS coin
        FROM orders ORDER BY coin LIMIT 1000)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(*) = 1000 AS INT) AS exact_n,
        min(coin) AS first_coin, max(coin) AS last_coin,
        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM sample""",
    "q139_system_time" -> """
      WITH pages AS (
        SELECT o_orderkey // 64 AS page, count(*) AS pg_rows,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS pg_cents
        FROM orders GROUP BY 1),
      visit AS (
        SELECT pg_rows, pg_cents,
          md5('systime-42-' || CAST(page AS VARCHAR)) AS coin
        FROM pages ORDER BY coin LIMIT 24)
      SELECT CAST(count(*) AS BIGINT) AS n_pages,
        CAST(count(*) = 24 AS INT) AS exact_n_pages,
        CAST(sum(pg_rows) AS BIGINT) AS n_rows,
        min(coin) AS first_coin, max(coin) AS last_coin,
        CAST(sum(pg_cents) AS BIGINT) AS cents
      FROM visit""",
    "q62_tablesample" -> bernoulliSql,
    // physical-position oracle via the documents layout invariant (one
    // parquet file, written in doc_id order): tid = rank(doc_id) − 1
    "q66_tid_scan" -> """
      SELECT doc_id, lang, tid FROM (
        SELECT doc_id, lang,
          CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS tid
        FROM documents) t
      WHERE tid < 100 ORDER BY tid""",
    "q73_interval_arith" -> """
      SELECT o_orderkey,
        CAST(o_orderdate AS TIMESTAMP) + INTERVAL 100 DAY AS due_date,
        CAST(o_orderdate AS TIMESTAMP) - INTERVAL 1 MONTH AS month_before,
        CAST(o_orderdate AS TIMESTAMP) + INTERVAL 3 MONTH AS plus_quarter,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INTEGER) AS days_to_eoy
      FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""",

    "q74_null_funcs" -> """
      SELECT c_custkey,
        nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        coalesce(nullif(c_mktsegment, 'BUILDING'), '(default)') AS seg_coalesced,
        least(c_acctbal, 0.0) AS neg_or_zero,
        greatest(c_acctbal, 0.0) AS pos_or_zero,
        CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_or_null
      FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""",

    "q69_regex" -> """
      SELECT c_custkey,
        CAST(CASE WHEN regexp_matches(c_name, '[0-9]+') THEN 1 ELSE 0 END AS INTEGER) AS has_digits,
        regexp_extract(c_name, '([0-9]+)', 1) AS first_num,
        CAST(len(regexp_extract_all(c_name, '[0-9]')) AS INTEGER) AS n_digits,
        regexp_replace(c_name, '[aeiou]', '_', 'g') AS devoweled
      FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""",

    "q70_zorder" -> s"""
      SELECT p_partkey, p_size,
        ${graft.functions.ZOrder.duckdbInterleave("p_partkey % 256", "p_size % 256", 8)} AS zval
      FROM part WHERE p_partkey <= 500
      ORDER BY zval, p_partkey""",

    "q67_external_json" -> """
      SELECT lang, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY lang ORDER BY lang""",
    "q59_intersect_all" -> """
      SELECT flag, status, count(*) AS n FROM (
        SELECT l_returnflag AS flag, l_linestatus AS status
        FROM lineitem WHERE l_orderkey % 2 = 1
        INTERSECT ALL
        SELECT l_returnflag AS flag, l_linestatus AS status
        FROM lineitem WHERE l_orderkey % 2 = 0)
      GROUP BY flag, status ORDER BY flag, status""",

    "q60_with_ties" -> """
      SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice,
          rank() OVER (ORDER BY o_totalprice DESC) AS rnk
        FROM orders) t
      WHERE rnk <= 10 ORDER BY o_totalprice DESC, o_orderkey""",

    // both engines must agree their own HLL estimate is within 5% of the
    // exact count; the exact count is hash-compared directly
    "q61_approx_distinct" -> """
      SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
        CAST(CASE WHEN abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey)) * 100
                    <= count(DISTINCT l_partkey) * 5 THEN 1 ELSE 0 END AS INTEGER) AS approx_within_5pct
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // union_within_5pct is pinned: the oracle recomputes the exact side;
    // a drifting sketch union flips the Spark column and fails the hash.
    "q122_hll_union" -> """
      WITH o AS (
        SELECT concat(year(o_orderdate), '-Q', quarter(o_orderdate)) AS qtr,
          date_trunc('month', o_orderdate) AS mon, o_custkey
        FROM orders)
      SELECT qtr, CAST(count(DISTINCT mon) AS BIGINT) AS n_months,
        count(DISTINCT o_custkey) AS n_exact,
        CAST(1 AS INTEGER) AS union_within_5pct
      FROM o GROUP BY qtr ORDER BY qtr""",

    "q63_groups_frame" -> """
      SELECT o_orderkey, o_orderpriority,
        round(CAST(grp_sum AS DOUBLE) / 100.0, 2) AS grp_sum_dollars
      FROM (
        SELECT o_orderkey, o_orderpriority,
          sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
            PARTITION BY o_orderpriority ORDER BY grp
            RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS grp_sum
        FROM (
          SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderdate,
            dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate) AS grp
          FROM orders WHERE o_custkey <= 50) g) t
      ORDER BY o_orderkey""",

    "q64_exclude_current" -> """
      SELECT o_orderkey, o_orderstatus,
        round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
          PARTITION BY o_orderstatus
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
          EXCLUDE CURRENT ROW) AS DOUBLE) / 100.0, 2) AS others_total
      FROM orders WHERE o_custkey <= 50 ORDER BY o_orderkey""",

    "q65_shared_subtree" -> """
      WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1)
      SELECT m.month, round(CAST(m.cents AS DOUBLE) / 100.0, 2) AS total,
        round(CAST(m.cents - p.cents AS DOUBLE) / 100.0, 2) AS mom_delta
      FROM monthly m JOIN monthly p ON m.month = p.month + INTERVAL 1 MONTH
      ORDER BY m.month"""
  )
}

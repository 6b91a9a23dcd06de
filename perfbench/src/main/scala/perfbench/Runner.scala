package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.rules.{AqumvRule, RlsRule}

/** One benchmark run in one JVM: set-up, a cold pass, a warm-up pass, a
  * verification pass that dumps every query's result as parquet for the
  * oracle check, and a fixed number of measured passes. Every pass but the
  * verification records each query's row count. Raw samples go to a JSON
  * file; `perfbench/run.py` turns them into metrics.
  *
  * The program is driven only through `SparkEntry.queries(name)(spark,
  * sfDir)`, `queryExecution.executedPlan` and `queryExecution.toRdd`.
  * Spark is observed through its public listener APIs (see [[Tracer]]).
  *
  * Usage (all flags required unless noted):
  *   Runner --workload W --sf DIR --queries q1,q2,.. --seed N --passes P
  *          --trace 0|1 --out FILE --verify-dir DIR
  *          [--watch-derived 1] [--forget p1,p2,..]
  *   Runner --dump-oracle FILE   (every query's oracle SQL, null if none)
  *   Runner --build-once FILE --sf DIR   (graft.Bench's build-once steps:
  *          the time of each and the paths it creates)
  */
object Runner {
  val WorkdirMarker = ".perfbench-run"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: String, value: Any): Unit =
    Files.writeString(Paths.get(path), json.writeValueAsString(value))

  /** The session `graft.Bench` builds, with `cores` in place of its
    * SPARK_GRAFT_CPUS (default 32). */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `graft.Bench`'s per-query hygiene, copied verbatim. */
  def hygiene(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.conf.set("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    spark.conf.set("spark.graft.eageragg.enabled", "false")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    RlsRule.clearPolicies(spark)
    spark.conf.set(AqumvRule.EnabledConf, "false")
    AqumvRule.clear()
  }

  // AqumvRule keeps its registered matviews in a private map; the
  // hygiene check reads its size.
  private lazy val aqumvEntries: java.util.Map[_, _] = {
    val f = AqumvRule.getClass.getDeclaredFields.find(_.getName.endsWith("entries")).get
    f.setAccessible(true)
    f.get(AqumvRule).asInstanceOf[java.util.Map[_, _]]
  }

  /** Session state that hygiene must have removed. */
  def leftovers(spark: SparkSession): Seq[String] = {
    val persisted = spark.sparkContext.getPersistentRDDs.size
    Seq(
      Option.when(persisted > 0)(s"persisted_rdds:$persisted"),
      Option.when(!spark.sharedState.cacheManager.isEmpty)("cached_plans"),
      Option.when(!aqumvEntries.isEmpty)(s"aqumv_matviews:${aqumvEntries.size}"),
      Option.when(spark.conf.getAll.keys.exists(_.startsWith(RlsRule.ConfPrefix)))("rls_policies")
    ).flatten
  }

  /** Entries directly under target/derived/<sf tag>/ and spark-warehouse/
    * of the working directory: where queries and graft.Bench's build-once
    * steps put derived tables. */
  def derivedEntries(): Set[String] = {
    def under(dir: java.io.File): Seq[java.io.File] = Option(dir.listFiles()).toSeq.flatten
    val derived = under(new java.io.File("target/derived")).flatMap(under)
    (derived ++ under(new java.io.File("spark-warehouse"))).map(_.getPath).toSet
  }

  def loadAverage: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--dump-oracle")) {
      writeJson(argv(1), SparkEntry.queries.keys.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null)).toMap)
      return
    }
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    // Queries write target/derived and spark-warehouse under the working
    // directory: refuse to run anywhere but a fresh run directory.
    require(new java.io.File(WorkdirMarker).exists,
      s"run from a directory holding $WorkdirMarker (perfbench/run.py makes one)")
    if (args.contains("build-once")) {
      val spark = session(Runtime.getRuntime.availableProcessors)
      val steps = graft.perfbench.BuildOnce.steps.map { case (name, step) =>
        val before = derivedEntries()
        val t0 = Clock.now()
        step(spark, args("sf"))
        name -> Map("s" -> (Clock.now() - t0) / 1e9, "paths" -> (derivedEntries() -- before).toSeq.sorted)
      }
      spark.stop()
      writeJson(args("build-once"), steps.toMap)
      return
    }
    val loadStart = loadAverage
    val workload = args("workload")
    val sfDir = args("sf")
    val names = args("queries").split(",").toSeq
    val seed = args("seed").toLong
    val measuredPasses = args("passes").toInt
    val traced = args("trace") == "1"
    // Profiling: record the derived-table paths each query creates, and
    // delete the listed build-once paths before every cold-pass query, so
    // each query that reads one rebuilds it and shows as its reader.
    val watchDerived = args.get("watch-derived").contains("1")
    val forget = args.get("forget").toSeq.flatMap(_.split(",")).map(new java.io.File(_))
    val cores = Runtime.getRuntime.availableProcessors

    // Set-up, timed from JVM start to the first query being ready: JVM
    // start and class loading, the session, and resolving the workload's
    // query functions (which initializes the operator objects that hold
    // them). No workload query reads one of graft.Bench's build-once
    // derived tables (perfbench/subsets.py leaves them out), so set-up
    // builds none.
    val jvmStartNs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val spark = session(cores)
    val queries = names.map(n => n -> SparkEntry.queries(n))
    val setupS = (Clock.now() - jvmStartNs) / 1e9
    // The session's confs before any query runs (volatile ids and ports left out).
    val sessionConfs = spark.conf.getAll.filter { case (k, _) =>
      !k.startsWith("spark.app.") && !k.startsWith("spark.driver.") && k != "spark.executor.id"
    }.toSeq.sortBy(_._1).toMap
    val tracer = new Tracer(spark, cores)

    val verifyDir = args("verify-dir")
    val records = ArrayBuffer[Map[String, Any]]()
    val passes = ArrayBuffer[Map[String, Any]]()
    var violations = 0
    def runPass(pass: Int, phase: String, order: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
      val t0 = Clock.now()
      var ok = 0
      for ((name, fn) <- order) {
        val id = s"$workload/$seed/$pass/$name"
        val q = tracer.beginQuery(id)
        var error: String = null
        if (phase == "cold") forget.foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
        val derivedBefore = if (watchDerived) derivedEntries() else Set.empty[String]
        val start = Clock.now()
        var planned, executed = 0L
        var rows = -1L
        try {
          val df = tracer.span("operators.build")(fn(spark, sfDir))
          planned = Clock.now()
          tracer.span("rules.plan")(df.queryExecution.executedPlan)
          executed = Clock.now()
          rows = tracer.span("exec.action") {
            if (phase != "verify") df.queryExecution.toRdd.count()
            else { df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$name"); -1L }
          }
          tracer.addPhases(df.queryExecution)
        } catch {
          case e: Throwable =>
            error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
            System.err.println(s"[perfbench] $name FAILED: $error")
        }
        val done = Clock.now()
        if (planned == 0) planned = done
        if (executed == 0) executed = done
        tracer.beforeHygiene()
        tracer.span("harness.hygiene")(hygiene(spark))
        val left = leftovers(spark)
        violations += left.size
        val layers = tracer.endQuery(q)
        records += Map(
          "id" -> id, "pass" -> pass, "phase" -> phase, "query" -> name, "traced" -> traced,
          "ok" -> (error == null), "error" -> error, "rows" -> rows,
          "latency_s" -> (done - start) / 1e9, "build_s" -> (planned - start) / 1e9,
          "plan_s" -> (executed - planned) / 1e9, "exec_s" -> (done - executed) / 1e9,
          "hygiene_leftovers" -> left, "layers" -> layers,
          "derived_new" -> (if (watchDerived) (derivedEntries() -- derivedBefore).toSeq.sorted else Nil))
        if (error == null) ok += 1
      }
      passes += Map("pass" -> pass, "phase" -> phase, "wall_s" -> (Clock.now() - t0) / 1e9,
        "queries" -> ok, "attempted" -> order.size)
    }

    val rng = new Random(seed)
    var pass = 0
    if (traced) tracer.start()
    runPass(pass, "cold", rng.shuffle(queries))
    // JIT compilation of the query paths goes on past the cold pass: the
    // first warm pass runs ~30% and the second ~12% slower than the third
    // and later ones. So the two passes after the cold one are not
    // measured: a warm-up, and the verification pass, which writes each
    // result for the oracle check.
    pass += 1
    runPass(pass, "warmup", rng.shuffle(queries))
    pass += 1
    runPass(pass, "verify", rng.shuffle(queries))
    for (_ <- 1 to measuredPasses) { pass += 1; runPass(pass, "measured", rng.shuffle(queries)) }
    tracer.stop()

    // Retained heap: the smallest heap in use over a few full GCs outside
    // any timed span, after the last pass. Spark's ContextCleaner frees the
    // broadcasts and shuffles of finished queries on its own thread after a
    // GC finds them unreachable, so one GC alone reads high by a varying
    // amount; the polling stops once three readings agree within 1%.
    val heap = ManagementFactory.getMemoryMXBean
    val readings = ArrayBuffer[Double]()
    while (readings.size < 20 && (readings.size < 3 ||
        readings.takeRight(3).max > readings.min * 1.01)) {
      System.gc()
      Thread.sleep(100)
      readings += heap.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val heapMb = readings.min

    val verify = records.filter(_("phase") == "verify").map { r =>
      r("query") -> (if (r("ok") == true) "ok" else s"error: ${r("error")}")
    }.toMap

    val env = Map(
      "workload" -> workload, "seed" -> seed, "sf_dir" -> sfDir, "cores" -> cores,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAverage,
      "session_confs" -> sessionConfs)
    spark.stop()
    writeJson(args("out"), Map(
      "env" -> env, "setup_s" -> setupS, "passes" -> passes.toSeq,
      "queries" -> records.toSeq, "spans" -> tracer.spans,
      "retained_heap_mb" -> heapMb, "heap_readings_mb" -> readings.toSeq,
      "hygiene_violations" -> violations,
      "verify" -> verify))
  }
}

/** Wall clock in nanoseconds since the epoch, with nanoTime resolution,
  * so benchmark spans line up with Spark's millisecond event times. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + base
}

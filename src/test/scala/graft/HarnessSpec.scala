package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session state every main plans a query under: after
  * `Harness.hygiene` (between queries, which `Harness.run` calls whether
  * or not the query failed) and after `Harness.prepare`
  * (build-once DDL, before the first query) the session holds no spool,
  * no cached plan, no matview and no RLS policy, and the confs queries
  * flip sit at the bench's values — so no query is planned under
  * another query's, or a build-once step's, state. And the session's
  * wiring — functions, UDAFs, optimizer rules — comes from
  * `Tables.configure` alone, once, in one order.
  */
class HarnessSpec extends AnyFunSuite with TempDirs {
  import SparkSuite._
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  private val graftRules =
    Seq("BindExpensiveFilterRule", "RlsRule", "AqumvRule", "EagerAggRule")

  private def ruleNames(s: SparkSession): Seq[String] =
    s.experimental.extraOptimizations.map(_.getClass.getSimpleName.stripSuffix("$"))

  private def hasFunction(s: SparkSession, name: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  /** A session sharing the JVM's SparkContext and catalog but none of
    * SparkSuite's session state: no function, UDAF or rule installed. */
  private def unwired(): SparkSession = {
    val fresh = spark.newSession()
    assert(fresh.experimental.extraOptimizations.isEmpty)
    assert(!hasFunction(fresh, "vec_dot") && !hasFunction(fresh, "top3_pairs"))
    fresh
  }

  private val benchConfs = Map(
    "spark.sql.cbo.enabled" -> "false",
    "spark.sql.cbo.joinReorder.enabled" -> "false",
    rules.EagerAggRule.EnabledConf -> "false",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "true",
    rules.AqumvRule.EnabledConf -> "false")

  private def rlsConfs: Iterable[String] =
    spark.conf.getAll.keys.filter(_.startsWith(rules.RlsRule.ConfPrefix))

  private def assertBenchState(): Unit = {
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "a persisted RDD outlived its query")
    assert(spark.sharedState.cacheManager.isEmpty, "a cached plan outlived its query")
    assert(rules.AqumvRule.isEmpty, "an AQUMV matview outlived its query")
    assert(rlsConfs.isEmpty, s"RLS policies outlived their query: $rlsConfs")
    for ((k, v) <- benchConfs) assert(spark.conf.get(k) == v, s"$k")
  }

  test("hygiene clears what CBO, eager-agg, RLS, AQUMV, bucketing and spooling queries leave") {
    try {
      Seq("x01_cbo_reorder", "x03_eager_agg", "x07_rls_policy", "i10_aqumv_filter",
        "b01_bucketed_join", "ds44_best_worst")
        .foreach(n => SparkEntry.queries(n)(spark, Sf).queryExecution.toRdd.count())
      // each kind of state is really there before hygiene runs
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "ds44 spools")
      assert(!rules.AqumvRule.isEmpty, "i10 registers a matview")
      assert(rlsConfs.nonEmpty, "x07 registers a policy")
      for ((k, v) <- benchConfs)
        assert(spark.conf.getOption(k).exists(_ != v), s"$k is not flipped")
    } finally Harness.hygiene(spark)
    assertBenchState()
  }

  test("run returns a throwing query's error and still leaves the bench state") {
    val boom = new RuntimeException("boom")
    // x07 registers an RLS policy and i10 a matview before the action throws
    for (n <- Seq("x07_rls_policy", "i10_aqumv_filter")) {
      val r = Harness.run(spark, Sf, n, { df => Harness.execute(df); throw boom })
      assert(r.result == Left(boom), n)
      assert(r.seconds > 0, n)
      assertBenchState()
    }
    val missing = Harness.run(spark, "/nonexistent/sf", "q01_pricing_summary")
    assert(missing.result.isLeft)
    assertBenchState()
  }

  test("Verify deletes a query's earlier dump before it runs, and reports the failure") {
    val out = tempDir("graft_verify").toFile
    val stale = new java.io.File(out, "q01_pricing_summary")
    assert(new java.io.File(stale, "part-0.parquet").mkdirs())
    val failed = Verify.dump(spark, "/nonexistent/sf", out.getPath, Seq("q01_pricing_summary"))
    assert(failed == Seq("q01_pricing_summary"))
    assert(!stale.exists(), "a failed query left an earlier run's output behind")
    assertBenchState()
  }

  test("prepare leaves the same state: no build-once setting reaches the first query") {
    Harness.prepare(spark, Sf)
    assertBenchState()
  }

  test("r07 releases each peel round's spools once the next round's are built") {
    Harness.hygiene(spark)
    try {
      SparkEntry.queries("r07_kcore")(spark, Sf)
      val live = spark.sparkContext.getPersistentRDDs.size
      assert(live <= 2, s"$live spools live after r07's builder: every round's edges/deg kept")
    } finally Harness.hygiene(spark)
  }

  test("r02 and er01 release each label round's spool once the next round's is built") {
    for (q <- Seq("r02_connected_dedup", "er01_entity_clusters")) {
      Harness.hygiene(spark)
      try {
        SparkEntry.queries(q)(spark, Sf)
        val live = spark.sparkContext.getPersistentRDDs.size
        assert(live <= 2, s"$live spools live after $q's builder: every label round kept")
      } finally Harness.hygiene(spark)
    }
  }

  test("a wired session resolves every PG function and graft UDAF by name") {
    assert(functions.PgFunctions.builders.map(_._1).toSet ==
      Set("pg_to_char", "pg_to_number", "pg_age", "pg_to_char_ts",
        "pg_to_timestamp", "string_to_array", "generate_series", "pg_format",
        "vec_dot", "vec_l2sq", "vec_doti", "vec_signbucket",
        "sorted_intersect_count",
        "str_hash31", "str_hash131",
        "svec_dot", "porter_stem", "unicode_normalize", "pair_emit",
        "pair_emit_sized", "pair_emit_sized_all", "winnow_fps", "crc24",
        "word_census", "word_stats",
        "frame_sums", "frame_energy", "scene_census", "voiced_runs",
        "french_stem", "russian_stem",
        "pgp_sym_encrypt_det",
        "metaphone", "daitch_mokotoff",
        "char_grams", "jump_hash", "word_grams31",
        "pgp_sym_encrypt", "pgp_sym_decrypt", "pgp_sym_decrypt_ok",
        "aes_cfb128"))
    val udafs = Seq("top3_pairs", "top5_pairs", "top8_pairs", "mg64",
      "hyp_rank", "hyp_percent_rank", "hyp_cume_dist")
    val missing = (functions.PgFunctions.builders.map(_._1) ++ udafs)
      .filterNot(hasFunction(spark, _))
    assert(missing.isEmpty, s"not registered in the wired session: $missing")
    assert(ruleNames(spark) == graftRules)
  }

  test("a base table's schema from its footer equals spark.read.parquet's inference") {
    val data = new java.io.File(Sf).getParent
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); name <- Tables.names) {
      val path = s"$data/$sf/$name.parquet"
      assert(Tables.footers(spark, path).schema == spark.read.parquet(path).schema, path)
    }
  }

  test("footer schema and row count equal Spark's for single-file and directory tables") {
    for (name <- Tables.names) {
      val path = s"$Sf/$name.parquet"
      assert(Tables.rows(spark, Sf, name) == spark.read.parquet(path).count(), path)
    }
    // a directory of part files as df.write.parquet leaves it (_SUCCESS,
    // .crc files beside the data); a file source reads every column as
    // nullable, whatever the footer says, so compare what Tables.df reads
    val base = tempDir("graft_footers").toString
    val dir = s"$base/t.parquet"
    spark.range(0, 1000, 1, 3).selectExpr("id", "CAST(id % 7 AS INT) AS m", "CAST(id AS STRING) AS s")
      .repartition(4).write.parquet(dir)
    val files = new java.io.File(dir).list.toSeq
    assert(files.contains("_SUCCESS") && files.count(_.endsWith(".parquet")) >= 2, files)
    assert(Tables.df(spark, base, "t").schema == spark.read.parquet(dir).schema)
    assert(Tables.rows(spark, base, "t") == 1000L && spark.read.parquet(dir).count() == 1000L)
  }

  test("every SparkEntry query builds in a fresh, unwired session") {
    // the plain-session case: a caller that builds its own session (no
    // Harness.session) and resolves queries through SparkEntry.queries
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val fresh = unwired()
      try { q(fresh, Sf); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(200)}") }
      finally Harness.hygiene(fresh)
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("each graft rule is installed once, in one order, whichever query runs first") {
    val rlsFirst = Seq("x07_rls_policy", "i03_aqumv", "x03_eager_agg")
    for (order <- Seq(rlsFirst, rlsFirst.reverse, rlsFirst.tail :+ rlsFirst.head)) {
      val fresh = unwired()
      try {
        order.foreach(n => SparkEntry.queries(n)(fresh, Sf).queryExecution.toRdd.count())
        assert(ruleNames(fresh) == graftRules, s"after ${order.mkString(", ")}")
      } finally Harness.hygiene(fresh)
    }
  }

  test("hygiene leaves the session wiring intact") {
    val rules = spark.experimental.extraOptimizations
    try SparkEntry.queries("x07_rls_policy")(spark, Sf).queryExecution.toRdd.count()
    finally Harness.hygiene(spark)
    assert(spark.experimental.extraOptimizations == rules)
    assert(ruleNames(spark) == graftRules)
    assert(hasFunction(spark, "vec_dot") && hasFunction(spark, "top3_pairs"))
    assert(spark.conf.get("spark.graft.configured") == "true")
  }
}

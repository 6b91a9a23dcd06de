package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session state every main plans a query under: after
  * `Harness.hygiene` (between queries) and after `Harness.prepare`
  * (build-once DDL, before the first query) the session holds no spool,
  * no cached plan, no matview and no RLS policy, and the confs queries
  * flip sit at the bench's values — so no query is planned under
  * another query's, or a build-once step's, state.
  */
class HarnessSpec extends AnyFunSuite {
  import SparkSuite._

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
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared test SparkSession (one per forked test JVM) + helpers.
  * Mirrors the reference's regress fixture setup
  * (`src/test/regress/greenplum_schedule`): every suite runs against the
  * same catalog of base tables, here the sf0.001 parquet set.
  */
object SparkSuite {
  val Sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = Harness.session("8")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Execute the query, then render the FINAL adaptive plan (AQE only
    * settles join strategies after execution). */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }
}

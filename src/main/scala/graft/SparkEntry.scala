package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (SURVEY.md §2) re-expressed
  * Spark-first; `oracleSql` is the DuckDB-equivalent ANSI SQL the driver
  * uses as a correctness oracle at sf0.01. Every query aliases its
  * computed columns identically on both sides and rounds floating-point
  * aggregates so cross-engine summation order can't flip a hash.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1: scan → filter → partial/final hash agg → sort. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    (operators.Relational.queries, operators.Relational.oracle),
    (operators.TpcH.queries, operators.TpcH.oracle),
    (operators.TpcDs.queries, operators.TpcDs.oracle),
    (operators.Analytics.queries, operators.Analytics.oracle),
    (operators.Events.queries, operators.Events.oracle),
    (operators.TextOps.queries, operators.TextOps.oracle),
    (operators.Chunking.queries, operators.Chunking.oracle),
    (operators.FullText.queries, operators.FullText.oracle),
    (operators.Dedup.queries, operators.Dedup.oracle),
    (operators.Similarity.queries, operators.Similarity.oracle),
    (operators.Multimodal.queries, operators.Multimodal.oracle),
    (operators.Recursive.queries, operators.Recursive.oracle),
    (operators.Partitioned.queries, operators.Partitioned.oracle),
    (operators.PgCompat.queries, operators.PgCompat.oracle),
    (operators.Json.queries, operators.Json.oracle),
    (operators.Ingest.queries, operators.Ingest.oracle),
    (operators.OrderedSet.queries, operators.OrderedSet.oracle),
    (operators.Extras.queries, operators.Extras.oracle),
    (operators.Incremental.queries, operators.Incremental.oracle),
    (operators.Bucketed.queries, operators.Bucketed.oracle),
    (operators.Stats.queries, operators.Stats.oracle),
    (operators.Sparse.queries, operators.Sparse.oracle),
    (operators.Network.queries, operators.Network.oracle),
    (operators.Geo.queries, operators.Geo.oracle),
    (operators.Bits.queries, operators.Bits.oracle),
    (operators.Fuzzy.queries, operators.Fuzzy.oracle),
    (operators.Ltree.queries, operators.Ltree.oracle),
    (operators.IntArray.queries, operators.IntArray.oracle),
    (operators.DataQuality.queries, operators.DataQuality.oracle),
    (operators.EntityResolution.queries, operators.EntityResolution.oracle),
    (operators.Trgm.queries, operators.Trgm.oracle),
    (operators.Orafce.queries, operators.Orafce.oracle),
    (operators.Crypto.queries, operators.Crypto.oracle),
    (operators.CubeOps.queries, operators.CubeOps.oracle),
    (operators.Identifiers.queries, operators.Identifiers.oracle),
    (operators.Ml.queries, operators.Ml.oracle),
    (operators.GpDdl.queries, operators.GpDdl.oracle),
    (operators.DirTable.queries, operators.DirTable.oracle),
    (operators.Hints.queries, operators.Hints.oracle),
    (operators.Federated.queries, operators.Federated.oracle)
  )

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * wires its session first (`Tables.configure`, a conf check once
    * done), so a plain session a caller built itself runs every query. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.flatMap(_._1).map { case (name, q) =>
      name -> { (spark: SparkSession, sf: String) => Tables.configure(spark); q(spark, sf) }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    modules.iterator.flatMap(_._2).toMap
}

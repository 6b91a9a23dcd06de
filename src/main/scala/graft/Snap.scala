package graft

/** Ad-hoc snapshot capture: prints rows + columns for the named queries
  * at sf0.001 so QueriesSpec's snapshot map can be updated in lockstep
  * with new query commits. Usage: runMain graft.Snap name1 name2 ... */
object Snap {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("8")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sf)
      println(s"""SNAP|$n|${df.count()}|${df.columns.mkString(",")}""")
      Harness.hygiene(spark) // as QueriesSpec resets after each query
    }
    spark.stop()
  }
}

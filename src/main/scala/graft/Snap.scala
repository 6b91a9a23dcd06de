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
    val failed = names.filter { n =>
      Harness.run(spark, sf, n, df => println(s"""SNAP|$n|${df.count()}|${df.columns.mkString(",")}"""))
        .result.isLeft
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

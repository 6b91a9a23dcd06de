package graft

/** Single-query profiler: times one named SparkEntry query N times at a
  * given SF dir and prints the executed plan, so a slow bench entry can
  * be attributed to plan cost vs environment noise without a full sweep.
  *
  * Usage: runMain graft.Prof <sfDir> <queryName>[,name2,...] [passes=3] [--plan]
  *
  * Several comma-separated names share one JVM: each pass sweeps all of
  * them in order (so the two measurements of a query are separated in
  * time, like Bench's two-sweep rule), and the per-query summary prints
  * min of passes 2+ — pass 1 absorbs codegen/JIT warmup.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val passes = args.drop(2).find(!_.startsWith("--")).map(_.toInt).getOrElse(3)
    val showPlan = args.contains("--plan")
    val spark = Harness.session()
    val names = name.split(",").toSeq
    val fns = names.map(n => n -> SparkEntry.queries(n))
    // same build-once DDL the bench runs outside its timed loop
    Harness.prepare(spark, sfDir)
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    for (i <- 1 to passes; (n, fn) <- fns) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      times(n) = times.getOrElse(n, Nil) :+ dt
      println(f"[prof] $n pass$i: $dt%.3f s")
      Harness.hygiene(spark)
    }
    for (n <- names; ts <- times.get(n); if ts.size > 1)
      println(f"[prof] $n idle_min_p2plus: ${ts.drop(1).min}%.3f s  raw: ${ts.map(t => f"$t%.3f").mkString("/")}")
    if (showPlan) fns.foreach { case (n, fn) =>
      println(s"== plan: $n ==")
      println(fn(spark, sfDir).queryExecution.executedPlan.toString)
      Harness.hygiene(spark)
    }
    spark.stop()
  }
}

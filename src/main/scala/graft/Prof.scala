package graft

/** Idle profiler: times named SparkEntry queries over N passes at a given
  * SF dir, so a slow bench entry can be attributed to plan cost vs
  * environment noise without a full sweep, and a conf change can be
  * A/B'd in one JVM. `graft.PlanExplain` dumps the plans.
  *
  * Usage: runMain graft.Prof <sfDir> <queryName>[,name2,...] [passes=3] [--conf key=valueA,valueB]
  *
  * Runs `Harness.prepare` first, then `Harness.sweeps`: each pass sweeps
  * every name in order (so the passes of a query are separated in time,
  * like Bench's two-sweep rule), and the per-query summary prints min of
  * passes 2+ — pass 1 absorbs codegen/JIT warmup. With `--conf`, each
  * pass runs the batch once per value of the conf, ALTERNATING the arms
  * in one JVM so session drift can't masquerade as a delta (the
  * q71-fusion / ds65-spool protocol, PROF_r14 §3b, PROF_r16).
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val passes = args.lift(2).filterNot(_.startsWith("--")).fold(3)(_.toInt)
    val arms = args.indexOf("--conf") match {
      case -1 => Seq(Map.empty[String, String])
      case i =>
        val Array(key, values) = args(i + 1).split("=", 2)
        values.split(",").toSeq.map(v => Map(key -> v))
    }
    val spark = Harness.session()
    // same build-once DDL the bench runs outside its timed loop
    Harness.prepare(spark, sfDir)
    val cells = for (arm <- arms; n <- names) yield Harness.Cell(sfDir, n, arm)
    val times = Harness.sweeps(spark, cells, passes)
    for (c <- cells; ts = times(c) if ts.size > 1) {
      val arm = c.conf.map { case (k, v) => s" $k=$v" }.mkString
      println(f"[prof] ${c.name}$arm idle_min_p2plus: ${Harness.official(ts.drop(1))}%.3f s  raw: " +
        ts.map(t => f"$t%.3f").mkString("/"))
    }
    spark.stop()
    if (times.values.exists(_.exists(_ < 0))) sys.exit(1)
  }
}

package graft

/** Alternating A/B harness — the q71-fusion / ds65-spool protocol
  * (PROF_r14 §3b, PROF_r16) as a committed tool: run one named query
  * under two values of a SQL conf, ALTERNATING passes in ONE JVM so
  * session drift can't masquerade as a delta. Pass 1 of each arm is
  * JVM/codegen warmup; read the min (and the pattern) of passes 2+.
  *
  * Usage: runMain graft.AB <sfDir> <query> <confKey> <valueA> <valueB> [passes=6]
  */
object AB {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name, key, va, vb) = args.take(5)
    val passes = if (args.length > 5) args(5).toInt else 6
    val spark = Harness.session()
    val fn = SparkEntry.queries(name)
    val times = Map("A" -> scala.collection.mutable.ArrayBuffer.empty[Double],
                    "B" -> scala.collection.mutable.ArrayBuffer.empty[Double])
    for (i <- 1 to passes; (arm, v) <- Seq("A" -> va, "B" -> vb)) {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      times(arm) += dt
      println(f"[ab] $name $arm($key=$v) pass$i: $dt%.3f s")
      Harness.hygiene(spark)
    }
    for ((arm, ts) <- times.toSeq.sortBy(_._1))
      println(f"[ab] $name $arm min(passes 2+): ${ts.drop(1).min}%.3f s  all: " +
        ts.map(t => f"$t%.3f").mkString("/"))
    spark.stop()
  }
}

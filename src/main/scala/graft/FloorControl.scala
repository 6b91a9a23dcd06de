package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exchange-floor control — the PROF_r14 §2 measurement, committed as
  * auditable code in r15. Times an E-exchange chain of TRIVIAL compute
  * (count/sum/join/sort — no text, no arrays, no kernels) at local[32]
  * over the d02-control cardinality (260 k rows, 27 k keys), measuring
  * the pure fixed per-exchange latency (task scheduling, shuffle
  * write/read, 32 partitions). The result is the floor(E) term of the
  * weak-query exit criterion
  *
  *   spark_idle ≤ 2 × duckdb_idle + floor(E)
  *
  * (E = the query's own exchange count). The chain's ACTUAL Exchange
  * count is read from the executed plan and printed next to every
  * timing, so the control's E is audited from the plan, not claimed.
  *
  * Usage: runMain graft.FloorControl <E> [passes=5] [rows=260000] [keys=27000]
  */
object FloorControl {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println(
        "usage: runMain graft.FloorControl <E> [passes=5] [rows=260000] [keys=27000]")
      sys.exit(2)
    }
    val e = args(0).toInt
    require(e >= 3, "chain needs >= 3 exchanges (groupBy + join + sort)")
    val passes = if (args.length > 1) args(1).toInt else 5
    val rows = if (args.length > 2) args(2).toLong else 260000L
    val keys = if (args.length > 3) args(3).toInt else 27000
    val spark = Harness.session()
    // the control's join must exchange like a real fact join would,
    // not collapse to a broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // X1: fact-cardinality groupBy; X2..: key-remapped re-aggregations
    // (each remap forces a fresh hash exchange); then a non-broadcast
    // join (both sides' exchanges counted by the plan audit) and a
    // global sort (range exchange + sampling pass) — the op mix of the
    // d-family pipelines the criterion was written for.
    def chain(): DataFrame = {
      val base = spark.range(rows).select(
        (col("id") % keys).as("k"), ((col("id") * 31) % 997).as("v"))
      var df = base.groupBy("k").agg(sum("v").as("v"), count(lit(1)).as("n"))
      for (i <- 2 to e - 3)
        df = df.select(((col("k") * 31 + i) % keys).as("k"), col("v"), col("n"))
          .groupBy("k").agg(sum("v").as("v"), sum("n").as("n"))
      val other = base.groupBy("k").agg(max("v").as("m"))
      df.join(other, Seq("k")).orderBy(desc("v"), col("k"))
    }
    val exch = "Exchange".r
      .findAllIn(chain().queryExecution.executedPlan.toString).length
    // The summary is keyed on the PLAN-AUDITED exchange count, not the
    // requested E: the chain loop (2 to e-3) is empty for both e=3 and
    // e=4, so e=4 would otherwise label a 3-exchange plan E=4 and a
    // floor(E) reading keyed on the label would use the wrong E.
    if (exch != e)
      println(s"[floor] WARNING: requested E=$e but executed plan has " +
        s"$exch exchanges — summary keyed on the audited count")
    val times = (1 to passes).map { i =>
      val t0 = System.nanoTime()
      chain().queryExecution.toRdd.count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[floor] E=$exch pass$i: $t%.3f s (requested: $e)")
      t
    }
    println(f"[floor] E=$exch plan_exchanges=$exch steady=${times.drop(1).min}%.3f s")
    spark.stop()
  }
}

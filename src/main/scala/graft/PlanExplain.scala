package graft

import org.apache.spark.graft.ListenerBus
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the before/after plan evidence an optimization round commits
  * (plans/r{N}/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanExplain <sfDir> <outDir> <suffix> <q1,q2,...>
  *
  * Writes <outDir>/<query>_<suffix>.txt. Uses Bench's session, build-once
  * step and `Harness.run`, so the plans match what the bench executes.
  * It is the one plan-text dump. The formatted plan is the INITIAL plan (AQE
  * isFinalPlan=false) plus, appended, the post-execution final plan
  * string — both shapes matter: the initial one shows join strategy /
  * pushdown decisions, the final one shows what AQE actually ran.
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    val spark = Harness.session()
    Harness.prepare(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // r18 verdict #6: changes upstream of a localCheckpoint were invisible
    // in the dumped final plan (the spool truncates lineage — the ds64 and
    // er01 after-dumps were byte-equal to the before-dumps). Capture every
    // INTERMEDIATE action the query function runs while building its
    // result — spool materializations (localCheckpoint), fixpoint counts —
    // via a QueryExecutionListener, and append their executed plans.
    val spoolPlans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        spoolPlans.add((funcName, qe.executedPlan.toString))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val failed = names.filter { name =>
      // listener events are delivered async on the listener bus: drain it
      // so earlier work's events (build-once, the previous query) are
      // dropped, and again so every build-phase action has landed before
      // snapshotting
      ListenerBus.drain(spark.sparkContext)
      spoolPlans.clear()
      Harness.run(spark, sfDir, name, { df =>
        ListenerBus.drain(spark.sparkContext)
        val built = {
          import scala.jdk.CollectionConverters._
          spoolPlans.asScala.toVector
        }
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Harness.execute(df) // settle AQE
        val finalPlan = df.queryExecution.executedPlan.toString
        val buildSection =
          if (built.isEmpty) ""
          else built.zipWithIndex.map { case ((fn, p), i) =>
            s"== build-phase action ${i + 1}/${built.size} ($fn) ==\n$p\n"
          }.mkString
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
          s"== explain(formatted), initial plan ==\n$formatted\n" +
            s"== executed plan after AQE ==\n$finalPlan\n" + buildSection)
        println(s"[plan] wrote $outDir/${name}_$suffix.txt" +
          (if (built.nonEmpty) s" (+${built.size} build-phase plans)" else ""))
      }).result.isLeft
    }
    spark.listenerManager.unregister(listener)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

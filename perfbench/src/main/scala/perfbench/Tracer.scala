package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments. Spans are recorded around the
  * benchmark's own calls into each layer; Spark's jobs, stages and tasks
  * come from a SparkListener, Catalyst phases of every action from a
  * QueryExecutionListener, codegen from CodeGenerator's counters, and the
  * graft optimizer rules from RuleExecutor's metering. The listener bus is
  * drained at each query boundary, so every event is charged to its query.
  *
  * Until `start`, the tracer registers no listener and records nothing:
  * `span` then only runs its body.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val events = new Events
  private val actions = new Actions
  private var registered = false

  val spans = ArrayBuffer[Map[String, Any]]()
  private var nextId = 0
  private var current: Query = null

  def start(): Unit = if (!registered) {
    sc.addSparkListener(events)
    spark.listenerManager.register(actions)
    registered = true
  }

  def stop(): Unit = if (registered) {
    ListenerBusDrain(sc)
    sc.removeSparkListener(events)
    spark.listenerManager.unregister(actions)
    registered = false
  }

  final class Query(val id: String, val spanId: Int, val start: Long,
                    val compileNs: Long, val compiles: Long, val rules: (Long, Long)) {
    val children = ArrayBuffer[(String, Int, Long, Long)]()
    var phaseNs = 0L
    var spools = 0
    var spoolBytes = 0L
    var tracerNs = 0L
  }

  def beginQuery(id: String): Query = {
    current = null
    if (!registered) return null
    val t0 = System.nanoTime()
    ListenerBusDrain(sc)
    events.take(); actions.take()
    nextId += 1
    current = new Query(id, nextId, Clock.now(), CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, graftRuleMeter())
    current.tracerNs = System.nanoTime() - t0
    current
  }

  def span[T](name: String)(body: => T): T = {
    val q = current
    if (q == null) return body
    nextId += 1
    val id = nextId
    val t0 = Clock.now()
    try body finally q.children += ((name, id, t0, Clock.now()))
  }

  /** Catalyst phases of the benchmark's own action, which does not pass
    * through the QueryExecutionListener. */
  def addPhases(qe: QueryExecution): Unit =
    if (current != null) current.phaseNs += phaseNs(qe)

  /** Spools the query still holds when its action returns. */
  def beforeHygiene(): Unit = if (current != null) {
    val t0 = System.nanoTime()
    current.spools = sc.getPersistentRDDs.size
    current.spoolBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    current.tracerNs += System.nanoTime() - t0
  }

  /** Closes the query's spans and returns its per-layer record. */
  def endQuery(q: Query): Map[String, Any] = {
    if (q == null) return Map.empty
    current = null
    val end = Clock.now()
    val t0 = System.nanoTime()
    ListenerBusDrain(sc)
    val ev = events.take()
    val (nActions, actionPhaseNs) = actions.take()
    val (ruleNs, ruleEffective) = graftRuleMeter()
    val child = q.children.map(c => c._1 -> c).toMap
    def spanOf(name: String) = child.get(name).map(c => (c._3, c._4)).getOrElse((q.start, q.start))
    def seconds(span: (Long, Long)) = (span._2 - span._1) / 1e9
    val build = spanOf("operators.build")
    val queryEnd = child.get("harness.hygiene").map(_._3).getOrElse(end)

    val jobs = ev.jobs.map { case (jid, s, e) => (jid, s * 1000000L, (if (e > 0) e else end / 1000000L) * 1000000L) }
    def jobUnion(lo: Long, hi: Long): Double = union(jobs.map(j => (math.max(j._2, lo), math.min(j._3, hi)))) / 1e9

    spans += Map("id" -> q.spanId, "parent" -> null, "name" -> "query", "query_id" -> q.id,
      "start_ns" -> q.start, "end_ns" -> end)
    q.children.foreach { case (name, id, s, e) =>
      spans += Map("id" -> id, "parent" -> q.spanId, "name" -> name, "query_id" -> q.id,
        "start_ns" -> s, "end_ns" -> e)
    }
    jobs.foreach { case (jid, s, e) =>
      val parent = q.children.filter(c => c._3 <= s && s <= c._4).sortBy(c => c._4 - c._3)
        .headOption.map(_._2).getOrElse(q.spanId)
      spans += Map("id" -> s"job-${q.spanId}-$jid", "parent" -> parent, "name" -> "scheduler.job",
        "query_id" -> q.id, "start_ns" -> s, "end_ns" -> e)
    }

    val latencyS = (queryEnd - q.start) / 1e9
    val jobS = jobUnion(q.start, queryEnd)
    val buildS = seconds(build)
    val mb = 1048576.0
    Map(
      "operators.build_s" -> buildS,
      "operators.build_self_s" -> (buildS - jobUnion(build._1, build._2)),
      "operators.build_jobs" -> jobs.count(j => build._1 <= j._2 && j._2 <= build._2),
      "operators.spools_at_end" -> q.spools,
      "operators.spool_mb_at_end" -> q.spoolBytes / mb,
      "rules.plan_s" -> seconds(spanOf("rules.plan")),
      "rules.phase_s" -> (q.phaseNs + actionPhaseNs) / 1e9,
      "rules.actions" -> nActions,
      "rules.graft_rule_s" -> (ruleNs - q.rules._1) / 1e9,
      "rules.graft_rule_effective" -> (ruleEffective - q.rules._2),
      "codegen.compile_s" -> (CodeGenerator.compileTime - q.compileNs) / 1e9,
      "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - q.compiles),
      "scheduler.jobs" -> jobs.size,
      "scheduler.stages" -> ev.stages,
      "scheduler.tasks" -> ev.tasks,
      "scheduler.failed_tasks" -> ev.failedTasks,
      "scheduler.job_s" -> jobS,
      "scheduler.outside_jobs_s" -> (latencyS - jobS),
      "scheduler.task_overhead_s" -> ev.overheadMs / 1e3,
      "exec.task_run_s" -> ev.runMs / 1e3,
      "exec.task_cpu_s" -> ev.cpuNs / 1e9,
      "exec.gc_s" -> ev.gcMs / 1e3,
      "exec.core_busy_frac" -> (if (jobS > 0) ev.runMs / 1e3 / (jobS * cores) else 0.0),
      "shuffle.write_mb" -> ev.shuffleWrite / mb,
      "shuffle.read_mb" -> ev.shuffleRead / mb,
      "shuffle.fetch_wait_s" -> ev.fetchWaitMs / 1e3,
      "shuffle.spill_mb" -> ev.spill / mb,
      "sources.read_mb" -> ev.readBytes / mb,
      "sources.read_rows" -> ev.readRows,
      "sources.write_mb" -> ev.writeBytes / mb,
      "sources.write_rows" -> ev.writeRows,
      // the tracer's own time on the query thread: drains, snapshots, spans
      "trace.tracer_s" -> (q.tracerNs + System.nanoTime() - t0) / 1e9)
  }
}

object Tracer {
  /** Names of the program's own optimizer rules, as RuleExecutor meters them. */
  val GraftRules = Set("graft.rules.EagerAggRule", "graft.rules.AqumvRule",
    "graft.rules.BindExpensiveFilterRule", "graft.rules.RlsRule")

  private val RuleLine = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r

  /** (total time ns, effective runs) of the graft rules since JVM start,
    * from RuleExecutor's rule metering table. */
  def graftRuleMeter(): (Long, Long) =
    RuleExecutor.dumpTimeSpent().linesIterator.foldLeft((0L, 0L)) {
      case ((t, n), RuleLine(rule, _, total, effective, _)) if GraftRules(rule) =>
        (t + total.toLong, n + effective.toLong)
      case (acc, _) => acc
    }

  def phaseNs(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(_.durationMs).sum * 1000000L

  /** Length of the union of [start, end) intervals, in the intervals' unit. */
  def union(intervals: Iterable[(Long, Long)]): Long = {
    var total, reach = 0L
    var started = false
    intervals.filter(i => i._2 > i._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > reach) { total += e - s; reach = e; started = true }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }

  /** Counters of one query's Spark events; replaced on every `take`. */
  final class Counts {
    val jobs = ArrayBuffer[(Int, Long, Long)]()
    var stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, overheadMs = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var readBytes, readRows, writeBytes, writeRows = 0L
  }

  final class Events extends SparkListener {
    private var c = new Counts
    def take(): Counts = synchronized { val out = c; c = new Counts; out }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      c.jobs += ((e.jobId, e.time, 0L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val i = c.jobs.indexWhere(_._1 == e.jobId)
      if (i >= 0) c.jobs(i) = c.jobs(i).copy(_3 = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      c.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        // Spark UI's scheduler delay, plus deserialization and result
        // serialization: the per-task cost outside the task body.
        val own = m.executorDeserializeTime + m.resultSerializationTime
        val delay = math.max(0L, e.taskInfo.duration - m.executorRunTime - own -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L))
        c.overheadMs += delay + own
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.diskBytesSpilled
        c.readBytes += m.inputMetrics.bytesRead
        c.readRows += m.inputMetrics.recordsRead
        c.writeBytes += m.outputMetrics.bytesWritten
        c.writeRows += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Dataset actions a query's build runs (spools, collects, counts). */
  final class Actions extends QueryExecutionListener {
    private var n = 0L
    private var ns = 0L
    def take(): (Long, Long) = synchronized { val out = (n, ns); n = 0; ns = 0; out }
    private def add(qe: QueryExecution): Unit = synchronized { n += 1; ns += phaseNs(qe) }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  }
}

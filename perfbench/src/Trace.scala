package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAccumulator, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.{AsOfJoinExec, BroadcastAsOfJoinExec, BroadcastIntervalJoinExec, IntervalJoinExec}

/** Counters every run keeps, traced or not: the two end-to-end figures
  * that only task metrics carry. One `onTaskEnd` per task adds two numbers;
  * Spark's own status listener does far more on the same event. */
final class E2eCounters extends SparkListener {
  val shuffleWriteBytes = new LongAdder
  val peakExecMem = new LongAccumulator(math.max(_: Long, _: Long), 0L)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) {
      shuffleWriteBytes.add(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
      peakExecMem.accumulate(t.taskMetrics.peakExecutionMemory)
    }

  def reset(): Unit = { shuffleWriteBytes.reset(); peakExecMem.reset() }
}

/** A span: one timed interval at a layer boundary. Spans of one query share
  * `query`; `parent` is the id of the span that caused this one (0 = none).
  * Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, query: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty)

object Trace {
  /** Local properties the harness sets around each query; Spark copies them
    * into every job submitted from that thread. */
  val QueryProp = "perfbench.query"
  val PhaseProp = "perfbench.phase"

  /** Every node of an executed plan, looking through adaptive wrappers,
    * query stages, reused exchanges and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case s: QueryStageExec => planNodes(s.plan)
      case r: ReusedExchangeExec => planNodes(r.child)
      case _ => p.children.flatMap(planNodes)
    }
    p +: (inner ++ p.subqueries.flatMap(planNodes))
  }

  /** The engine's native as-of and interval join execs. */
  def isNativeJoin(p: SparkPlan): Boolean = p match {
    case _: AsOfJoinExec | _: BroadcastAsOfJoinExec | _: IntervalJoinExec |
        _: BroadcastIntervalJoinExec => true
    case _ => false
  }

  /** Block until queued listener events are delivered. The bus is
    * `private[spark]` in source but public in bytecode. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Per-query layer accounting for traced passes.
  *
  * Jobs are attributed to a query and to its build or consume phase by the
  * local properties set on the submitting thread; stages and tasks follow
  * their job. Query-execution events carry no properties, so they are
  * attributed to the query the harness marks as current: the harness drains
  * the bus at the end of every query, before it marks the next one. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Trace._

  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile var current: String = ""
  /** Span ids of the current query ("query") and its "build" and
    * "consume" phases. */
  @volatile var phaseSpan: Map[String, Long] = Map.empty

  final class Task(val launch: Long, val finish: Long, val m: org.apache.spark.executor.TaskMetrics)
  final class StageRec(val query: String, val jobSpan: Long) {
    var numTasks = 0
    var readsShuffle = false
    val tasks = mutable.ArrayBuffer.empty[Task]
  }
  final class QueryRec {
    var jobs = 0; var eagerJobs = 0; var stages = 0
    var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
    var planNodes = 0L; var nativeExecs = 0L; var nativeRows = 0L
    var sweepSpillBytes = 0L; var prefixScanned = 0L
  }

  private val stageRecs = new ConcurrentHashMap[Int, StageRec]()
  /** Open jobs: job id -> (span id, query, phase span id, start ms). */
  private val jobSpans = new ConcurrentHashMap[Int, (Long, String, Long, Long)]()
  val queries = new ConcurrentHashMap[String, QueryRec]()
  private def rec(q: String): QueryRec = queries.computeIfAbsent(q, _ => new QueryRec)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val q = props.flatMap(p => Option(p.getProperty(QueryProp))).getOrElse("")
    if (q.nonEmpty) {
      val phase = props.map(_.getProperty(PhaseProp, "")).getOrElse("")
      val r = rec(q)
      r.synchronized {
        r.jobs += 1
        if (phase == "build") r.eagerJobs += 1
      }
      val id = nextId()
      jobSpans.put(e.jobId, (id, q, phaseSpan.getOrElse(phase, 0L), e.time))
      e.stageInfos.foreach(s => stageRecs.putIfAbsent(s.stageId, new StageRec(q, id)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpans.remove(e.jobId)).foreach { case (id, q, parent, start) =>
      spans.add(Span(id, parent, q, "job", start * 1000, e.time * 1000,
        Map("job_id" -> e.jobId)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Option(stageRecs.get(s.stageId)).foreach { r =>
      r.synchronized { r.numTasks = s.numTasks }
      val q = rec(r.query)
      q.synchronized { q.stages += 1 }
      spans.add(Span(nextId(), r.jobSpan, r.query, "stage",
        s.submissionTime.getOrElse(0L) * 1000, s.completionTime.getOrElse(0L) * 1000,
        Map("stage_id" -> s.stageId, "tasks" -> s.numTasks)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageRecs.get(e.stageId)).foreach { r =>
      if (e.taskMetrics != null) r.synchronized {
        r.tasks += new Task(e.taskInfo.launchTime, e.taskInfo.finishTime, e.taskMetrics)
        if (e.taskMetrics.shuffleReadMetrics.totalBlocksFetched > 0) r.readsShuffle = true
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val q = current
    if (q.isEmpty) return
    val r = rec(q)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    phases.foreach { case (name, ph) =>
      spans.add(Span(nextId(), phaseSpan.getOrElse("query", 0L), q, s"catalyst.$name",
        ph.startTimeMs * 1000, ph.endTimeMs * 1000))
    }
    val nodes = Trace.planNodes(qe.executedPlan)
    val native = nodes.filter(Trace.isNativeJoin)
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    r.synchronized {
      r.analysisMs += ms("analysis"); r.optimizationMs += ms("optimization")
      r.planningMs += ms("planning")
      r.planNodes += nodes.size
      r.nativeExecs += native.size
      native.foreach { p =>
        r.nativeRows += metric(p, "numOutputRows")
        r.sweepSpillBytes += metric(p, "spillBytes")
        r.prefixScanned += metric(p, "candidatesScanned")
      }
    }
  }

  /** Analysis done when the query function built its DataFrame (eager in
    * Spark), which no execution event reports. */
  def addDataFrameAnalysis(q: String, qe: QueryExecution): Unit = {
    val r = rec(q)
    val ms = qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
    r.synchronized { r.analysisMs += ms }
  }

  /** Stage records (with their tasks) of one query. */
  def stagesOf(q: String): Seq[StageRec] =
    stageRecs.values.asScala.filter(_.query == q).toSeq

  def clear(): Unit = { stageRecs.clear(); jobSpans.clear(); queries.clear() }
}

/** Layer sums for one traced pass. */
object Layers {
  /** Every metric `summarize` reports, zero when nothing contributed. */
  val Names: Seq[String] = Seq(
    "engine.scan_mb", "engine.scan_rows",
    "operators.build_s", "operators.eager_jobs", "storage.pinned_blocks",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.plan_nodes",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.gap_s",
    "scheduler.busy_frac",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.deser_s",
    "executor.straggler_ratio",
    "shuffle.write_mb", "shuffle.write_records", "shuffle.write_s", "shuffle.read_mb",
    "shuffle.fetch_wait_s", "shuffle.blocks_fetched", "shuffle.reduce_partitions",
    "spill.memory_mb", "spill.disk_mb", "spill.tasks_spilled",
    "plans.native_join_s", "plans.native_execs", "plans.output_rows",
    "plans.sweep_spill_mb", "plans.prefix_scanned")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def summarize(t: Tracer, cores: Int, runs: Seq[Harness.QueryRun]): Map[String, Double] = {
    val acc = mutable.LinkedHashMap.from(Names.map(_ -> 0.0))
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    val ratios = mutable.ArrayBuffer.empty[Double]
    var wallTotal = 0.0
    var nativeWall = 0.0
    runs.foreach { run =>
      val (q, start, end) = (run.name, run.startMs, run.endMs)
      val wall = (end - start) / 1000.0
      wallTotal += wall
      add("operators.build_s", run.buildSeconds)
      add("storage.pinned_blocks", run.pinned)
      val stages = t.stagesOf(q)
      val tasks = stages.flatMap(_.tasks)
      add("scheduler.tasks", tasks.size)
      stages.foreach { s =>
        if (s.readsShuffle) add("shuffle.reduce_partitions", s.numTasks)
        if (s.tasks.size >= 2) {
          val d = s.tasks.map(x => (x.finish - x.launch).toDouble).toSeq
          val med = median(d)
          if (med > 0) ratios += d.max / med
        }
      }
      // wall time with no task running: the query window minus the union of
      // task intervals clipped to it
      val iv = tasks.map(x => (math.max(x.launch, start), math.min(x.finish, end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      add("scheduler.gap_s", math.max(0.0, wall - covered / 1000.0))
      tasks.foreach { x =>
        val m = x.m
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("executor.deser_s", m.executorDeserializeTime / 1e3)
        add("engine.scan_mb", m.inputMetrics.bytesRead / 1e6)
        add("engine.scan_rows", m.inputMetrics.recordsRead)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("shuffle.write_records", m.shuffleWriteMetrics.recordsWritten)
        add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.blocks_fetched", m.shuffleReadMetrics.totalBlocksFetched)
        add("spill.memory_mb", m.memoryBytesSpilled / 1e6)
        add("spill.disk_mb", m.diskBytesSpilled / 1e6)
        if (m.diskBytesSpilled > 0) add("spill.tasks_spilled", 1)
      }
      Option(t.queries.get(q)).foreach { r =>
        add("scheduler.jobs", r.jobs)
        add("scheduler.stages", r.stages)
        add("operators.eager_jobs", r.eagerJobs)
        add("catalyst.analysis_ms", r.analysisMs)
        add("catalyst.optimization_ms", r.optimizationMs)
        add("catalyst.planning_ms", r.planningMs)
        add("catalyst.plan_nodes", r.planNodes)
        add("plans.native_execs", r.nativeExecs)
        add("plans.output_rows", r.nativeRows)
        add("plans.sweep_spill_mb", r.sweepSpillBytes / 1e6)
        add("plans.prefix_scanned", r.prefixScanned)
        if (r.nativeExecs > 0) nativeWall += wall
      }
    }
    acc("plans.native_join_s") = nativeWall
    acc("scheduler.busy_frac") =
      if (wallTotal > 0) acc("executor.run_s") / (wallTotal * cores) else 0.0
    acc("executor.straggler_ratio") = median(ratios.toSeq)
    acc.toMap
  }
}

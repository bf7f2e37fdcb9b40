package org.apache.spark.perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What one traced query execution cost, layer by layer. Times are in
  * seconds; phase times are self times derived from the spans.
  */
final class QueryRecord(val name: String, val pass: Int) {
  var wall, build, exec = 0.0
  var parsing, analysis, optimization, planning = 0.0
  var driverGap, analyzerJobS = 0.0
  var buildJobs, execJobs, analyzerJobs, stages, tasks, failedTasks = 0
  var taskS, taskCpuS = 0.0
  var shuffleRead, shuffleWrite, spill, scanRows, scanBytes = 0L
  var maxTaskRatio = 1.0
  var coalescedReads, skewSplits, postShufflePartitions = 0
  var writeFiles, writeBytes, writeRows = 0L
  var jobCommitS, taskCommitS = 0.0
  var compiles = 0L
  var compileS, jitS, gcS = 0.0
  var resultRows = 0L

  def planningTotal: Double = parsing + analysis + optimization + planning

  def toMap: Map[String, Any] = Json.obj(
    "name" -> name, "pass" -> pass, "wall_s" -> wall, "build_s" -> build,
    "exec_s" -> exec, "parsing_s" -> parsing, "analysis_s" -> analysis,
    "optimization_s" -> optimization, "planning_s" -> planning,
    "driver_gap_s" -> driverGap, "build_jobs" -> buildJobs,
    "analyzer_jobs" -> analyzerJobs, "analyzer_job_s" -> analyzerJobS,
    "exec_jobs" -> execJobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_s" -> taskS, "task_cpu_s" -> taskCpuS,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "scan_rows" -> scanRows, "scan_bytes" -> scanBytes,
    "max_task_ratio" -> maxTaskRatio, "coalesced_reads" -> coalescedReads,
    "skew_splits" -> skewSplits, "post_shuffle_partitions" -> postShufflePartitions,
    "write_files" -> writeFiles, "write_bytes" -> writeBytes,
    "write_rows" -> writeRows, "job_commit_s" -> jobCommitS,
    "task_commit_s" -> taskCommitS, "codegen_compiles" -> compiles,
    "codegen_compile_s" -> compileS, "jit_s" -> jitS, "gc_s" -> gcS,
    "result_rows" -> resultRows)
}

/** Records spans (workload → pass → query → build/exec → tracker phases,
  * jobs → stages) and per-query counters from outside the engine: a
  * SparkListener for jobs, stages and tasks, a QueryExecutionListener for
  * every QueryExecution a query runs (its tracker phases, its final
  * adaptive plan, its write command metrics), the codegen counters and
  * the JVM MXBeans.
  *
  * Jobs and tracker phases are assigned to `build` (the query's
  * DataFrame-constructing closure, which may run eager writes and
  * collects) or `exec` (collecting the result) by the window their start
  * falls in, so eager jobs never inflate the planning layers.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  final case class Span(id: Int, parent: Int, name: String, kind: String,
      start: Double, end: Double) {
    def dur: Double = end - start
  }

  private final class Job(val id: Int, val start: Long, val stageIds: Seq[Int]) {
    var end: Long = -1L
  }
  private final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, inRows: Long,
      inBytes: Long, failed: Boolean)
  private final case class Stage(id: Int, start: Long, end: Long)

  // filled on the listener bus thread, drained by the driver per query
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val qes = mutable.ArrayBuffer[QueryExecution]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages += Stage(i.stageId, s, c)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += (if (m == null) Task(e.stageId, info.duration, 0, 0, 0, 0, 0, 0, 0, info.failed)
    else Task(e.stageId, info.duration, m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      info.failed))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { qes += qe }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  private def drain(): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
  }

  // one clock for our spans and the listener's epoch-millisecond stamps
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  def open(parent: Int, name: String, kind: String, start: Double): Int = {
    spans += Span(spans.size, parent, name, kind, start, start)
    spans.size - 1
  }
  def close(id: Int, end: Double): Unit = spans(id) = spans(id).copy(end = end)

  private def child(parent: Int, name: String, kind: String, s: Double, e: Double): Int = {
    val id = open(parent, name, kind, s); close(id, e); id
  }

  /** Span duration minus the part of it its children cover. */
  def selfMs(id: Int, children: Map[Int, Seq[Span]]): Double = {
    val sp = spans(id)
    val ivs = children.getOrElse(id, Nil)
      .map(c => (math.max(c.start, sp.start), math.min(c.end, sp.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    sp.dur - covered
  }

  private val compiler = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def counters: (Long, Long, Long, Long) = (
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    compiler.getTotalCompilationTime,
    gcs.map(_.getCollectionTime).sum)

  private var qSpan, buildSpan = -1
  private var qStart, buildEnd = 0.0
  private var c0: (Long, Long, Long, Long) = _
  private var record: QueryRecord = _

  def begin(name: String, pass: Int, passSpan: Int): Unit = {
    drain()
    synchronized { jobs.clear(); stages.clear(); tasks.clear(); qes.clear() }
    record = new QueryRecord(name, pass)
    c0 = counters
    qStart = nowMs
    qSpan = open(passSpan, name, "query", qStart)
    buildSpan = open(qSpan, "build", "build", qStart)
  }

  def built(): Unit = {
    buildEnd = nowMs
    close(buildSpan, buildEnd)
  }

  /** Close the query, assign what the listeners saw to its spans and
    * return its record. `df` is the query's DataFrame when it was built.
    */
  def end(df: Option[DataFrame], resultRows: Long): QueryRecord = {
    val qEnd = nowMs
    val execSpan = child(qSpan, "exec", "exec", buildEnd, qEnd)
    close(qSpan, qEnd)
    drain()
    val c1 = counters
    val r = record
    r.resultRows = resultRows
    r.wall = (qEnd - qStart) / 1000
    r.build = (buildEnd - qStart) / 1000
    r.exec = (qEnd - buildEnd) / 1000
    r.compiles = c1._1 - c0._1
    r.compileS = (c1._2 - c0._2) / 1e9
    r.jitS = (c1._3 - c0._3) / 1000.0
    r.gcS = (c1._4 - c0._4) / 1000.0
    def windowOf(t: Double): Int = if (t < buildEnd) buildSpan else execSpan
    val (seenJobs, seenStages, seenTasks, seenQes) = synchronized {
      (jobs.values.toList, stages.toList, tasks.toList, qes.toList)
    }
    val allQes = (seenQes ++ df.map(_.queryExecution))
      .foldLeft(List.empty[QueryExecution]) { (acc, q) =>
        if (acc.exists(_ eq q)) acc else q :: acc
      }.reverse
    val newSpans = mutable.ArrayBuffer[Int]()
    allQes.foreach { qe =>
      qe.tracker.phases.foreach { case (phase, sum) =>
        val s = math.max(sum.startTimeMs.toDouble, qStart)
        val e = math.min(sum.endTimeMs.toDouble, qEnd)
        if (sum.startTimeMs >= qStart - 1 && e >= s)
          newSpans += child(windowOf(s), phase, "phase", s, e)
      }
    }
    val phaseSpans = newSpans.map(spans(_)).toList
    seenJobs.foreach { j =>
      val s = math.max(j.start.toDouble, qStart)
      val e = if (j.end < 0) qEnd else math.min(j.end.toDouble, qEnd)
      if (windowOf(s) == buildSpan) r.buildJobs += 1 else r.execJobs += 1
      // a job started inside a tracker phase (e.g. the footer read that
      // resolving a parquet-backed view runs) is that phase's child
      val phase = phaseSpans.filter(p => p.start <= s && s < p.end).sortBy(_.dur).headOption
      if (phase.exists(_.name == "analysis")) {
        r.analyzerJobs += 1
        r.analyzerJobS += (math.max(s, e) - s) / 1000
      }
      val jid = child(phase.map(_.id).getOrElse(windowOf(s)), s"job ${j.id}", "job", s,
        math.max(s, e))
      newSpans += jid
      seenStages.filter(st => j.stageIds.contains(st.id)).foreach { st =>
        newSpans += child(jid, s"stage ${st.id}", "stage", st.start.toDouble, st.end.toDouble)
      }
    }
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    newSpans.map(spans(_)).filter(_.kind == "phase").foreach { p =>
      val s = selfMs(p.id, children) / 1000
      p.name match {
        case "parsing" => r.parsing += s
        case "analysis" => r.analysis += s
        case "optimization" => r.optimization += s
        case "planning" => r.planning += s
        case _ =>
      }
    }
    r.driverGap = selfMs(execSpan, children) / 1000
    r.stages = seenTasks.map(_.stage).distinct.size
    r.tasks = seenTasks.size
    r.failedTasks = seenTasks.count(_.failed)
    r.taskS = seenTasks.map(_.runMs).sum / 1000.0
    r.taskCpuS = seenTasks.map(_.cpuNs).sum / 1e9
    r.shuffleRead = seenTasks.map(_.shuffleRead).sum
    r.shuffleWrite = seenTasks.map(_.shuffleWrite).sum
    r.spill = seenTasks.map(_.spill).sum
    r.scanRows = seenTasks.map(_.inRows).sum
    r.scanBytes = seenTasks.map(_.inBytes).sum
    r.maxTaskRatio = seenTasks.filterNot(_.failed).groupBy(_.stage).values
      .filter(_.size >= 2).map { ts =>
        val d = ts.map(_.durMs.toDouble).sorted
        val med = d(d.size / 2)
        if (med > 0) d.last / med else 1.0
      }.foldLeft(1.0)(math.max)
    val writes = mutable.ArrayBuffer[DataWritingCommandExec]()
    allQes.foreach { qe =>
      try {
        val plan = qe.executedPlan
        collectWithSubqueries(plan) { case a: AQEShuffleReadExec => a }.foreach { a =>
          if (a.isCoalescedRead) r.coalescedReads += 1
          r.skewSplits += a.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
          r.postShufflePartitions += a.partitionSpecs.size
        }
        collectWithSubqueries(plan) { case w: DataWritingCommandExec => w }
          .foreach(w => if (!writes.exists(_ eq w)) writes += w)
      } catch { case _: Throwable => () }
    }
    writes.foreach { w =>
      val m = w.cmd.metrics
      def v(k: String): Long = m.get(k).map(_.value).getOrElse(0L)
      r.writeFiles += v("numFiles")
      r.writeBytes += v("numOutputBytes")
      r.writeRows += v("numOutputRows")
      r.jobCommitS += v("jobCommitTime") / 1000.0
      r.taskCommitS += v("taskCommitTime") / 1000.0
    }
    r
  }

  /** Every span with its self time, for the trace file. */
  def spanTable: Seq[Map[String, Any]] = {
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    spans.toSeq.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> selfMs(s.id, children))
    }
  }

  /** Per-layer metrics over the warm passes (means per query execution
    * unless the name says otherwise) and the cold first pass.
    */
  def layerMetrics(first: Seq[QueryRecord], warm: Seq[QueryRecord]): ListMap[String, Double] = {
    val n = math.max(1, warm.size).toDouble
    def per(f: QueryRecord => Double): Double = warm.map(f).sum / n
    val wall = warm.map(_.wall).sum
    ListMap(
      "parser.s" -> per(_.parsing),
      "analyzer.s" -> per(_.analysis),
      "analyzer.jobs" -> per(_.analyzerJobs.toDouble),
      "analyzer.job_s" -> per(_.analyzerJobS),
      "optimizer.s" -> per(_.optimization),
      "planner.s" -> per(_.planning),
      "planning.share" -> (if (wall > 0) warm.map(_.planningTotal).sum / wall else 0.0),
      "codegen.compiles" -> per(_.compiles.toDouble),
      "codegen.compile_s" -> per(_.compileS),
      "codegen.first_pass_compiles" -> first.map(_.compiles.toDouble).sum,
      "codegen.first_pass_compile_s" -> first.map(_.compileS).sum,
      "jvm.jit_s" -> first.map(_.jitS).sum,
      "jvm.gc_s" -> per(_.gcS),
      "build.s" -> per(_.build),
      "build.jobs" -> per(_.buildJobs.toDouble),
      "exec.s" -> per(_.exec),
      "exec.jobs" -> per(_.execJobs.toDouble),
      "exec.stages" -> per(_.stages.toDouble),
      "exec.tasks" -> per(_.tasks.toDouble),
      "exec.task_s" -> per(_.taskS),
      "exec.task_cpu_s" -> per(_.taskCpuS),
      "exec.core_busy_ratio" ->
        (if (wall > 0) warm.map(_.taskS).sum / (wall * cores) else 0.0),
      "exec.driver_gap_s" -> per(_.driverGap),
      "exec.shuffle_read_bytes" -> per(_.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> per(_.shuffleWrite.toDouble),
      "exec.spill_bytes" -> per(_.spill.toDouble),
      "exec.failed_tasks" -> per(_.failedTasks.toDouble),
      "exec.max_task_ratio" -> per(_.maxTaskRatio),
      "aqe.coalesced_reads" -> per(_.coalescedReads.toDouble),
      "aqe.skew_splits" -> per(_.skewSplits.toDouble),
      "aqe.post_shuffle_partitions" -> per(_.postShufflePartitions.toDouble),
      "scan.rows" -> per(_.scanRows.toDouble),
      "scan.bytes" -> per(_.scanBytes.toDouble),
      "scan.rows_per_result_row" ->
        warm.map(_.scanRows).sum.toDouble / math.max(1L, warm.map(_.resultRows).sum),
      "write.files" -> per(_.writeFiles.toDouble),
      "write.bytes" -> per(_.writeBytes.toDouble),
      "write.rows" -> per(_.writeRows.toDouble),
      "write.job_commit_s" -> per(_.jobCommitS),
      "write.task_commit_s" -> per(_.taskCommitS))
  }
}

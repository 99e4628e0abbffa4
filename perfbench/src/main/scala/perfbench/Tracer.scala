package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. One operation span per
  * benchmark operation (tagged with its own job group), job spans as
  * its children and stage spans as theirs. Task metrics are summed per
  * stage; query-execution phases, file writes and RDD block updates are
  * attributed to the operation that was current when they arrived (the
  * harness drains the listener bus before it moves to the next one).
  * Nothing is written until the run ends.
  */
final class Tracer {
  import Tracer._

  @volatile var currentOp: Int = -1

  private val ops = mutable.ArrayBuffer.empty[OpSpan]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageSpan]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val opCounters = mutable.Map.empty[Int, OpCounters]

  private def counters(op: Int): OpCounters =
    opCounters.getOrElseUpdate(op, new OpCounters)

  def addOp(op: OpSpan): Unit = synchronized { ops += op }

  def counterOf(op: Int): OpCounters = synchronized { counters(op) }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val op = group match {
        case Some(g) if g.startsWith(GroupPrefix) => g.stripPrefix(GroupPrefix).toInt
        case Some(_) => -1 // the harness's own work between timed segments
        case None => currentOp
      }
      jobs(e.jobId) = JobSpan(e.jobId, op, e.time, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val key = (i.stageId, i.attemptNumber())
        val s = stages.getOrElseUpdate(key, newStage(i.stageId))
        stages(key) = s.copy(
          start = i.submissionTime.getOrElse(s.start),
          end = i.completionTime.getOrElse(s.end),
          tasks = i.numTasks)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val key = (e.stageId, e.stageAttemptId)
        val s = stages.getOrElseUpdate(key, newStage(e.stageId))
        stages(key) = s.copy(
          runMs = s.runMs + m.executorRunTime,
          gcMs = s.gcMs + m.jvmGCTime,
          shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          fetchWaitMs = s.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
          spill = s.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid && currentOp >= 0)
          counters(currentOp).blockBytes += b.memSize + b.diskSize
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe, 0L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    if (currentOp >= 0) {
      val c = counters(currentOp)
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      val write = Seq(qe.logical, qe.analyzed).iterator
        .flatMap(_.collectFirst { case w: InsertIntoHadoopFsRelationCommand =>
          w.outputPath.toString })
        .nextOption()
      write.foreach(p => c.writes += WriteSpan(p, durationNs / 1e6))
    }
  }

  private def newStage(id: Int): StageSpan =
    StageSpan(id, stageJob.getOrElse(id, -1), 0L, 0L, 0, 0L, 0L, 0L, 0L, 0L, 0L)

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Per-operation layer figures, from the spans of that operation. */
  def layers(op: OpSpan): Map[String, Double] = synchronized {
    val js = jobs.values.filter(_.op == op.id).toSeq
    val jobIds = js.map(_.id).toSet
    val ss = stages.values.filter(s => jobIds(s.job)).toSeq
    val wall = (op.end - op.start).toDouble
    val c = counters(op.id)
    val runMs = ss.map(_.runMs).sum.toDouble
    Map(
      "plan.analysis_ms" -> c.analysisMs.toDouble,
      "plan.optimization_ms" -> c.optimizationMs.toDouble,
      "plan.planning_ms" -> c.planningMs.toDouble,
      "sched.jobs_per_op" -> js.size.toDouble,
      "sched.stages_per_op" -> ss.size.toDouble,
      "sched.tasks_per_op" -> ss.map(_.tasks).sum.toDouble,
      "sched.driver_gap_ms" -> (wall - covered(op.start, op.end,
        js.map(j => (j.start, j.end)))),
      "exec.task_run_s" -> runMs / 1e3,
      "exec.core_util" -> (if (wall > 0) runMs / (wall * Cores) else 0.0),
      "exec.gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "exec.single_task_stage_s" ->
        ss.filter(_.tasks == 1).map(s => s.end - s.start).sum / 1e3,
      "shuffle.write_mb" -> ss.map(_.shuffleWrite).sum / MB,
      "shuffle.read_mb" -> ss.map(_.shuffleRead).sum / MB,
      "shuffle.spill_mb" -> ss.map(_.spill).sum / MB,
      "shuffle.fetch_wait_ms" -> ss.map(_.fetchWaitMs).sum.toDouble,
      "ckpt.block_mb" -> c.blockBytes / MB)
  }

  /** All spans as JSON lines; self time is a span's duration minus the
    * part of it its children cover.
    */
  def spansJson: Seq[String] = synchronized {
    val jobsByOp = jobs.values.groupBy(_.op)
    val stagesByJob = stages.values.groupBy(_.job)
    ops.toSeq.flatMap { op =>
      val js = jobsByOp.getOrElse(op.id, Nil).toSeq
      val opLine = Json.obj("span" -> "op", "id" -> op.id, "name" -> op.name,
        "start_ms" -> op.start, "end_ms" -> op.end,
        "self_ms" -> ((op.end - op.start) -
          covered(op.start, op.end, js.map(j => (j.start, j.end)))))
      val jobLines = js.flatMap { j =>
        val ss = stagesByJob.getOrElse(j.id, Nil).toSeq
        Json.obj("span" -> "job", "id" -> j.id, "parent" -> op.id,
          "start_ms" -> j.start, "end_ms" -> j.end,
          "self_ms" -> ((j.end - j.start) -
            covered(j.start, j.end, ss.map(s => (s.start, s.end))))) +:
        ss.map(s => Json.obj("span" -> "stage", "id" -> s.id,
          "parent" -> j.id, "start_ms" -> s.start, "end_ms" -> s.end,
          "self_ms" -> (s.end - s.start), "tasks" -> s.tasks,
          "task_run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
          "shuffle_write_bytes" -> s.shuffleWrite,
          "shuffle_read_bytes" -> s.shuffleRead,
          "spill_bytes" -> s.spill, "fetch_wait_ms" -> s.fetchWaitMs))
      }
      opLine +: jobLines
    }
  }
}

object Tracer {
  val GroupPrefix = "perfbench-op-"
  val Cores = 4
  private val MB = 1024.0 * 1024.0

  final case class OpSpan(id: Int, name: String, start: Long, end: Long)
  final case class JobSpan(id: Int, op: Int, start: Long, end: Long)
  final case class StageSpan(id: Int, job: Int, start: Long, end: Long,
    tasks: Int, runMs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, fetchWaitMs: Long, spill: Long)
  final case class WriteSpan(path: String, ms: Double)

  final class OpCounters {
    var analysisMs = 0L
    var optimizationMs = 0L
    var planningMs = 0L
    var blockBytes = 0L
    val writes = mutable.ArrayBuffer.empty[WriteSpan]
  }

  /** Length of the part of [lo, hi] covered by the union of intervals. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (b > curEnd) {
        total += b - math.max(a, curEnd)
        curEnd = b
      }
    }
    total
  }
}

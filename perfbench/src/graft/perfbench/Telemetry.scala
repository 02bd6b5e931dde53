package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One op execution, as the benchmark loop saw it: wall-clock start and
  * end in ms, and the process CPU seconds it used.
  */
final case class OpRec(pass: Int, op: String, start: Long, end: Long, cpuS: Double,
    result: Option[OpResult], error: Option[String])

/** Records Spark's listener events in memory while attached. Nothing is
  * computed on the listener threads beyond copying fields out of the
  * event; [[Telemetry.layerMetrics]] and [[Telemetry.spans]] turn the
  * records into per-layer numbers once the listener bus has drained.
  */
final class Telemetry {
  import Telemetry._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val submitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val taskAggs = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()
  val queries = new ConcurrentLinkedQueue[QeRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobRec(e.jobId, e.time, e.stageIds)): Unit
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time): Unit
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted.add(e.stageInfo.stageId): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks)): Unit
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      taskAggs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new TaskAgg).add(m)
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
      val plan: SparkPlan = qe.executedPlan
      val exchanges = collectWithSubqueries(plan) { case x: Exchange => x }.size
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      def sumMetric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
      queries.add(QeRec(phases, exchanges, sumMetric("numFiles"), sumMetric("scanTime"))): Unit
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      // a progress event without addBatch reports an idle trigger
      if (p.durationMs.containsKey("addBatch")) batches.add(BatchRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        p.stateOperators.map(o => StateRec(o.numRowsTotal, o.memoryUsedBytes,
          o.commitTimeMs, o.numRowsRemoved, o.numRowsDroppedByWatermark)).toSeq)): Unit
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
}

object Telemetry {
  final case class JobRec(id: Int, start: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, start: Long, end: Long, tasks: Int)
  final case class QeRec(phases: Map[String, (Long, Long)], exchanges: Int,
      files: Long, scanMs: Long) {
    def start: Long = phases.values.map(_._1).minOption.getOrElse(0L)
  }
  final case class StateRec(rows: Long, memBytes: Long, commitMs: Long,
      removed: Long, dropped: Long)
  final case class BatchRec(start: Long, durMs: Map[String, Long], inRows: Long,
      state: Seq[StateRec]) {
    def end: Long = start + durMs.getOrElse("triggerExecution", 0L)
  }

  final class TaskAgg {
    var tasks, cpuNs, runMs, gcMs, shufRead, shufWrite, spill, inBytes, inRecs,
        outBytes = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      tasks += 1; cpuNs += m.executorCpuTime; runMs += m.executorRunTime
      gcMs += m.jvmGCTime; shufRead += m.shuffleReadMetrics.totalBytesRead
      shufWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inBytes += m.inputMetrics.bytesRead; inRecs += m.inputMetrics.recordsRead
      outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** The streaming phases reported per batch, in the order a micro-batch
    * runs them; their spans are laid end to end from the trigger start.
    */
  val BatchPhases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Spans of the traced ops: op → registry.build / execute → plan phase
    * and job → stage for a query; op → batch → batch phase → job → stage
    * for a stream stage. A plan phase or job hangs under the deepest span
    * of its op that contains its start.
    */
  def spans(t: Telemetry, ops: Seq[OpRec]): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var next = 0
    def add(parent: Int, name: String, layer: String, s: Long, e: Long): Span = {
      val sp = Span(next, parent, name, layer, s, e); next += 1; out += sp; sp
    }
    val jobs = t.jobs.asScala.toSeq.map(j => (j, t.jobEnds.getOrDefault(j.id, j.start).longValue))
    val stagesByJob = {
      val st = t.stages.asScala.toSeq.groupBy(_.id)
      jobs.map { case (j, _) => j.id -> j.stageIds.flatMap(st.getOrElse(_, Nil)) }.toMap
    }
    val qes = t.queries.asScala.toSeq
    val bs = t.batches.asScala.toSeq
    ops.foreach { o =>
      val root = add(-1, o.op, "op", o.start, o.end)
      val inner = Seq.newBuilder[Span]
      val streamOp = o.result.exists(_.batchMs.nonEmpty)
      if (!streamOp) {
        val built = o.result.map(_.buildEndMs).filter(_ > 0).getOrElse(o.end)
        inner += add(root.id, "registry.build", "registry", o.start, built)
        inner += add(root.id, "execute", "execute", built, o.end)
      } else {
        bs.filter(b => b.start >= o.start && b.start < o.end).foreach { b =>
          val bsp = add(root.id, "batch", "batch", b.start, b.end)
          inner += bsp
          var at = b.start
          BatchPhases.foreach { ph =>
            b.durMs.get(ph).filter(_ > 0).foreach { d =>
              inner += add(bsp.id, ph, "batch_phase", at, at + d); at += d
            }
          }
        }
      }
      val containers = inner.result()
      def parentOf(ts: Long): Int = containers.filter(c => c.start <= ts && ts < c.end)
        .sortBy(c => -c.start).headOption.map(_.id).getOrElse(root.id)
      qes.filter(q => q.start >= o.start && q.start < o.end).foreach { q =>
        Seq("analysis", "optimization", "planning").foreach { ph =>
          q.phases.get(ph).foreach { case (s, e) =>
            add(parentOf(s), s"plan.$ph", "plan", s, e)
          }
        }
      }
      jobs.filter { case (j, _) => j.start >= o.start && j.start < o.end }.foreach { case (j, e) =>
        val jsp = add(parentOf(j.start), s"job ${j.id}", "job", j.start, e)
        stagesByJob.getOrElse(j.id, Nil).filter(_.start > 0).foreach { s =>
          add(jsp.id, s"stage ${s.id}.${s.attempt}", "stage", s.start, s.end)
        }
      }
    }
    out.result()
  }

  /** Per-layer metrics over the traced ops, per pass. */
  def layerMetrics(t: Telemetry, ops: Seq[OpRec], passes: Int): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    def inOps(ts: Long) = ops.exists(o => ts >= o.start && ts < o.end)
    val jobs = t.jobs.asScala.toSeq.filter(j => inOps(j.start))
    val jobIvs = jobs.map(j => (j.start, t.jobEnds.getOrDefault(j.id, j.start).longValue))
    val stageIds = jobs.flatMap(_.stageIds).toSet
    val stages = t.stages.asScala.toSeq.filter(s => stageIds.contains(s.id))
    val aggs = t.taskAggs.asScala.collect { case ((sid, _), a) if stageIds.contains(sid) => a }.toSeq
    def tsum(f: TaskAgg => Long) = aggs.map(f).sum.toDouble
    val qes = t.queries.asScala.toSeq.filter(q => inOps(q.start))
    def phaseS(ph: String) =
      qes.flatMap(_.phases.get(ph)).map { case (s, e) => (e - s) / 1e3 }.sum
    val bs = t.batches.asScala.toSeq.filter(b => inOps(b.start))
    def phaseMs(ph: String) = bs.flatMap(_.durMs.get(ph)).map(_.toDouble)
    val jobWall = Spans.covered(jobIvs, Long.MinValue, Long.MaxValue) / 1e3
    val gapS = ops.map(o => (o.end - o.start) - Spans.covered(jobIvs, o.start, o.end)).sum / 1e3
    val extra = ops.flatMap(_.result.toSeq.flatMap(_.extra)).groupMapReduce(_._1)(_._2)(_ + _)
    val registryS = ops.flatMap(o => o.result.filter(_.buildEndMs > 0)
      .map(r => (r.buildEndMs - o.start) / 1e3)).sum
    val state = bs.flatMap(_.state)
    val mb = 1e6
    val perPass = Map(
      "registry.build_s" -> registryS,
      "plan.analysis_s" -> phaseS("analysis"),
      "plan.optimization_s" -> phaseS("optimization"),
      "plan.planning_s" -> phaseS("planning"),
      "plan.exchanges" -> qes.map(_.exchanges).sum.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.stages_skipped" -> jobs.flatMap(_.stageIds).count(id => !t.submitted.contains(id)).toDouble,
      "exec.tasks" -> tsum(_.tasks),
      "exec.driver_gap_s" -> gapS,
      "exec.task_cpu_s" -> tsum(_.cpuNs) / 1e9,
      "exec.task_run_s" -> tsum(_.runMs) / 1e3,
      "exec.task_gc_s" -> tsum(_.gcMs) / 1e3,
      "exec.shuffle_read_mb" -> tsum(_.shufRead) / mb,
      "exec.shuffle_write_mb" -> tsum(_.shufWrite) / mb,
      "exec.spill_mb" -> tsum(_.spill) / mb,
      "sources.scan_mb" -> tsum(_.inBytes) / mb,
      "sources.scan_rows" -> tsum(_.inRecs),
      "sources.files_read" -> qes.map(_.files).sum.toDouble,
      "sources.scan_s" -> qes.map(_.scanMs).sum / 1e3,
      "stream.batches" -> bs.size.toDouble,
      "state.commit_ms" -> state.map(_.commitMs).sum.toDouble,
      "state.rows_removed" -> state.map(_.removed).sum.toDouble,
      "state.dropped_by_watermark" -> state.map(_.dropped).sum.toDouble,
      "ingest.gate_build_s" -> extra.getOrElse("ingest.gate_build_s", 0.0),
      "ingest.drain_s" -> extra.getOrElse("ingest.drain_s", 0.0),
      "ingest.compact_s" -> extra.getOrElse("ingest.compact_s", 0.0),
      "ingest.landed_mb" -> extra.getOrElse("ingest.landed_mb", 0.0),
      "sinks.written_mb" -> tsum(_.outBytes) / mb) ++
      Report.StreamPhases
        .map(ph => s"stream.${ph}_ms" -> phaseMs(ph).sum)
    perPass.map { case (k, v) => k -> v / n } ++ Map(
      "exec.parallelism" -> (if (jobWall > 0) tsum(_.runMs) / 1e3 / jobWall else 0.0),
      "state.rows_max" -> state.map(_.rows.toDouble).maxOption.getOrElse(0.0),
      "state.mem_mb" -> state.map(_.memBytes / mb).maxOption.getOrElse(0.0),
      "ingest.admit_ratio" -> extra.get("ingest.arrivals").filter(_ > 0)
        .map(a => extra.getOrElse("ingest.admitted", 0.0) / a).getOrElse(0.0)) ++
      Report.StreamPhases
        .map(ph => s"stream.${ph}_p50_ms" -> median(phaseMs(ph)))
  }
}

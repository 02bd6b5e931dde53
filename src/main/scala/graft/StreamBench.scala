package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, TTLConfig, Trigger}

/** Streaming benchmark: replays the `events`, `documents` and
  * `embeddings` tables through the library's streaming operators as
  * MULTI-batch runs (the input is pre-sliced into ~12 files and the file
  * source triggers one file per micro-batch), reporting per stage:
  *
  *  - sustained throughput (rows/s over the whole run, not one batch),
  *  - the per-batch latency distribution (p50/p95/max trigger seconds —
  *    one giant batch and 500 tiny ones can share a rows/s number but
  *    scale differently),
  *  - state-store telemetry for the stateful stages (rows last/max,
  *    memory bytes, rows removed, rows dropped by watermark) — at 100 TB
  *    the binding constraint of a standing pipeline is state bytes/key
  *    and cleanup rate, which single-batch rows/s cannot show, and
  *  - for the checkpointed stateful stages (sessions, LSH ownership, span
  *    audit, standing retrieval) one KILL-AND-RESTORE cycle: the query is
  *    stopped midway through the replay and restarted from its
  *    checkpoint; `restore_s` is the wall time from restart to fully
  *    drained — the recovery cost a production pipeline pays after an
  *    executor/driver loss.
  *
  * The reference's replay source emits ~10 events/s by design
  * (FlinkWindowLearning.scala:40); these stages measure what the same
  * logical pipelines sustain under Spark's micro-batch engine.
  *
  *   runMain graft.StreamBench                          # every stage
  *   runMain graft.StreamBench gate,lsh_dedup,admit_drain
  *
  * The optional argument selects stages by their JSON names; they run in
  * [[stageNames]] order whatever the list order. The replay inputs are
  * built on first use, so a selection pays only for what its stages read.
  * Prints ONE JSON line AND writes it to `stream_bench.json`, with the
  * same loadavg/steal telemetry as the batch bench — rows/s on a
  * contended host is a property of the host, not the engine.
  */
object StreamBench {

  /** Nearest-rank percentile over an unsorted sample. */
  private[graft] def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) -1.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Slice `df` into `n` parquet files under `path`, written ONE AT A
    * TIME in `orderCol` order so the file source's arrival order (mtime)
    * follows event time — the watermark then advances monotonically
    * across micro-batches, exactly how a production stream arrives.
    */
  private[graft] def sliceOrdered(df: DataFrame, orderCol: String, n: Int,
      path: String): Unit = {
    val dir = new java.io.File(path)
    if (dir.exists()) {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
    // partition-less ntile window: bench input prep over <=100k rows on
    // the driver-local run, not an engine operator — the audited engine
    // plans never do this (GlobalPlanAuditSpec)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(orderCol))
    val sliced = df.withColumn("_slice", ntile(n).over(w)).cache()
    sliced.count()
    (1 to n).foreach { i =>
      sliced.filter(col("_slice") === i).drop("_slice")
        .coalesce(1).write.mode("append").parquet(path)
      // distinct mtimes per slice: the file source lists in mtime order
      Thread.sleep(15)
    }
    sliced.unpersist()
  }

  /** JSON fields of one finished run's progress list. */
  private def progressJson(progress: Seq[StreamingQueryProgress],
      inRows: Long, outRows: Long, wallSec: Double): String = {
    val data = progress.filter(_.numInputRows > 0)
    val secs = data.flatMap(p => Option(p.durationMs.get("triggerExecution")))
      .map(_.toLong / 1000.0)
    val stateful = progress.filter(_.stateOperators.nonEmpty)
    val state =
      if (stateful.isEmpty) ""
      else {
        import scala.jdk.CollectionConverters._
        val rowsLast = stateful.last.stateOperators.map(_.numRowsTotal).sum
        val rowsMax = stateful.map(_.stateOperators.map(_.numRowsTotal).sum).max
        val mem = stateful.last.stateOperators.map(_.memoryUsedBytes).sum
        val removed = stateful.map(_.stateOperators.map(_.numRowsRemoved).sum).sum
        val dropped = stateful.map(
          _.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
        // TTL'd transformWithState evictions surface as a custom metric,
        // not numRowsRemoved — report them so a TTL'd stage's cleanup
        // rate is visible next to its rows_last plateau
        val ttlExpired = stateful.map(_.stateOperators.map(o =>
          Option(o.customMetrics).map(_.asScala.collect {
            case (k, v) if k.contains("RemovedDueToTTL") => v.longValue()
          }.sum).getOrElse(0L)).sum).sum
        s""","state":{"rows_last":$rowsLast,"rows_max":$rowsMax,""" +
          s""""mem_bytes":$mem,"removed":$removed,""" +
          s""""ttl_expired":$ttlExpired,""" +
          s""""dropped_by_watermark":$dropped}"""
      }
    s""""rows_per_sec":${Json.decimal(inRows / wallSec, 1)},"in_rows":$inRows,""" +
      s""""out_rows":$outRows,"wall_sec":${Json.decimal(wallSec, 2)},""" +
      s""""batches":${data.size},""" +
      s""""batch_sec":{"p50":${Json.decimal(pct(secs, 0.5), 2)},""" +
      s""""p95":${Json.decimal(pct(secs, 0.95), 2)},""" +
      s""""max":${Json.decimal(if (secs.isEmpty) -1.0 else secs.max, 2)}}""" + state
  }

  /** Cumulative per-run progress recorder. `recentProgress` is a
    * BOUNDED buffer (`numRecentProgressUpdates`): a paced/TTL'd run
    * past the cap would undercount admissions read through it, spin to
    * the drain deadline, and misreport a progress-retention artifact
    * as engine lag — so every stage reads EVERY progress event via this
    * listener instead.
    */
  private final class ProgressRecorder
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val byRun = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID,
      java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      byRun.computeIfAbsent(e.progress.runId,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]())
        .add(e.progress)
      ()
    }
    /** The progress delivered so far for a running query. */
    def seen(runId: java.util.UUID): Seq[StreamingQueryProgress] = {
      import scala.jdk.CollectionConverters._
      Option(byRun.get(runId)).map(_.asScala.toSeq).getOrElse(Seq.empty)
    }
    def admitted(runId: java.util.UUID): Long =
      seen(runId).map(_.numInputRows).sum

    /** Every progress of the STOPPED query `q`. Listener events post
      * asynchronously, so this waits until `q`'s last progress has been
      * delivered; a snapshot taken earlier would drop trailing batches.
      */
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] = {
      val last = Option(q.lastProgress)
      def arrived = last.forall(l => seen(q.runId).lastOption.exists(p =>
        p.batchId == l.batchId && p.timestamp == l.timestamp))
      val deadline = System.currentTimeMillis() + 60000
      while (!arrived && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      if (!arrived) throw new IllegalStateException(
        s"query ${q.name}: its last progress never reached the recorder")
      seen(q.runId)
    }
  }

  /** Hang deadline for a drain waiting on `rows` input rows: 5 min plus
    * 2 ms a row, a floor rate of 500 rows/s — 8x below the slowest
    * committed drain (admit_drain at sf100, 4.1k rows/s).
    */
  private def drainDeadlineMs(rows: Long): Long = 300000L + 2L * rows

  /** The TTL horizon of the TTL'd stages: ~4 of their 500 ms trigger
    * intervals, the compaction-interval contract scaled to bench time.
    */
  private val TtlMs = 2000L

  /** One run's session, replay inputs and measured as-fast stages. Every
    * input is lazy: a stage selection builds only what its stages read.
    */
  private final class Ctx(val spark: SparkSession, val sfDir: String,
      val nSlices: Int, val base: String) {
    val recorder = new ProgressRecorder
    /** Progress and wall of each as-fast run a paced stage is sized from. */
    val measured =
      scala.collection.mutable.Map.empty[String, (Seq[StreamingQueryProgress], Double)]

    /** Replay of the parquet slices under `path`, one file a trigger. */
    def fileStream(schema: org.apache.spark.sql.types.StructType,
        path: String): DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(path)

    lazy val events: DataFrame = sources.Tables.events(spark, sfDir)
    lazy val totalRows: Long = events.count()
    lazy val eventsStream: DataFrame = {
      sliceOrdered(events, "ts", nSlices, s"$base/events")
      fileStream(events.schema, s"$base/events")
    }

    lazy val docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
    lazy val corpus: DataFrame = docs.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    // arriving docs carry an event time that advances with arrival order
    // (doc_id-derived), so watermarks progress batch over batch
    lazy val arrivalsBatch: DataFrame = docs.filter(col("source") =!= "src0")
      .withColumn("eventTime",
        timestamp_seconds(lit(1735689600L) + col("doc_id")))
    lazy val gateIn: Long = arrivalsBatch.count()
    // ONE lake-wide banding for every LSH stage (the corpus-derived
    // serving construction batch q35/q123 use on this dir): gates,
    // intra-stream twins and index inits share it, or their drop sets
    // would diverge from the batch rule once the derivation engages
    // (sf1+ rehearsal corpora; every driver SF stays at the default)
    lazy val lakeBanding: operators.Banding = operators.Text.bandingOf(spark, sfDir)
    private lazy val arrivalsDir: String = {
      sliceOrdered(arrivalsBatch, "doc_id", nSlices, s"$base/docs")
      s"$base/docs"
    }
    def arrivals: DataFrame = fileStream(arrivalsBatch.schema, arrivalsDir)
    def arrivalsText: DataFrame = arrivals.select(col("doc_id"), col("text"))

    private lazy val emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
    lazy val embRows: Long = emb.count()
    lazy val embStream: DataFrame = {
      sliceOrdered(emb, "vec_id", nSlices, s"$base/emb")
      fileStream(emb.schema, s"$base/emb")
    }

    /** The events as JSON segment files for the DSv2 replay source, sized
      * for ~nSlices micro-batches; the value is the event count.
      */
    lazy val replayRows: Int = {
      val dir = new java.io.File(s"$base/replay_segments")
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      dir.mkdirs()
      val rows = events.orderBy(col("ts"))
        .select(col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .collect()
      rows.grouped(math.max(1, math.ceil(rows.length / nSlices.toDouble).toInt))
        .zipWithIndex.foreach { case (group, i) =>
          val body = group.map(r =>
            s"""{"userId": "${r.get(0)}", "activity": "${r.get(1)}", "timestamp": "${r.get(2)}"}""")
            .mkString("[\n", ",\n", "\n]")
          java.nio.file.Files.write(dir.toPath.resolve(f"seg_$i%03d.json"),
            body.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
        }
      rows.length
    }
    def replayStream(eventsPerBatch: Int): DataFrame = {
      replayRows
      spark.readStream.format("user-activity-replay")
        .option("path", s"$base/replay_segments")
        .option("eventsPerBatch", eventsPerBatch.toString).load()
        .select(col("userId").as("user_id"),
          col("activity").as("event_type"),
          to_timestamp(col("timestamp")).as("ts"))
    }
  }

  /** Fail loudly unless `q` admits `rows` input rows (cumulative, from
    * the recorder) before it dies or the hang deadline passes: a
    * truncated drain would otherwise be rendered as rows/s for work
    * never done.
    */
  private def awaitAdmitted(c: Ctx, stage: String, q: StreamingQuery,
      rows: Long): Unit = {
    val deadline = System.currentTimeMillis() + drainDeadlineMs(rows)
    while (q.isActive && c.recorder.admitted(q.runId) < rows &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q.exception.foreach(e =>
      throw new IllegalStateException(s"stage $stage failed", e))
    val admitted = c.recorder.admitted(q.runId)
    if (admitted < rows) {
      q.stop()
      throw new IllegalStateException(s"stage $stage admitted $admitted of " +
        s"$rows rows within its ${drainDeadlineMs(rows) / 1000} s deadline")
    }
  }

  /** A PROCESSING-TIME-clocked drain: one trigger per `intervalMs`, done
    * once `inRows` rows are admitted and `settleMs` more have passed
    * (TTL eviction and trailing commits happen in those triggers).
    */
  private final case class Paced(intervalMs: Long, inRows: Long,
      settleMs: Long = 0L)

  /** Run `df` into a memory sink named `name` to the end of its finite
    * input and return `read` of the sink, the run's full progress and
    * the wall to drain. As fast as it runs by default
    * (`processAllAvailable`); a TTL'd or fixed-interval query never goes
    * idle, so a [[Paced]] one is drained by [[awaitAdmitted]] instead.
    */
  private def toMemory[A](c: Ctx, name: String, df: DataFrame,
      mode: OutputMode, paced: Option[Paced] = None)(read: DataFrame => A)
      : (A, Seq[StreamingQueryProgress], Double) = {
    val t0 = System.nanoTime()
    val w = df.writeStream.format("memory").queryName(name).outputMode(mode)
    val q = paced.fold(w)(p =>
      w.trigger(Trigger.ProcessingTime(s"${p.intervalMs} milliseconds"))).start()
    paced match {
      case None => q.processAllAvailable()
      case Some(p) => awaitAdmitted(c, name, q, p.inRows)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    paced.foreach(p => Thread.sleep(p.settleMs))
    q.stop()
    val progress = c.recorder.of(q)
    // free the sink: a memory sink holds EVERY emitted row on the
    // driver for the JVM's lifetime — nearby_pairs emits 9.3M rows at
    // sf1, and carrying them degrades every later ProcessingTime-paced
    // stage through GC pauses (observed: lsh_dedup_ttl 13 → 64 s wall
    // with the sink retained, same code)
    val out = try read(c.spark.table(name))
    finally c.spark.catalog.dropTempView(name)
    (out, progress, wall)
  }

  /** An as-fast stage: [[toMemory]] rendered with the sink's row count,
    * measured for a paced twin.
    */
  private def drain(c: Ctx, name: String, df: DataFrame, mode: OutputMode,
      inRows: Long): String = {
    val (outRows, progress, wall) = toMemory(c, name, df, mode)(_.count())
    c.measured(name) = (progress, wall)
    progressJson(progress, inRows, outRows, wall)
  }

  /** Per-batch execution p50 of a finished as-fast run — the fixed cost
    * a paced cadence must clear.
    */
  private def batchP50Ms(progress: Seq[StreamingQueryProgress]): Double = {
    val execs = progress.filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution")))
      .map(_.toDouble)
    if (execs.isEmpty) 500.0 else pct(execs, 0.5)
  }

  /** A sustainable trigger interval for a paced run: the measured
    * per-batch p50 with 30% headroom, rounded up to 250 ms, floored at
    * 500 ms. An interval below the per-batch fixed cost is
    * unsustainable at ANY offered rate — the engine falls one batch
    * further behind every trigger regardless of rows per batch.
    */
  private def fitIntervalMs(asFastBatchP50: Double): Long =
    math.max(500L, (math.ceil(asFastBatchP50 * 1.3 / 250.0) * 250).toLong)

  /** A paced stage: `df` on a `intervalMs` trigger until `inRows` are
    * admitted, rendered as its offered rate plus [[pacedStats]].
    */
  private def pacedStage(c: Ctx, name: String, df: DataFrame,
      mode: OutputMode, inRows: Long, intervalMs: Long, expected: Long,
      offeredRps: Double): String = {
    val (_, progress, wall) =
      toMemory(c, name, df, mode, Some(Paced(intervalMs, inRows)))(_ => ())
    s""""offered_rps":${Json.decimal(offeredRps, 1)},""" +
      pacedStats(progress, intervalMs, expected, wall)
  }

  /** Latency-at-offered-rate analysis of a finished paced run.
    *
    * Schedule origin: the ProcessingTime trigger aligns to the engine's
    * own clock, not to batch 1's start — if batch 1 itself fired late
    * (it queues behind the slow warmup batch), anchoring at its start
    * would make every ON-TIME later batch read as negative latency.
    * Fit the origin instead: the smallest (start_k − k·interval) over
    * the run is the cadence the engine actually held, so the best
    * batch's latency is exactly its execution time and any batch
    * behind that cadence shows its queueing delay. A steadily-falling-
    * behind run still shows growing latency (the min sits at the first
    * batch). Batch 0 pays the one-time plan-compile/codegen/state-init
    * cost; with admission capped at the offered rate the pipeline can
    * never catch up after it, so it is excluded from the distribution
    * and reported separately as warmup_batch_ms.
    *
    * kept_up = the engine ran a full-admission batch every interval
    * (data batches == the admission count the rate implies) and the
    * commit-vs-schedule drift did not GROW across the run — absolute
    * latency alone cannot distinguish a steady per-batch cost from an
    * accumulating backlog. Drift growth compares the MEDIANS of the
    * first and last thirds of the latency series, not the two endpoint
    * samples: a single GC-paused final batch (or a coincidentally fast
    * one) must not flip the headline flag.
    */
  private def pacedStats(progress: Seq[StreamingQueryProgress],
      intervalMs: Long, expected: Long, wall: Double): String = {
    val all = progress.filter(_.numInputRows > 0).sortBy(_.timestamp)
    if (all.isEmpty)
      // an empty input admits no data batch: there is no latency to report
      return s""""interval_ms":$intervalMs,"batches":0,""" +
        s""""expected_batches":$expected,"warmup_batch_ms":0,""" +
        s""""wall_sec":${Json.decimal(wall, 2)},""" +
        s""""e2e_ms":{"p50":-1,"p95":-1,"max":-1},""" +
        s""""drift_growth_ms":-1,"kept_up":false"""
    val warmupMs = Option(all.head.durationMs.get("triggerExecution"))
      .map(_.toLong).getOrElse(0L)
    // exclude batch 0 whenever exclusion leaves a non-empty sample
    val data = if (all.size > 1) all.drop(1) else all
    val starts = data.map(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli)
    val t0ms = starts.zipWithIndex
      .map { case (s, k) => s - k * intervalMs }.min
    val lats = data.zipWithIndex.map { case (p, k) =>
      val exec = Option(p.durationMs.get("triggerExecution"))
        .map(_.toLong).getOrElse(0L)
      (starts(k) + exec - (t0ms + k * intervalMs)).toDouble
    }
    val third = math.max(1, lats.size / 3)
    val driftGrowth = pct(lats.takeRight(third), 0.5) - pct(lats.take(third), 0.5)
    // full admission on BOTH sides: a batch count off the one the rate
    // implies (more means partial-admission stutter) breaks the
    // offered-rate claim
    val keptUp = all.size >= expected && all.size <= expected + 1 &&
      driftGrowth < 2.0 * intervalMs
    s""""interval_ms":$intervalMs,"batches":${all.size},""" +
      s""""expected_batches":$expected,""" +
      s""""warmup_batch_ms":$warmupMs,"wall_sec":${Json.decimal(wall, 2)},""" +
      s""""e2e_ms":{"p50":${Json.decimal(pct(lats, 0.5), 1)},""" +
      s""""p95":${Json.decimal(pct(lats, 0.95), 1)},""" +
      s""""max":${Json.decimal(lats.max, 1)}},""" +
      s""""drift_growth_ms":${Json.decimal(driftGrowth, 1)},"kept_up":$keptUp"""
  }

  /** Rows a file sink landed under `dir`: 0 when it holds no parquet
    * data file yet; any other read failure propagates.
    */
  private def sinkRows(spark: SparkSession, dir: String): Long = {
    val d = new java.io.File(dir)
    val hasData = d.isDirectory &&
      !org.apache.commons.io.FileUtils.listFiles(d, Array("parquet"), true).isEmpty
    if (hasData) spark.read.parquet(dir).count() else 0L
  }

  /** Run a checkpointed stage with one mid-replay KILL: stop the query
    * once ~half the micro-batches have committed, restart it from the
    * checkpoint, and drain. `restore_s` = wall time of the restarted run
    * (state-store restore + replay of the uncommitted tail). `start`
    * gets the sink directory and the checkpoint location.
    */
  private def killRestore(c: Ctx, name: String, inRows: Long,
      start: (String, String) => StreamingQuery): String = {
    val out = s"${c.base}/out_$name"
    val ckpt = s"${c.base}/ckpt_$name"
    Seq(out, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    def dataBatches(p: Seq[StreamingQueryProgress]) = p.count(_.numInputRows > 0)
    val half = c.nSlices / 2
    val t0 = System.nanoTime()
    val q1 = start(out, ckpt)
    val deadline = System.currentTimeMillis() + drainDeadlineMs(inRows)
    // also break on query death: a failed first run would otherwise spin
    // the full deadline and then misreport the restart as restore_s
    while (q1.isActive && dataBatches(c.recorder.seen(q1.runId)) < half &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q1.exception.foreach { e =>
      throw new IllegalStateException(
        s"stage $name failed before the kill point", e)
    }
    q1.stop() // the KILL: uncommitted work is abandoned mid-replay
    val firstWall = (System.nanoTime() - t0) / 1e9
    val p1 = c.recorder.of(q1)
    val t1 = System.nanoTime()
    val q2 = start(out, ckpt)
    q2.processAllAvailable()
    val restoreS = (System.nanoTime() - t1) / 1e9
    q2.stop()
    val p2 = c.recorder.of(q2)
    s"""${progressJson(p1 ++ p2, inRows, sinkRows(c.spark, out), firstWall + restoreS)},""" +
      s""""batches_before_kill":${dataBatches(p1)},""" +
      s""""restore_s":${Json.decimal(restoreS, 2)}"""
  }

  /** Final ownership state rows of a finished run. */
  private def lastStateRows(progress: Seq[StreamingQueryProgress]): Long =
    progress.filter(_.stateOperators.nonEmpty)
      .lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)

  // ---------------------------------------------------------------- stages

  // stage 1: watermarked tumbling aggregation over the events replay
  private def sb(c: Ctx): String =
    drain(c, "sb", streaming.EventStreams.tumblingSignupsOn(c.eventsStream, "1 hour"),
      OutputMode.Complete, c.totalRows)

  // stage 2: near-dup ingest gate (stateless stream-static anti-joins;
  // static sides read from the fingerprint-keyed LANDED stages, so a
  // bench run after a verify run pays a parquet scan, not a
  // shingle-pipeline derivation — the gate-restart contract)
  private def gateDf(c: Ctx): DataFrame =
    streaming.TextStreams.nearDupGateLanded(c.spark, c.arrivals, c.sfDir,
      banding = c.lakeBanding)
  private def gate(c: Ctx): String =
    drain(c, "gate", gateDf(c), OutputMode.Append, c.gateIn)

  // stage 2': the SLO view of the DEDUP SERVICE itself — the near-dup
  // gate under a paced cadence, not drain rate. The file source's
  // maxFilesPerTrigger=1 admits exactly one pre-sliced arrival
  // segment per trigger, so offered rows/s = (rows/slice)/interval;
  // the interval is sized from the gate's own as-fast per-batch p50
  // and latency is measured against the best-fit schedule origin,
  // same contract as paced_50/paced_90.
  private def pacedGate(c: Ctx): String = {
    val intervalMs = fitIntervalMs(batchP50Ms(c.measured("gate")._1))
    pacedStage(c, "paced_gate", gateDf(c), OutputMode.Append, c.gateIn,
      intervalMs, c.nSlices.toLong,
      (c.gateIn.toDouble / c.nSlices) / (intervalMs / 1000.0))
  }

  // stage 3: stateless IVF cell assignment of the embedding stream
  // (the vector store's write path — literal broadcast centroids,
  // per-row argmin, zero shuffles)
  private def cellAssign(c: Ctx): String =
    drain(c, "cell_assign",
      streaming.VectorStreams.cellAssign(c.spark, c.embStream, c.sfDir),
      OutputMode.Append, c.embRows)

  // stage 4: timer-driven inactivity sessions over the event replay —
  // watermark-evicted ValueState + event-time timers; the state
  // telemetry shows sessions closing (removed > 0) as the watermark
  // advances across micro-batches. KILLED mid-replay and restored:
  // recovery here must replay BOTH the per-key session aggregates and
  // the registered event-time timers (the timer replay path the other
  // kill-restore stages don't exercise)
  private def sessionTimers(c: Ctx): String = {
    import c.spark.implicits._
    def sessionsIn = c.eventsStream
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", "10 seconds")
      .select(col("user_id"), unix_millis(col("ts")))
      .as[(String, Long)]
    killRestore(c, "session_timers", c.totalRows, (out, ckpt) =>
      streaming.SessionTimers.inactivitySessions(c.spark, sessionsIn,
        gapMs = 30 * 60 * 1000L)
        .toDF().writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start())
  }

  // stage 5: intra-stream LSH near-dup collisions — per-band-signature
  // first-arrival ownership in the state store. Un-TTL'd here (a TTL'd
  // run needs processing-time triggers, which never go idle under
  // processAllAvailable — see the operator docs); state rows climb
  // toward distinct band signatures and hold there, the dedup-history
  // footprint a TTL would bound to its horizon in production. KILLED
  // mid-replay and restored: of the stateful stages this one has the
  // LARGEST state (O(distinct signatures)), so its restore_s is the
  // changelog-replay cost the others understate.
  private def lshDedup(c: Ctx): String =
    killRestore(c, "lsh_dedup", c.gateIn, (out, ckpt) =>
      streaming.TextStreams.streamingLshCollisions(c.spark, c.arrivalsText,
        banding = c.lakeBanding)
        .toDF().writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start())

  // stage 5a': the TTL'd lsh_dedup variant MEASURED, not asserted —
  // the production setting bounds ownership to a TTL horizon. Driven by
  // a fixed ProcessingTime trigger because a TTL'd state store runs on
  // the processing-time clock (processAllAvailable never sees it idle);
  // the settle window after the last admission gives the clock time to
  // evict, so rows_last shows the post-horizon plateau and
  // ttl_expired > 0 shows the cleanup actually ran.
  private def lshDedupTtl(c: Ctx): String = {
    val (outRows, progress, wall) = toMemory(c, "lsh_dedup_ttl",
      streaming.TextStreams.streamingLshCollisions(c.spark, c.arrivalsText,
        TTLConfig(java.time.Duration.ofMillis(TtlMs)), banding = c.lakeBanding)
        .toDF(),
      OutputMode.Append, Some(Paced(500L, c.gateIn, 2 * TtlMs + 1500)))(_.count())
    s"""${progressJson(progress, c.gateIn, outRows, wall)},"ttl_ms":$TtlMs"""
  }

  private def admitDf(c: Ctx, ttl: TTLConfig): DataFrame =
    streaming.TextStreams.streamingNearDupAdmit(c.spark, c.arrivalsText, ttl,
      banding = c.lakeBanding).toDF()

  // stage 5a'''': the ADMIT surface measured — streamingNearDupAdmit
  // emits one ownership verdict per (arrival, band) (4 per banded
  // doc, 1 per short doc: ~4x the collision feed's worst case, the
  // price of a total output), same single state operator, same TTL
  // horizon. `admitted` is the foreachBatch reduction's answer — the
  // deduped stream a consumer actually keeps (here reduced over the
  // whole run: doc_ids are unique, so the per-batch and whole-run
  // reductions agree).
  private def admit(c: Ctx): String = {
    val ((outRows, admitted), progress, wall) = toMemory(c, "admit",
      admitDf(c, TTLConfig(java.time.Duration.ofMillis(TtlMs))),
      OutputMode.Append, Some(Paced(500L, c.gateIn, 2 * TtlMs + 1500)))(v =>
      (v.count(), streaming.TextStreams.admittedOf(v).count()))
    c.measured("admit") = (progress, wall)
    s"""${progressJson(progress, c.gateIn, outRows, wall)},""" +
      s""""admitted":$admitted,"ttl_ms":$TtlMs"""
  }

  // stage 5a''''': the admit surface's SLO view — the totality cost
  // (4 verdicts per banded doc + the total output) priced as a
  // kept-up question: the SAME pipeline on a trigger interval sized
  // from ITS OWN measured per-batch p50 (fitIntervalMs x1.3 headroom,
  // the paced_gate contract). kept_up=true here means a deployment
  // paying for total verdicts still meets an offered rate ~75% of
  // its drain rate; the drain-rate gap vs the collisions-only twin
  // stays visible in the admit/lsh_dedup_ttl rows_per_sec ratio.
  private def pacedAdmit(c: Ctx): String = {
    val intervalMs = fitIntervalMs(batchP50Ms(c.measured("admit")._1))
    pacedStage(c, "paced_admit",
      admitDf(c, TTLConfig(java.time.Duration.ofMillis(TtlMs))),
      OutputMode.Append, c.gateIn, intervalMs, c.nSlices.toLong,
      (c.gateIn.toDouble / c.nSlices) / (intervalMs / 1000.0))
  }

  // stage 5a''''''c: the un-TTL'd admit surface drained as fast as it
  // runs — the admit twin of lsh_dedup's drain rate, and the admit row
  // of the scale rehearsals (state climbs to bands x docs and holds)
  private def admitDrain(c: Ctx): String =
    drain(c, "admit_drain", admitDf(c, TTLConfig.NONE), OutputMode.Append,
      c.gateIn)

  // stage 5a'': the COMPACTION handoff measured. Phase 1 arrivals
  // accrete ownership state; then IndexCompaction folds them into the
  // landed gate index (the once-per-interval batch job); phase 2 runs
  // against the compacted gate with a FRESH stream — its state holds
  // only the phase-2 horizon. phase1_state_rows vs phase2_state_rows
  // is the state the compaction moved out of the store; CompactionSpec
  // pins that the drop DECISION is unchanged across the move.
  private def lshCompaction(c: Ctx): String = {
    import streaming.IndexCompaction
    val spark = c.spark
    val mid = c.arrivalsBatch.stat
      .approxQuantile("doc_id", Array(0.5), 0.001).head
    val p1 = c.arrivalsBatch.filter(col("doc_id") <= mid)
    val p2 = c.arrivalsBatch.filter(col("doc_id") > mid)
    val n2 = p2.count()
    val half = math.max(2, c.nSlices / 2)
    sliceOrdered(p1, "doc_id", half, s"${c.base}/docs_p1")
    sliceOrdered(p2, "doc_id", half, s"${c.base}/docs_p2")
    def str(path: String) = c.fileStream(c.arrivalsBatch.schema, path)
    def ownershipRows(name: String, path: String): Long = {
      val (_, progress, _) = toMemory(c, name,
        streaming.TextStreams.streamingLshCollisions(spark,
          str(path).select(col("doc_id"), col("text")),
          banding = c.lakeBanding).toDF(),
        OutputMode.Append)(_ => ())
      lastStateRows(progress)
    }
    // phase 1: ownership accretes over the phase-1 replay
    val rowsBefore = ownershipRows("lshc_p1", s"${c.base}/docs_p1")
    // the compaction job: phase-1 docs have landed in the lake
    val idxRoot = s"${c.base}/gate_index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxRoot))
    // epoch-0 init is the one-time O(corpus) base build — keep it
    // OUTSIDE the timed section so compact_s measures what the
    // per-interval job actually costs: the O(new docs) delta
    IndexCompaction.init(spark, idxRoot, c.corpus, banding = c.lakeBanding)
    val tC = System.nanoTime()
    IndexCompaction.compact(spark, idxRoot,
      p1.select(col("doc_id"), col("text")))
    val compactS = (System.nanoTime() - tC) / 1e9
    // phase 2: gate owns phase-1 buckets statically now
    val (admitted, gProg, gWall) = toMemory(c, "lshc_gate",
      IndexCompaction.gate(spark, idxRoot, str(s"${c.base}/docs_p2")),
      OutputMode.Append)(_.count())
    val rowsAfter = ownershipRows("lshc_p2", s"${c.base}/docs_p2")
    // MAJOR compaction: fold the delta-epoch segments into one.
    // Measured here because its cost is what bounds how often a
    // deployment can afford to re-base the gate's union-read; the
    // decision-equality across merge is pinned in CompactionSpec.
    val segsBefore = IndexCompaction.epochs(idxRoot).size
    val tM = System.nanoTime()
    IndexCompaction.merge(spark, idxRoot)
    val mergeS = (System.nanoTime() - tM) / 1e9
    val segsAfter = IndexCompaction.epochs(idxRoot).size
    s""""phase1_state_rows":$rowsBefore,""" +
      s""""compact_s":${Json.decimal(compactS, 2)},""" +
      s""""phase2_state_rows":$rowsAfter,""" +
      s""""gate_dropped_after":${n2 - admitted},""" +
      s""""merge_s":${Json.decimal(mergeS, 2)},""" +
      s""""segments":{"before":$segsBefore,"after":$segsAfter},""" +
      s""""gate_after":{${progressJson(gProg, n2, admitted, gWall)}}"""
  }

  // stage 5a''': the COMPOSED SERVICE measured over REPEATED
  // compaction intervals — the steady-state claim, not one handoff.
  // ONE TTL'd intra-stream collision query runs CONTINUOUSLY across
  // all cycles while, per cycle: a FRESH GATE is constructed from the
  // current epoch index (the rebuild a deployment pays after each
  // compaction — measured in-line), the cycle's arrivals replay
  // through gate + collision query together, the cycle's docs land
  // in the lake, and a MINOR compaction folds them into the index;
  // the middle cycle also runs the MAJOR merge concurrently with the
  // live query and the next cycle's gate reads the post-merge epoch
  // set (the grace-period deletion contract exercised end-to-end).
  // The artifact is the per-cycle sawtooth: state rows climb while
  // the cycle replays, then drain to the TTL plateau; compact_s
  // stays O(delta) across cycles; epochs follow the minor/major
  // cadence.
  private def dedupService(c: Ctx): String = {
    import streaming.IndexCompaction
    val spark = c.spark
    val nCycles = 3
    val svcRoot = s"${c.base}/svc_docs"
    val idxRoot = s"${c.base}/svc_index"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(svcRoot))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxRoot))
    new java.io.File(svcRoot).mkdirs()
    val arrivalsBatch = c.arrivalsBatch
    val qs = arrivalsBatch.stat
      .approxQuantile("doc_id", Array(1.0 / 3, 2.0 / 3), 0.001)
    val phases = Seq(
      arrivalsBatch.filter(col("doc_id") <= qs(0)),
      arrivalsBatch.filter(col("doc_id") > qs(0) && col("doc_id") <= qs(1)),
      arrivalsBatch.filter(col("doc_id") > qs(1)))
    IndexCompaction.init(spark, idxRoot, c.corpus, banding = c.lakeBanding)
    val collQ = streaming.TextStreams.streamingLshCollisions(spark,
        c.fileStream(arrivalsBatch.schema, svcRoot)
          .select(col("doc_id"), col("text")),
        TTLConfig(java.time.Duration.ofMillis(TtlMs)), banding = c.lakeBanding)
      .toDF().writeStream.format("memory").queryName("svc_coll")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .outputMode(OutputMode.Append).start()
    var fed = 0L
    val cycleJsons = try (0 until nCycles).map { cyc =>
      val ph = phases(cyc)
      val nPh = ph.count()
      val cycDir = s"${c.base}/svc_c$cyc"
      sliceOrdered(ph, "doc_id", math.max(2, c.nSlices / nCycles), cycDir)
      val progBefore = c.recorder.seen(collQ.runId).size
      // gate REBUILD from the live epoch listing: O(read) of the
      // index segments, the per-interval restart cost
      val tG = System.nanoTime()
      val gateDf = IndexCompaction.gate(spark, idxRoot,
        c.fileStream(arrivalsBatch.schema, cycDir))
      val gateBuildS = (System.nanoTime() - tG) / 1e9
      // feed the SAME arrival files to the standing collision query
      // (distinct mtimes keep the file source's replay order)
      new java.io.File(cycDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            new java.io.File(svcRoot, s"c${cyc}_${f.getName}").toPath)
          Thread.sleep(15)
        }
      val (admitted, _, _) = toMemory(c, s"svc_gate_$cyc", gateDf,
        OutputMode.Append)(_.count())
      fed += nPh
      awaitAdmitted(c, "dedup_service", collQ, fed)
      // settle past the TTL horizon: the sawtooth's drain edge
      Thread.sleep(2 * TtlMs + 1500)
      val cycleProg = c.recorder.seen(collQ.runId).drop(progBefore)
        .filter(_.stateOperators.nonEmpty)
      val rowsMax =
        if (cycleProg.isEmpty) 0L
        else cycleProg.map(_.stateOperators.map(_.numRowsTotal).sum).max
      val rowsLast = lastStateRows(cycleProg)
      // the cycle's docs have landed: fold them into the gate index
      val tC = System.nanoTime()
      IndexCompaction.compact(spark, idxRoot,
        ph.select(col("doc_id"), col("text")))
      val compactS = (System.nanoTime() - tC) / 1e9
      // middle cycle: MAJOR merge while the collision query is live
      val mergeS =
        if (cyc == nCycles / 2) {
          val tM = System.nanoTime()
          IndexCompaction.merge(spark, idxRoot)
          (System.nanoTime() - tM) / 1e9
        } else -1.0
      val epochsAfter = IndexCompaction.epochs(idxRoot).size
      s"""{"cycle":$cyc,"arrivals":$nPh,"gate_admitted":$admitted,""" +
        s""""gate_dropped":${nPh - admitted},""" +
        s""""gate_build_s":${Json.decimal(gateBuildS, 2)},""" +
        s""""state_rows_max":$rowsMax,"state_rows_settled":$rowsLast,""" +
        s""""compact_s":${Json.decimal(compactS, 2)},""" +
        s""""merge_s":${if (mergeS < 0) "-1" else Json.decimal(mergeS, 2)},""" +
        s""""epochs_after":$epochsAfter}"""
    } finally {
      collQ.stop()
      spark.catalog.dropTempView("svc_coll")
    }
    s""""ttl_ms":$TtlMs,"cycles":[${cycleJsons.mkString(",")}]"""
  }

  // stage 5a'''b: the gate REBUILD priced against index segmentation
  // — the input to the MAJOR-merge cadence dedup_service runs. Every
  // interval and every restart pays IndexCompaction.gate's eager
  // static side (union-read every epoch's bands/hashes, checkpoint
  // both); minor compactions keep it O(corpus read) but grow the
  // segment count. The SAME corpus is spread over 1/4/16/64 delta
  // epochs by doc_id range and `build_s` timed at each; at the widest
  // point `merge_s` is the MAJOR merge back to one segment and
  // `build_after_merge_s` the rebuild it buys. The merge pays for
  // itself once the per-interval rebuild delta beats its amortized
  // cost. A throwaway index is built and read first, so the first
  // point does not absorb codegen and parquet-reader start-up.
  private def gateRebuild(c: Ctx): String = {
    import streaming.IndexCompaction
    val spark = c.spark
    val docs = c.docs.select(col("doc_id"), col("text")).localCheckpoint(true)
    val n = docs.count()
    val b2 = s"${c.base}/gate_rebuild"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(b2))
    def buildSecs(root: String): Double = {
      val t0 = System.nanoTime()
      IndexCompaction.bands(spark, root).localCheckpoint(true).count(): Unit
      IndexCompaction.hashes(spark, root).localCheckpoint(true).count(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    IndexCompaction.init(spark, s"$b2/warmup", docs)
    buildSecs(s"$b2/warmup"): Unit
    val widths = Seq(1, 4, 16, 64)
    val points = widths.map { e =>
      val root = s"$b2/idx_$e"
      val bounds = docs.stat.approxQuantile("doc_id",
        (1 to e).map(_.toDouble / e).toArray, 0.001)
      var lo = Long.MinValue
      bounds.foreach { b =>
        val hi = b.toLong
        val slice = docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        // epoch 0 derives its banding from its own slice (Auto), as the
        // committed gate_rebuild artifacts were measured
        if (IndexCompaction.epochs(root).isEmpty)
          IndexCompaction.init(spark, root, slice)
        else IndexCompaction.compact(spark, root, slice): Unit
        lo = hi
      }
      (IndexCompaction.epochs(root).size, buildSecs(root))
    }
    val widest = s"$b2/idx_${widths.last}"
    val tM = System.nanoTime()
    IndexCompaction.merge(spark, widest): Unit
    val mergeS = (System.nanoTime() - tM) / 1e9
    val afterS = buildSecs(widest)
    s""""docs":$n,"points":[${points.map { case (e, secs) =>
        s"""{"epochs":$e,"build_s":${Json.decimal(secs, 2)}}"""
      }.mkString(",")}],""" +
      s""""merge_s":${Json.decimal(mergeS, 2)},""" +
      s""""build_after_merge_s":${Json.decimal(afterS, 2)}"""
  }

  // stage 5a'''''': the live per-(domain, lang) HLL dataset card —
  // streamingHllBy maintains every group's 256-register sketch in ONE
  // operator (state bounded by 256 x groups, ≤24 emissions per
  // register over the stream's lifetime). After the full replay each
  // group's hllEstimate must EQUAL the oracle-checked batch q134
  // n_hll — groups_match counts that equality. The sketch stages'
  // corpus-size-INDEPENDENT state bounds are the claims a new decade
  // can falsify cheaply.
  private def hllLive(c: Ctx): String = {
    val spark = c.spark
    import spark.implicits._
    val docsAll = c.docs.select(col("doc_id"), col("lang"), col("text"))
    val nDocs = docsAll.count()
    sliceOrdered(docsAll, "doc_id", c.nSlices, s"${c.base}/docs_all")
    val dstream = c.fileStream(docsAll.schema, s"${c.base}/docs_all")
    val toks = dstream.select(lit("token").as("domain"), col("lang"),
      explode(split(col("text"), " ")).as("item"))
    val shing = dstream
      .select(col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(lit("shingle").as("domain"), col("lang"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(w)-3), i -> concat_ws(' ', slice(w, i+1, 3)))"
        ))).as("item"))
    val items = toks.unionAll(shing)
      .select(concat_ws("|", col("domain"), col("lang")), col("item"))
      .as[(String, String)]
    val (regs, progress, wall) = toMemory(c, "hll_live",
      streaming.TextStreams.streamingHllBy(spark, items).toDF("grp", "bucket", "r"),
      OutputMode.Update)(_.as[(String, Long, Int)].collect())
    val est = regs.groupBy(_._1).view.mapValues(rs =>
      streaming.TextStreams.hllEstimate(rs.map(t => (t._2, t._3)))).toMap
    val batch = SparkEntry.queries("q134_hll_distinct")(spark, c.sfDir)
      .select(concat_ws("|", col("domain"), col("lang")).as("g"),
        col("n_hll"))
      .as[(String, Long)].collect().toMap
    val matches = batch.count { case (g, n) => est.get(g).contains(n) }
    // in_rows: both stream branches scan the doc replay → 2x docs
    s"""${progressJson(progress, 2 * nDocs, regs.length.toLong, wall)},""" +
      s""""groups":${batch.size},"groups_match":$matches,""" +
      s""""state_rows_bound":${256L * batch.size}"""
  }

  // stage 5a''''''b: the live count-min frequency sketch —
  // streamingCountMin maintains the q90 d×w cell table incrementally
  // (ONE state row per sketch cell), so state is bounded at 4·w = 64
  // rows CORPUS-SIZE-INDEPENDENT — the strongest state bound in this
  // file: the sketch never grows with the stream, only its cell sums
  // do. After the full replay, every vocabulary term's
  // min-over-hash-rows estimate read from the live cells must EQUAL
  // the oracle-checked batch q90 estimate (terms_match == vocab).
  private def countMinLive(c: Ctx): String = {
    val spark = c.spark
    import spark.implicits._
    val w = operators.Text.CountMinWidth
    val docsAll = c.docs.select(col("doc_id"), col("text"))
    val nToks = docsAll.select(explode(split(col("text"), " "))).count()
    sliceOrdered(docsAll, "doc_id", c.nSlices, s"${c.base}/docs_cm")
    val terms = c.fileStream(docsAll.schema, s"${c.base}/docs_cm")
      .select(explode(split(col("text"), " ")).as("t")).as[String]
    val (emitted, progress, wall) = toMemory(c, "countmin_live",
      streaming.TextStreams.streamingCountMin(spark, terms).toDF("cell", "csum"),
      OutputMode.Update)(_.as[(Long, Long)].collect())
    // cell sums are monotone, so the max emission per cell is the
    // final cell value — no snapshot read of the state store needed
    val cells = emitted.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batch = SparkEntry.queries("q90_countmin")(spark, c.sfDir)
      .select(col("term"), col("est")).as[(String, Long)].collect().toMap
    val matches = batch.count { case (term, est) =>
      val live = (0 until 4).map { j =>
        cells.getOrElse(
          j.toLong * w + streaming.TextStreams.hash60(s"$term#$j") % w, 0L)
      }.min
      live == est
    }
    s"""${progressJson(progress, nToks, emitted.length.toLong, wall)},""" +
      s""""vocab":${batch.size},"terms_match":$matches,""" +
      s""""state_rows_bound":${4L * w}"""
  }

  // stage 5a''''''': the COMPOSED INGEST LOOP — gate → admit →
  // exactly-once landing → minor compaction, repeated over three
  // cycles from an EMPTY index (streaming.IngestLoop, the pipeline
  // the other stages measure piecewise). Invariant per cycle:
  // admitted == landed == folded. End to end the landed set is
  // audited against the oracle-checked batch q123 keep set —
  // missed_q123 must be 0 (the loop never drops a q123 keeper) and
  // every extra admit must be a cross-cycle bridge whose earlier
  // band sharers were ALL never landed (extras_bridge_only; the
  // policy IngestLoopSpec pins).
  private def ingestLoop(c: Ctx): String = {
    import streaming.{IndexCompaction, IngestLoop}
    val spark = c.spark
    import spark.implicits._
    val b2 = s"${c.base}/ingest"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(b2))
    val idxRoot = s"$b2/index"; val landRoot = s"$b2/landed"
    val docsAll = c.docs.select(col("doc_id"), col("text"))
    IndexCompaction.init(spark, idxRoot, docsAll.filter(lit(false)),
      banding = c.lakeBanding)
    val qsI = docsAll.stat
      .approxQuantile("doc_id", Array(1.0 / 3, 2.0 / 3), 0.001)
    val phases = Seq(
      docsAll.filter(col("doc_id") <= qsI(0)),
      docsAll.filter(col("doc_id") > qsI(0) && col("doc_id") <= qsI(1)),
      docsAll.filter(col("doc_id") > qsI(1)))
    // SPARK_GRAFT_FILES_PER_TRIGGER amortizes the per-micro-batch
    // fixed cost (IngestLoop.runCycle prices it) at higher SF; the
    // admit decision is trigger-size-invariant (IngestLoopSpec)
    val filesPerTrigger =
      sys.env.getOrElse("SPARK_GRAFT_FILES_PER_TRIGGER", "1").toInt
    val cycleJ = phases.zipWithIndex.map { case (ph, cyc) =>
      val cycDir = s"$b2/in_$cyc"
      sliceOrdered(ph, "doc_id", math.max(2, c.nSlices / 3), cycDir)
      val st = IngestLoop.runCycle(spark, idxRoot, landRoot, cyc, cycDir,
        ph.schema, ph.count(), filesPerTrigger = filesPerTrigger)
      s"""{"cycle":$cyc,"arrivals":${st.arrivals},""" +
        s""""gate_admitted":${st.gateAdmitted},""" +
        s""""admitted":${st.admitted},"landed":${st.landed},""" +
        s""""folded":${st.folded},"epochs_after":${st.epochsAfter},""" +
        s""""gate_build_s":${Json.decimal(st.gateBuildS, 2)},""" +
        s""""drain_s":${Json.decimal(st.drainWallS, 2)},""" +
        s""""compact_s":${Json.decimal(st.compactS, 2)},""" +
        s""""batches":${st.batches}}"""
    }
    val landedIds = IngestLoop.landedAll(spark, landRoot)
      .select(col("doc_id")).as[Long].collect().toSet
    val dropSet = operators.Text.arrivalDedup(spark, c.sfDir)
      .select(col("doc_id")).as[Long].collect().toSet
    val allIds = docsAll.select(col("doc_id")).as[Long].collect().toSet
    val keep = allIds -- dropSet
    val extras = landedIds -- keep
    val missed = keep -- landedIds
    val bridgeOnly =
      if (extras.isEmpty) true
      else {
        val bands = operators.Text.mhBands(
          operators.Text.minhashAgg(spark, c.sfDir, c.lakeBanding), c.lakeBanding)
        bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") &&
              col("a.sig") === col("b.sig") &&
              col("b.doc_id") < col("a.doc_id"))
          .select(col("a.doc_id").as("e"), col("b.doc_id").as("earlier"))
          .filter(col("e").isin(extras.toSeq: _*))
          .select(col("earlier")).distinct()
          .as[Long].collect().forall(d => !landedIds.contains(d))
      }
    s""""cycles":[${cycleJ.mkString(",")}],""" +
      s""""files_per_trigger":$filesPerTrigger,""" +
      s""""landed_total":${landedIds.size},"q123_keep":${keep.size},""" +
      s""""extra_admitted":${extras.size},"missed_q123":${missed.size},""" +
      s""""extras_bridge_only":$bridgeOnly"""
  }

  // stage 5a'''''''b: the ingest loop's files-per-trigger knob on ONE
  // fixed arrival set — every document, sliced into 12 files — drained
  // under filesPerTrigger 1, 3 and 12 (12, 4 and 1 micro-batches), each
  // from its own EMPTY index. `drain_s`/`batches` price the knob: the
  // drain pays a near-constant cost per micro-batch, so fpt=12
  // approaches the pure data cost. The landed doc_id set must be
  // IDENTICAL at every setting (trigger-size invariance, the
  // IngestLoopSpec pin, rerun at bench scale); the stage fails
  // otherwise.
  private def ingestKnob(c: Ctx): String = {
    import streaming.{IndexCompaction, IngestLoop}
    val spark = c.spark
    import spark.implicits._
    val b2 = s"${c.base}/ingest_knob"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(b2))
    val docsAll = c.docs.select(col("doc_id"), col("text"))
    val n = docsAll.count()
    val files = 12
    sliceOrdered(docsAll, "doc_id", files, s"$b2/in")
    val runs = Seq(1, 3, files).map { fpt =>
      val idxRoot = s"$b2/index_$fpt"; val landRoot = s"$b2/landed_$fpt"
      IndexCompaction.init(spark, idxRoot, docsAll.filter(lit(false)),
        banding = c.lakeBanding)
      val st = IngestLoop.runCycle(spark, idxRoot, landRoot, 0, s"$b2/in",
        docsAll.schema, n, filesPerTrigger = fpt)
      val landed = IngestLoop.landedAll(spark, landRoot)
        .select(col("doc_id")).as[Long].collect().toSet
      (fpt, st, landed)
    }
    val ref = runs.head._3
    for ((fpt, _, landed) <- runs) require(landed == ref,
      s"fpt=$fpt landed a DIFFERENT set (${landed.size} vs ${ref.size}): " +
        "trigger-size invariance violated")
    s""""arrivals":$n,"files":$files,"landed_set_identical":true,""" +
      s""""runs":[${runs.map { case (fpt, st, _) =>
        s"""{"files_per_trigger":$fpt,"batches":${st.batches},""" +
          s""""drain_s":${Json.decimal(st.drainWallS, 2)},""" +
          s""""s_per_batch":${Json.decimal(st.drainWallS / math.max(1, st.batches), 2)},""" +
          s""""landed":${st.landed}}"""
      }.mkString(",")}]"""
  }

  // stage 5b: the DSv2 paced replay source itself, over a multi-file
  // segment directory built from the events table — measures what the
  // custom source sustains (admission-controlled offsets, per-file
  // executor-side parsing) rather than the built-in file source.
  // eventsPerBatch is sized for ~nSlices micro-batches, matching the
  // other stages' batch structure.
  private def replaySource(c: Ctx): String =
    drain(c, "replay_source", streaming.EventStreams.tumblingSignupsOn(
      c.replayStream(math.max(1, c.replayRows / c.nSlices)), "1 hour"),
      OutputMode.Complete, c.replayRows.toLong)

  /** The replay pipeline offered `perBatch` events per `intervalMs`. */
  private def pacedReplay(c: Ctx, tag: String, perBatch: Int,
      intervalMs: Long, offeredRps: Double): String =
    pacedStage(c, s"paced_$tag", streaming.EventStreams.tumblingSignupsOn(
      c.replayStream(perBatch), "1 hour"),
      OutputMode.Complete, c.replayRows.toLong, intervalMs,
      math.ceil(c.replayRows.toDouble / perBatch).toLong, offeredRps)

  /** The as-fast replay's drain rate, rows/s. */
  private def replayMaxRps(c: Ctx): Double =
    c.replayRows / math.max(c.measured("replay_source")._2, 0.001)

  // stage 5b': latency under a SUSTAINED ARRIVAL RATE, not drain
  // rate — the number an SLO is written against. The as-fast replay
  // above measures what the pipeline can drain; production offers a
  // RATE, and the binding metric is event-to-commit latency at that
  // rate. The DSv2 source's admission control paces the offer:
  // eventsPerBatch per fixed ProcessingTime trigger = the offered
  // rows/s. Per data batch, latency = commit end − the batch's
  // SCHEDULED admission instant (first-batch start + k·interval) —
  // falling behind the offered rate accumulates queueing delay into
  // the number, exactly as an arriving event experiences it. Run at
  // 50% and 90% of the measured as-fast throughput. The trigger
  // interval is a deployment knob sized from the as-fast run's measured
  // per-batch p50 (see fitIntervalMs), exactly as a deployment would:
  // the latency floor scales with the interval, which is the
  // micro-batch latency/efficiency trade-off stated honestly.
  private def pacedAt(tag: String, frac: Double)(c: Ctx): String = {
    val intervalMs = fitIntervalMs(batchP50Ms(c.measured("replay_source")._1))
    val rps = replayMaxRps(c) * frac
    pacedReplay(c, tag, math.max(1, (rps * intervalMs / 1000.0).toInt),
      intervalMs, rps)
  }

  // stage 5b'': NEGATIVE CONTROL — the same pipeline deliberately
  // OVER-offered: as-fast-sized batches on a trigger interval set
  // BELOW the measured per-batch cost (~60% of p50), an offered rate
  // no interval-sizing could sustain. The backlog instrumentation has
  // only ever been artifacted in the kept-up direction; this stage
  // must report kept_up=false with visibly growing drift, proving the
  // SLO instrument reads both ways (a detector that has never fired
  // is unproven exactly where it matters).
  private def pacedOver(c: Ctx): String = {
    val overMs = math.max(250L,
      ((batchP50Ms(c.measured("replay_source")._1) * 0.6) / 250.0).toLong * 250L)
    // batch size derived from the OFFERED RATE (120% of measured
    // as-fast drain), not from the as-fast batch shape: when the
    // interval clamps to the 250 ms floor on a fast host, a
    // shape-derived batch can quietly become sustainable and the
    // negative control stops being negative (observed on a quiet
    // run: kept_up=true at the floor). 1.2x the drain rate cannot
    // be sustained whatever the batch size.
    val perBatch = math.max(1,
      math.ceil(1.2 * replayMaxRps(c) * overMs / 1000.0).toInt)
    pacedReplay(c, "over", perBatch, overMs, perBatch * 1000.0 / overMs)
  }

  // stage 5c: multimodal CAS ingest gate — binary payloads through
  // content-address dedup (watermark-bounded intra-stream state keyed
  // by the 16-byte checksum + broadcast anti-join vs the landed
  // store); payload bytes never shuffle
  private def blobIngest(c: Ctx): String = {
    val landedBlobs = c.corpus
      .select(encode(col("text"), "UTF-8").as("payload"))
      .withColumn("meta", struct(md5(col("payload")).as("checksum")))
    drain(c, "blob_ingest",
      streaming.MediaStreams.blobIngest(
        c.arrivals.select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"), col("eventTime")),
        landedBlobs),
      OutputMode.Append, c.gateIn)
  }

  // stage 6: span contamination audit — watermark-finalized per-doc
  // span accounting, KILLED mid-replay and restored from checkpoint.
  // Append mode: the advancing eventTime finalizes groups as the
  // watermark passes them, so state stays bounded and emits flow
  // batch-over-batch (the production shape). The foreachBatch sink is
  // EXACTLY-once, not at-least-once: each batch lands in its own
  // batch_id partition via the idempotent dynamic-overwrite writer, so
  // a batch replayed after the kill overwrites itself instead of
  // appending duplicates (plain mode("append") would double-count any
  // batch whose files landed before the offset commit).
  private def spanAudit(c: Ctx): String =
    killRestore(c, "span_audit", c.gateIn, (out, ckpt) =>
      streaming.TextStreams.spanContaminationAudit(c.arrivals, c.corpus)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          sources.Sinks.backfillPartitions(
            df.withColumn("batch_id", lit(batchId)), "batch_id", out)
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start())

  // stage 7: standing-query retrieval — frozen-stats scoring + per-query
  // stateful top-k, KILLED mid-replay and restored (top-k state must
  // survive; ReplaySourceSpec/EventStreamsSpec pin the semantics,
  // this measures the cost)
  private def standingRetrieval(c: Ctx): String =
    killRestore(c, "standing_retrieval", c.gateIn, (out, ckpt) =>
      streaming.TextStreams.standingRetrieval(c.spark, c.arrivals, c.sfDir)
        .toDF().writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start())

  // stage LAST: the stream-stream range join (q149's streaming twin)
  // — both sides of the no-equi-key temporal join read the SAME
  // events replay; the time-bucket fanout (err side probes b−1/b/b+1)
  // gives the symmetric hash join its equi-key, and the 10 s
  // watermark plus the ±60 s range condition bound BOTH sides'
  // buffered state to the horizon — expect rows_max to plateau and
  // removed > 0 as the watermark advances across micro-batches
  // (horizon-bounded, not input-tracking). Runs LAST deliberately:
  // the join holds 4 state stores × 32 partitions, and at sf1 the
  // loaded RocksDB providers linger past q.stop() until store
  // maintenance unloads them — run mid-sweep they inflate the
  // following stateful stages' batch times ~2x (measured: lsh_dedup
  // 16 → 40 s wall when this stage preceded it).
  private def nearbyPairs(c: Ctx): String =
    drain(c, "nearby_pairs", streaming.EventStreams.nearbyPairs(c.eventsStream),
      OutputMode.Append, c.totalRows)

  /** Every stage, keyed by its JSON name, in run order. */
  private val table: Seq[(String, Ctx => String)] = Seq(
    "sb" -> sb _, "gate" -> gate _, "paced_gate" -> pacedGate _,
    "cell_assign" -> cellAssign _, "session_timers" -> sessionTimers _,
    "lsh_dedup" -> lshDedup _, "lsh_dedup_ttl" -> lshDedupTtl _,
    "admit" -> admit _, "paced_admit" -> pacedAdmit _,
    "admit_drain" -> admitDrain _, "lsh_compaction" -> lshCompaction _,
    "dedup_service" -> dedupService _, "gate_rebuild" -> gateRebuild _,
    "hll_live" -> hllLive _, "countmin_live" -> countMinLive _,
    "ingest_loop" -> ingestLoop _, "ingest_knob" -> ingestKnob _,
    "replay_source" -> replaySource _, "paced_50" -> pacedAt("50", 0.5) _,
    "paced_90" -> pacedAt("90", 0.9) _, "paced_over" -> pacedOver _,
    "blob_ingest" -> blobIngest _, "span_audit" -> spanAudit _,
    "standing_retrieval" -> standingRetrieval _, "nearby_pairs" -> nearbyPairs _)

  /** Stage names in run order. */
  private[graft] val stageNames: Seq[String] = table.map(_._1)

  /** Each paced stage's as-fast twin, whose measured per-batch cost
    * sizes its trigger interval.
    */
  private val twinOf = Map("paced_gate" -> "gate", "paced_admit" -> "admit",
    "paced_50" -> "replay_source", "paced_90" -> "replay_source",
    "paced_over" -> "replay_source")

  /** RocksDB state from this stage on, with changelog checkpointing:
    * each commit uploads the batch's changed keys instead of a full
    * RocksDB snapshot (snapshots still land in the background at the
    * maintenance interval); restore = last snapshot + changelog replay.
    * Per-batch commit cost becomes O(delta) instead of O(state) — the
    * difference between the two is exactly what a 100 TB standing
    * pipeline pays per trigger, so the bench runs the production
    * setting. Toggle off to measure the snapshot-per-commit mode:
    * SPARK_GRAFT_CHANGELOG_CKPT=0. The stages before it keep the
    * session's default store.
    */
  private val rocksDbFrom = stageNames.indexOf("session_timers")

  /** The stages a command-line selection names, in run order: every
    * stage without one. Fails on an unknown name and on a paced stage
    * selected without its as-fast twin.
    */
  private[graft] def select(csv: Option[String]): Seq[String] = csv match {
    case None => stageNames
    case Some(list) =>
      val want = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = want -- stageNames
      require(want.nonEmpty && unknown.isEmpty,
        s"unknown stages: ${unknown.toSeq.sorted.mkString(",")}; " +
          s"known: ${stageNames.mkString(",")}")
      val orphans = want.toSeq.sorted.filter(s => twinOf.get(s).exists(t => !want(t)))
      require(orphans.isEmpty, "paced stages need their as-fast twin: " +
        orphans.map(s => s"$s needs ${twinOf(s)}").mkString(", "))
      stageNames.filter(want)
  }

  /** Run `stages` (names from [[select]]) against the lake at `sfDir`,
    * staging replay inputs under `base`, and return the JSON line. Each
    * stage's object ends with `compiles`, the generated classes compiled
    * while it ran, so a stage that recompiles cached code shows in the
    * artifact. The session's state-store confs are restored afterwards.
    */
  private[graft] def run(spark: SparkSession, sfDir: String,
      stages: Seq[String], base: String = "/tmp/graft_streambench"): String = {
    val nSlices = sys.env.getOrElse("SPARK_GRAFT_STREAM_SLICES", "12").toInt
    val c = new Ctx(spark, sfDir, nSlices, base)
    val changelog = GraftSession.changelogFromEnv
    val load0 = HostLoad.loadavg(); val steal0 = HostLoad.stealSec()
    val stage = table.toMap
    def runStage(name: String): String = {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val body = stage(name)(c)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      s""""$name":{$body,"compiles":$compiles}"""
    }
    val (before, onRocksDb) = stages.span(stageNames.indexOf(_) < rocksDbFrom)
    spark.streams.addListener(c.recorder)
    val parts = try before.map(runStage) ++
      GraftSession.withConf(spark, GraftSession.rocksDbStateConf(changelog))(
        onRocksDb.map(runStage))
    finally spark.streams.removeListener(c.recorder)
    val load1 = HostLoad.loadavg(); val steal1 = HostLoad.stealSec()
    val stealS = if (steal0 < 0 || steal1 < 0) "-1" else Json.decimal(steal1 - steal0, 1)
    s"""{"metric":"stream_bench","unit":"rows/sec",""" +
      s""""slices":$nSlices,"changelog_ckpt":$changelog,""" +
      parts.map(_ + ",").mkString +
      s""""load":{"start":${Json.decimal(load0, 2)},"end":${Json.decimal(load1, 2)},""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},"steal_s":$stealS},""" +
      s""""sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.length <= 1, "usage: StreamBench [stage,...]")
    val stages = select(args.headOption)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "stream-bench")
    val line = run(spark, sfDir, stages)
    val w = new java.io.PrintWriter("stream_bench.json", "UTF-8")
    try w.println(line) finally w.close()
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[stream_bench] spark.stop failed: ${e.getMessage}")
    }
    println(line)
  }
}

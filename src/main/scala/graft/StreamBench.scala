package graft

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
  *  - for the two checkpointed stateful stages (span audit, standing
  *    retrieval) one KILL-AND-RESTORE cycle: the query is stopped midway
  *    through the replay and restarted from its checkpoint; `restore_s`
  *    is the wall time from restart to fully drained — the recovery cost
  *    a production pipeline pays after an executor/driver loss.
  *
  * The reference's replay source emits ~10 events/s by design
  * (FlinkWindowLearning.scala:40); these stages measure what the same
  * logical pipelines sustain under Spark's micro-batch engine.
  *
  * Prints ONE JSON line AND writes it to `stream_bench.json`, with the
  * same loadavg/steal telemetry as the batch bench — rows/s on a
  * contended host is a property of the host, not the engine.
  */
object StreamBench {

  private def fmt(v: Double, dp: Int = 1): String =
    if (v.isNaN || v.isInfinite) "-1"
    else BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toString

  /** Nearest-rank percentile over an unsorted sample. */
  private def pct(xs: Seq[Double], p: Double): Double =
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

  /** JSON fragments for one finished run's progress list. */
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
    s""""rows_per_sec":${fmt(inRows / wallSec)},"in_rows":$inRows,""" +
      s""""out_rows":$outRows,"wall_sec":${fmt(wallSec, 2)},""" +
      s""""batches":${data.size},""" +
      s""""batch_sec":{"p50":${fmt(pct(secs, 0.5), 2)},""" +
      s""""p95":${fmt(pct(secs, 0.95), 2)},""" +
      s""""max":${fmt(if (secs.isEmpty) -1.0 else secs.max, 2)}}""" + state
  }

  /** Run one streaming stage to completion against a memory sink.
    * Returns the JSON fragment, the wall seconds, and the raw progress
    * list (the latter two feed the paced-latency stages' throughput and
    * trigger-interval calibration).
    */
  private def stage(spark: SparkSession, name: String, df: DataFrame,
      mode: OutputMode, inRows: Long)
      : (String, Double, Seq[StreamingQueryProgress]) = {
    val t0 = System.nanoTime()
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val outRows = spark.table(name).count()
    val progress = q.recentProgress.toSeq
    q.stop()
    // free the sink: a memory sink holds EVERY emitted row on the
    // driver for the JVM's lifetime — nearby_pairs emits 9.3M rows at
    // sf1, and carrying them degrades every later ProcessingTime-paced
    // stage through GC pauses (observed: lsh_dedup_ttl 13 → 64 s wall
    // with the sink retained, same code)
    spark.catalog.dropTempView(name)
    (s""""$name":{${progressJson(progress, inRows, outRows, wall)}}""",
      wall, progress)
  }

  /** Cumulative per-run progress recorder. `recentProgress` is a
    * BOUNDED buffer (`numRecentProgressUpdates`): a paced/TTL'd run
    * past the cap would undercount admissions read through it, spin to
    * the drain deadline, and misreport a progress-retention artifact
    * as engine lag — so paced drains and paced stats read EVERY
    * progress event via this listener instead.
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
    def of(runId: java.util.UUID): Seq[StreamingQueryProgress] = {
      import scala.jdk.CollectionConverters._
      Option(byRun.get(runId)).map(_.asScala.toSeq).getOrElse(Seq.empty)
    }
    def admitted(runId: java.util.UUID): Long =
      of(runId).map(_.numInputRows).sum
  }
  private val recorder = new ProgressRecorder

  /** Drain a PROCESSING-TIME-clocked query over a finite input: a TTL'd
    * or fixed-interval-trigger query never goes idle (the clock keeps
    * the engine triggering), so `processAllAvailable` cannot be used —
    * instead poll until every input row has been admitted (cumulative
    * listener count, immune to the recentProgress retention cap), then
    * let it run `settleMs` longer (TTL eviction / trailing commits
    * happen in those extra triggers) and stop. Returns the FULL
    * recorded progress series and the wall-to-drain.
    */
  private def runPaced(q: StreamingQuery, inRows: Long,
      settleMs: Long): (Seq[StreamingQueryProgress], Double) = {
    val t0 = System.nanoTime()
    val deadline = System.currentTimeMillis() + 300000
    while (q.isActive &&
        recorder.admitted(q.runId) < inRows &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    q.exception.foreach(e => throw new IllegalStateException(
      s"paced stage ${q.name} failed", e))
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(settleMs)
    // listener events post asynchronously: wait for the bus to quiesce
    // before snapshotting so the trailing settle batches are included
    var snap = recorder.of(q.runId)
    var stable = 0
    val qDeadline = System.currentTimeMillis() + 3000
    while (stable < 2 && System.currentTimeMillis() < qDeadline) {
      Thread.sleep(150)
      val s2 = recorder.of(q.runId)
      if (s2.size == snap.size) stable += 1 else { snap = s2; stable = 0 }
    }
    q.stop()
    (snap, wall)
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

  /** Latency-at-offered-rate analysis of a finished paced run; returns
    * the JSON fields AFTER the stage's own prefix (offered_rps etc.),
    * including the closing brace.
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
      // a run that never produced a data batch (e.g. warmup exceeded
      // the drain deadline) reports honestly instead of aborting the
      // whole bench at its final stage
      return s""""interval_ms":$intervalMs,"batches":0,""" +
        s""""expected_batches":$expected,"warmup_batch_ms":0,""" +
        s""""wall_sec":${fmt(wall, 2)},""" +
        s""""e2e_ms":{"p50":-1,"p95":-1,"max":-1},""" +
        s""""drift_growth_ms":-1,"kept_up":false}"""
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
    // full admission on BOTH sides: fewer batches than the rate implies
    // means a deadline-truncated run (rows never processed), more means
    // partial-admission stutter; either breaks the offered-rate claim
    val keptUp = all.size >= expected && all.size <= expected + 1 &&
      driftGrowth < 2.0 * intervalMs
    s""""interval_ms":$intervalMs,"batches":${all.size},""" +
      s""""expected_batches":$expected,""" +
      s""""warmup_batch_ms":$warmupMs,"wall_sec":${fmt(wall, 2)},""" +
      s""""e2e_ms":{"p50":${fmt(pct(lats, 0.5))},""" +
      s""""p95":${fmt(pct(lats, 0.95))},""" +
      s""""max":${fmt(lats.max)}},""" +
      s""""drift_growth_ms":${fmt(driftGrowth)},"kept_up":$keptUp}"""
  }

  /** Run a checkpointed stage with one mid-replay KILL: stop the query
    * once ~half the micro-batches have committed, restart it from the
    * checkpoint, and drain. `restore_s` = wall time of the restarted run
    * (state-store restore + replay of the uncommitted tail).
    */
  private def killRestoreStage(spark: SparkSession, name: String,
      start: String => StreamingQuery, inRows: Long, nSlices: Int,
      outCount: () => Long): String = {
    val ckpt = s"/tmp/graft_streambench/ckpt_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val half = nSlices / 2
    val t0 = System.nanoTime()
    val q1 = start(ckpt)
    val deadline = System.currentTimeMillis() + 300000
    // also break on query death: a failed first run would otherwise spin
    // the full deadline and then misreport the restart as restore_s
    while (q1.isActive &&
        q1.recentProgress.count(_.numInputRows > 0) < half &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q1.exception.foreach { e =>
      throw new IllegalStateException(
        s"stage $name failed before the kill point", e)
    }
    val p1 = q1.recentProgress.toSeq
    q1.stop() // the KILL: uncommitted work is abandoned mid-replay
    val firstWall = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val q2 = start(ckpt)
    q2.processAllAvailable()
    val restoreS = (System.nanoTime() - t1) / 1e9
    val p2 = q2.recentProgress.toSeq
    q2.stop()
    val wall = firstWall + restoreS
    s""""$name":{${progressJson(p1 ++ p2, inRows, outCount(), wall)},""" +
      s""""batches_before_kill":${p1.count(_.numInputRows > 0)},""" +
      s""""restore_s":${fmt(restoreS, 2)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores
    val nSlices = sys.env.getOrElse("SPARK_GRAFT_STREAM_SLICES", "12").toInt
    val spark = GraftSession.local(cpus, "stream-bench")
    import spark.implicits._
    val load0 = HostLoad.loadavg(); val steal0 = HostLoad.stealSec()
    val base = "/tmp/graft_streambench"

    // ---- pre-sliced replay inputs (one file per micro-batch) ----
    val events = sources.Tables.events(spark, sfDir)
    val totalRows = events.count()
    sliceOrdered(events, "ts", nSlices, s"$base/events")
    val eventsStream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/events")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    // arriving docs carry an event time that advances with arrival order
    // (doc_id-derived), so watermarks progress batch over batch
    val arrivalsBatch = docs.filter(col("source") =!= "src0")
      .withColumn("eventTime",
        timestamp_seconds(lit(1735689600L) + col("doc_id")))
    val gateIn = arrivalsBatch.count()
    // ONE lake-wide banding for every LSH stage (the corpus-derived
    // serving construction batch q35/q123 use on this dir): gates,
    // intra-stream twins and index inits share it, or their drop sets
    // would diverge from the batch rule once the derivation engages
    // (sf1+ rehearsal corpora; every driver SF stays at the default)
    val lakeBanding = operators.Text.bandingOf(spark, sfDir)
    sliceOrdered(arrivalsBatch, "doc_id", nSlices, s"$base/docs")
    def arrivals = spark.readStream.schema(arrivalsBatch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/docs")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val embRows = emb.count()
    sliceOrdered(emb, "vec_id", nSlices, s"$base/emb")
    val embStream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/emb")

    // paced/TTL'd stages run many short triggers; keep every progress
    // in the window so admission sums and latency distributions are
    // computed over the full run, not a 100-entry suffix
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "400")
    // cumulative progress for paced drains/stats — see ProgressRecorder
    spark.streams.addListener(recorder)

    // stage 1: watermarked tumbling aggregation over the events replay
    val (tumbling, _, _) = stage(spark, "sb",
      streaming.EventStreams.tumblingSignupsOn(eventsStream, "1 hour"),
      OutputMode.Complete, totalRows)

    // stage 2: near-dup ingest gate (stateless stream-static anti-joins;
    // static sides read from the fingerprint-keyed LANDED stages, so a
    // bench run after a verify run pays a parquet scan, not a
    // shingle-pipeline derivation — the gate-restart contract)
    val (gate, _, gateProg) = stage(spark, "gate",
      streaming.TextStreams.nearDupGateLanded(spark, arrivals, sfDir,
        banding = lakeBanding),
      OutputMode.Append, gateIn)

    // stage 2': the SLO view of the DEDUP SERVICE itself — the near-dup
    // gate under a paced cadence, not drain rate. The file source's
    // maxFilesPerTrigger=1 admits exactly one pre-sliced arrival
    // segment per trigger, so offered rows/s = (rows/slice)/interval;
    // the interval is sized from the gate's own as-fast per-batch p50
    // and latency is measured against the best-fit schedule origin,
    // same contract as paced_50/paced_90.
    val pacedGate = {
      val intervalMs = fitIntervalMs(batchP50Ms(gateProg))
      val rps = (gateIn.toDouble / nSlices) / (intervalMs / 1000.0)
      val q = streaming.TextStreams.nearDupGateLanded(spark, arrivals, sfDir,
        banding = lakeBanding)
        .writeStream.format("memory").queryName("paced_gate")
        .trigger(Trigger.ProcessingTime(s"$intervalMs milliseconds"))
        .outputMode(OutputMode.Append).start()
      val (progress, wall) = runPaced(q, gateIn, 0L)
      spark.catalog.dropTempView("paced_gate")
      s""""paced_gate":{"offered_rps":${fmt(rps)},""" +
        pacedStats(progress, intervalMs, nSlices.toLong, wall)
    }

    // stage 3: stateless IVF cell assignment of the embedding stream
    // (the vector store's write path — literal broadcast centroids,
    // per-row argmin, zero shuffles)
    val (assign, _, _) = stage(spark, "cell_assign",
      streaming.VectorStreams.cellAssign(spark, embStream, sfDir),
      OutputMode.Append, embRows)

    // stage 4: timer-driven inactivity sessions over the event replay —
    // watermark-evicted ValueState + event-time timers; the state
    // telemetry shows sessions closing (removed > 0) as the watermark
    // advances across micro-batches
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // Changelog checkpointing: each commit uploads the batch's changed
    // keys instead of a full RocksDB snapshot (snapshots still land in
    // the background at the maintenance interval); restore = last
    // snapshot + changelog replay. Per-batch commit cost becomes
    // O(delta) instead of O(state) — the difference between the two is
    // exactly what a 100 TB standing pipeline pays per trigger, so the
    // bench runs the production setting. Toggle off to measure the
    // snapshot-per-commit mode: SPARK_GRAFT_CHANGELOG_CKPT=0.
    val changelog = sys.env.getOrElse("SPARK_GRAFT_CHANGELOG_CKPT", "1") == "1"
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      changelog.toString)
    // KILLED mid-replay and restored: recovery here must replay BOTH the
    // per-key session aggregates and the registered event-time timers
    // (the timer replay path the other two kill-restore stages don't
    // exercise)
    def sessionsIn = eventsStream
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", "10 seconds")
      .select(col("user_id"), unix_millis(col("ts")))
      .as[(String, Long)]
    val sessionsOut = s"$base/out_sessions"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sessionsOut))
    val sessions = killRestoreStage(spark, "session_timers",
      ckpt => streaming.SessionTimers.inactivitySessions(spark, sessionsIn,
        gapMs = 30 * 60 * 1000L)
        .toDF().writeStream.format("parquet")
        .option("path", sessionsOut)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start(),
      totalRows, nSlices,
      () => try spark.read.parquet(sessionsOut).count() catch { case _: Throwable => 0L })

    // stage 5: intra-stream LSH near-dup collisions — per-band-signature
    // first-arrival ownership in the state store. Un-TTL'd here (a TTL'd
    // run needs processing-time triggers, which never go idle under
    // processAllAvailable — see the operator docs); state rows climb
    // toward distinct band signatures and hold there, the dedup-history
    // footprint a TTL would bound to its horizon in production. KILLED
    // mid-replay and restored: of the four stateful stages this one has
    // the LARGEST state (O(distinct signatures)), so its restore_s is
    // the changelog-replay cost the others understate.
    val lshOut = s"$base/out_lsh"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lshOut))
    val lsh = killRestoreStage(spark, "lsh_dedup",
      ckpt => streaming.TextStreams.streamingLshCollisions(spark,
        arrivals.select(col("doc_id"), col("text")), banding = lakeBanding)
        .toDF().writeStream.format("parquet")
        .option("path", lshOut)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start(),
      gateIn, nSlices,
      () => try spark.read.parquet(lshOut).count() catch { case _: Throwable => 0L })

    // stage 5a': the TTL'd lsh_dedup variant MEASURED, not asserted —
    // the production setting bounds ownership to a TTL horizon (sized
    // ~4 trigger intervals here, i.e. the compaction-interval contract
    // scaled down to bench time). Driven by a fixed ProcessingTime
    // trigger because a TTL'd state store runs on the processing-time
    // clock (processAllAvailable never sees it idle); the settle window
    // after the last admission gives the clock time to evict, so
    // rows_last shows the post-horizon plateau and ttl_expired > 0
    // shows the cleanup actually ran.
    val ttlMs = 2000L
    val lshTtl = {
      val q = streaming.TextStreams.streamingLshCollisions(spark,
          arrivals.select(col("doc_id"), col("text")),
          TTLConfig(java.time.Duration.ofMillis(ttlMs)), banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("lsh_ttl")
        .trigger(Trigger.ProcessingTime("500 milliseconds"))
        .outputMode(OutputMode.Append).start()
      val (progress, drainWall) = runPaced(q, gateIn, settleMs = 2 * ttlMs + 1500)
      val outRows = spark.table("lsh_ttl").count()
      spark.catalog.dropTempView("lsh_ttl")
      s""""lsh_dedup_ttl":{${progressJson(progress, gateIn, outRows, drainWall)},""" +
        s""""ttl_ms":$ttlMs}"""
    }

    // stage 5a'''': the ADMIT surface measured — streamingNearDupAdmit
    // emits one ownership verdict per (arrival, band) (4 per banded
    // doc, 1 per short doc: ~4x the collision feed's worst case, the
    // price of a total output), same single state operator, same TTL
    // horizon. `admitted` is the foreachBatch reduction's answer — the
    // deduped stream a consumer actually keeps (here reduced over the
    // whole run: doc_ids are unique, so the per-batch and whole-run
    // reductions agree).
    val (admit, admitProg) = {
      val q = streaming.TextStreams.streamingNearDupAdmit(spark,
          arrivals.select(col("doc_id"), col("text")),
          TTLConfig(java.time.Duration.ofMillis(ttlMs)),
          banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("admit_ttl")
        .trigger(Trigger.ProcessingTime("500 milliseconds"))
        .outputMode(OutputMode.Append).start()
      val (progress, drainWall) = runPaced(q, gateIn, settleMs = 2 * ttlMs + 1500)
      val verdicts = spark.table("admit_ttl")
      val outRows = verdicts.count()
      val admitted = streaming.TextStreams.admittedOf(verdicts).count()
      spark.catalog.dropTempView("admit_ttl")
      (s""""admit":{${progressJson(progress, gateIn, outRows, drainWall)},""" +
        s""""admitted":$admitted,"ttl_ms":$ttlMs}""", progress)
    }

    // stage 5a''''': the admit surface's SLO view — the totality cost
    // (4 verdicts per banded doc + the total output) priced as a
    // kept-up question: the SAME pipeline on a trigger interval sized
    // from ITS OWN as-fast per-batch p50 (fitIntervalMs x1.3 headroom,
    // the paced_gate contract). kept_up=true here means a deployment
    // paying for total verdicts still meets an offered rate ~75% of
    // its drain rate; the drain-rate gap vs the collisions-only twin
    // stays visible in the admit/lsh_dedup_ttl rows_per_sec ratio.
    val pacedAdmit = {
      val intervalMs = fitIntervalMs(batchP50Ms(admitProg))
      val rps = (gateIn.toDouble / nSlices) / (intervalMs / 1000.0)
      val q = streaming.TextStreams.streamingNearDupAdmit(spark,
          arrivals.select(col("doc_id"), col("text")),
          TTLConfig(java.time.Duration.ofMillis(ttlMs)),
          banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("paced_admit")
        .trigger(Trigger.ProcessingTime(s"$intervalMs milliseconds"))
        .outputMode(OutputMode.Append).start()
      val (progress, wall) = runPaced(q, gateIn, 0L)
      spark.catalog.dropTempView("paced_admit")
      s""""paced_admit":{"offered_rps":${fmt(rps)},""" +
        pacedStats(progress, intervalMs, nSlices.toLong, wall)
    }

    // stage 5a'': the COMPACTION handoff measured. Phase 1 arrivals
    // accrete ownership state; then IndexCompaction folds them into the
    // landed gate index (the once-per-interval batch job); phase 2 runs
    // against the compacted gate with a FRESH stream — its state holds
    // only the phase-2 horizon. phase1_state_rows vs phase2_state_rows
    // is the state the compaction moved out of the store; CompactionSpec
    // pins that the drop DECISION is unchanged across the move.
    def lastStateRows(q: StreamingQuery): Long =
      q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
        .lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    val compaction = {
      import streaming.IndexCompaction
      val mid = arrivalsBatch.stat
        .approxQuantile("doc_id", Array(0.5), 0.001).head
      val p1 = arrivalsBatch.filter(col("doc_id") <= mid)
      val p2 = arrivalsBatch.filter(col("doc_id") > mid)
      val n2 = p2.count()
      val half = math.max(2, nSlices / 2)
      sliceOrdered(p1, "doc_id", half, s"$base/docs_p1")
      sliceOrdered(p2, "doc_id", half, s"$base/docs_p2")
      def str(path: String) = spark.readStream.schema(arrivalsBatch.schema)
        .option("maxFilesPerTrigger", "1").parquet(path)
      // phase 1: ownership accretes over the phase-1 replay
      val q1 = streaming.TextStreams.streamingLshCollisions(spark,
          str(s"$base/docs_p1").select(col("doc_id"), col("text")),
          banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("lshc_p1")
        .outputMode(OutputMode.Append).start()
      q1.processAllAvailable()
      val rowsBefore = lastStateRows(q1)
      q1.stop()
      // the compaction job: phase-1 docs have landed in the lake
      val idxRoot = s"$base/gate_index"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxRoot))
      // epoch-0 init is the one-time O(corpus) base build — keep it
      // OUTSIDE the timed section so compact_s measures what the
      // per-interval job actually costs: the O(new docs) delta
      IndexCompaction.init(spark, idxRoot, corpus, banding = lakeBanding)
      val tC = System.nanoTime()
      IndexCompaction.compact(spark, idxRoot,
        p1.select(col("doc_id"), col("text")))
      val compactS = (System.nanoTime() - tC) / 1e9
      // phase 2: gate owns phase-1 buckets statically now
      val t2 = System.nanoTime()
      val qg = IndexCompaction.gate(spark, idxRoot, str(s"$base/docs_p2"))
        .writeStream.format("memory").queryName("lshc_gate")
        .outputMode(OutputMode.Append).start()
      qg.processAllAvailable()
      val admitted = spark.table("lshc_gate").count()
      val gWall = (System.nanoTime() - t2) / 1e9
      val gProg = qg.recentProgress.toSeq
      qg.stop()
      Seq("lshc_p1", "lshc_gate").foreach(spark.catalog.dropTempView)
      val q2 = streaming.TextStreams.streamingLshCollisions(spark,
          str(s"$base/docs_p2").select(col("doc_id"), col("text")),
          banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("lshc_p2")
        .outputMode(OutputMode.Append).start()
      q2.processAllAvailable()
      val rowsAfter = lastStateRows(q2)
      q2.stop()
      spark.catalog.dropTempView("lshc_p2")
      // MAJOR compaction: fold the delta-epoch segments into one.
      // Measured here because its cost is what bounds how often a
      // deployment can afford to re-base the gate's union-read; the
      // decision-equality across merge is pinned in CompactionSpec.
      val segsBefore = IndexCompaction.epochs(idxRoot).size
      val tM = System.nanoTime()
      IndexCompaction.merge(spark, idxRoot)
      val mergeS = (System.nanoTime() - tM) / 1e9
      val segsAfter = IndexCompaction.epochs(idxRoot).size
      s""""lsh_compaction":{"phase1_state_rows":$rowsBefore,""" +
        s""""compact_s":${fmt(compactS, 2)},""" +
        s""""phase2_state_rows":$rowsAfter,""" +
        s""""gate_dropped_after":${n2 - admitted},""" +
        s""""merge_s":${fmt(mergeS, 2)},""" +
        s""""segments":{"before":$segsBefore,"after":$segsAfter},""" +
        s""""gate_after":{${progressJson(gProg, n2, admitted, gWall)}}}"""
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
    val dedupService = {
      import streaming.IndexCompaction
      val nCycles = 3
      val svcRoot = s"$base/svc_docs"
      val idxRoot = s"$base/svc_index"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(svcRoot))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxRoot))
      new java.io.File(svcRoot).mkdirs()
      val qs = arrivalsBatch.stat
        .approxQuantile("doc_id", Array(1.0 / 3, 2.0 / 3), 0.001)
      val phases = Seq(
        arrivalsBatch.filter(col("doc_id") <= qs(0)),
        arrivalsBatch.filter(col("doc_id") > qs(0) && col("doc_id") <= qs(1)),
        arrivalsBatch.filter(col("doc_id") > qs(1)))
      IndexCompaction.init(spark, idxRoot, corpus, banding = lakeBanding)
      val collQ = streaming.TextStreams.streamingLshCollisions(spark,
          spark.readStream.schema(arrivalsBatch.schema)
            .option("maxFilesPerTrigger", "1").parquet(svcRoot)
            .select(col("doc_id"), col("text")),
          TTLConfig(java.time.Duration.ofMillis(ttlMs)), banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("svc_coll")
        .trigger(Trigger.ProcessingTime("500 milliseconds"))
        .outputMode(OutputMode.Append).start()
      var fed = 0L
      val cycleJsons = (0 until nCycles).map { c =>
        val ph = phases(c)
        val nPh = ph.count()
        val cycDir = s"$base/svc_c$c"
        sliceOrdered(ph, "doc_id", math.max(2, nSlices / nCycles), cycDir)
        val progBefore = recorder.of(collQ.runId).size
        // gate REBUILD from the live epoch listing: O(read) of the
        // index segments, the per-interval restart cost
        val tG = System.nanoTime()
        val gateDf = IndexCompaction.gate(spark, idxRoot,
          spark.readStream.schema(arrivalsBatch.schema)
            .option("maxFilesPerTrigger", "1").parquet(cycDir))
        val gateBuildS = (System.nanoTime() - tG) / 1e9
        val gq = gateDf.writeStream.format("memory")
          .queryName(s"svc_gate_$c").outputMode(OutputMode.Append).start()
        // feed the SAME arrival files to the standing collision query
        // (distinct mtimes keep the file source's replay order)
        new java.io.File(cycDir).listFiles()
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .foreach { f =>
            java.nio.file.Files.copy(f.toPath,
              new java.io.File(svcRoot, s"c${c}_${f.getName}").toPath)
            Thread.sleep(15)
          }
        gq.processAllAvailable()
        val admitted = spark.table(s"svc_gate_$c").count()
        gq.stop()
        spark.catalog.dropTempView(s"svc_gate_$c")
        fed += nPh
        val deadline = System.currentTimeMillis() + 120000
        while (collQ.isActive && recorder.admitted(collQ.runId) < fed &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        collQ.exception.foreach(e => throw new IllegalStateException(
          "svc_coll failed", e))
        // settle past the TTL horizon: the sawtooth's drain edge
        Thread.sleep(2 * ttlMs + 1500)
        val cycleProg = recorder.of(collQ.runId).drop(progBefore)
          .filter(_.stateOperators.nonEmpty)
        val rowsMax =
          if (cycleProg.isEmpty) 0L
          else cycleProg.map(_.stateOperators.map(_.numRowsTotal).sum).max
        val rowsLast = cycleProg.lastOption
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
        // the cycle's docs have landed: fold them into the gate index
        val tC = System.nanoTime()
        IndexCompaction.compact(spark, idxRoot,
          ph.select(col("doc_id"), col("text")))
        val compactS = (System.nanoTime() - tC) / 1e9
        // middle cycle: MAJOR merge while the collision query is live
        val mergeS =
          if (c == nCycles / 2) {
            val tM = System.nanoTime()
            IndexCompaction.merge(spark, idxRoot)
            (System.nanoTime() - tM) / 1e9
          } else -1.0
        val epochsAfter = IndexCompaction.epochs(idxRoot).size
        s"""{"cycle":$c,"arrivals":$nPh,"gate_admitted":$admitted,""" +
          s""""gate_dropped":${nPh - admitted},""" +
          s""""gate_build_s":${fmt(gateBuildS, 2)},""" +
          s""""state_rows_max":$rowsMax,"state_rows_settled":$rowsLast,""" +
          s""""compact_s":${fmt(compactS, 2)},""" +
          s""""merge_s":${if (mergeS < 0) "-1" else fmt(mergeS, 2)},""" +
          s""""epochs_after":$epochsAfter}"""
      }
      collQ.stop()
      spark.catalog.dropTempView("svc_coll")
      s""""dedup_service":{"ttl_ms":$ttlMs,"cycles":[${cycleJsons.mkString(",")}]}"""
    }

    // stage 5a'''''': the live per-(domain, lang) HLL dataset card —
    // streamingHllBy maintains every group's 256-register sketch in ONE
    // operator (state bounded by 256 x groups, ≤24 emissions per
    // register over the stream's lifetime). After the full replay each
    // group's hllEstimate must EQUAL the oracle-checked batch q134
    // n_hll — groups_match counts that equality.
    val hllLive = hllLiveStage(spark, sfDir, base, nSlices)

    // stage 5a''''''b: the live count-min frequency sketch —
    // streamingCountMin maintains the q90 d×w cell table incrementally
    // (ONE state row per sketch cell), so state is bounded at 4·w = 64
    // rows CORPUS-SIZE-INDEPENDENT — the strongest state bound in this
    // file: the sketch never grows with the stream, only its cell sums
    // do. After the full replay, every vocabulary term's
    // min-over-hash-rows estimate read from the live cells must EQUAL
    // the oracle-checked batch q90 estimate (terms_match == vocab).
    val cmLive = cmLiveStage(spark, sfDir, base, nSlices)

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
    val ingestLoop = {
      import streaming.{IndexCompaction, IngestLoop}
      val b2 = s"$base/ingest"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(b2))
      val idxRoot = s"$b2/index"; val landRoot = s"$b2/landed"
      val docsAll = docs.select(col("doc_id"), col("text"))
      IndexCompaction.init(spark, idxRoot, docsAll.filter(lit(false)),
        banding = lakeBanding)
      val qsI = docsAll.stat
        .approxQuantile("doc_id", Array(1.0 / 3, 2.0 / 3), 0.001)
      val phases = Seq(
        docsAll.filter(col("doc_id") <= qsI(0)),
        docsAll.filter(col("doc_id") > qsI(0) && col("doc_id") <= qsI(1)),
        docsAll.filter(col("doc_id") > qsI(1)))
      // SPARK_GRAFT_FILES_PER_TRIGGER amortizes the per-micro-batch
      // fixed cost (~0.7-1.2 s/trigger on 32 local cores) at higher SF; the
      // admit decision is trigger-size-invariant (IngestLoopSpec)
      val filesPerTrigger =
        sys.env.getOrElse("SPARK_GRAFT_FILES_PER_TRIGGER", "1").toInt
      val cycleJ = phases.zipWithIndex.map { case (ph, c) =>
        val cycDir = s"$b2/in_$c"
        sliceOrdered(ph, "doc_id", math.max(2, nSlices / 3), cycDir)
        val st = IngestLoop.runCycle(spark, idxRoot, landRoot, c, cycDir,
          ph.schema, ph.count(), filesPerTrigger = filesPerTrigger)
        s"""{"cycle":$c,"arrivals":${st.arrivals},""" +
          s""""gate_admitted":${st.gateAdmitted},""" +
          s""""admitted":${st.admitted},"landed":${st.landed},""" +
          s""""folded":${st.folded},"epochs_after":${st.epochsAfter},""" +
          s""""gate_build_s":${fmt(st.gateBuildS, 2)},""" +
          s""""drain_s":${fmt(st.drainWallS, 2)},""" +
          s""""compact_s":${fmt(st.compactS, 2)},""" +
          s""""batches":${st.batches}}"""
      }
      val landedIds = IngestLoop.landedAll(spark, landRoot)
        .select(col("doc_id")).as[Long].collect().toSet
      val dropSet = operators.Text.arrivalDedup(spark, sfDir)
        .select(col("doc_id")).as[Long].collect().toSet
      val allIds = docsAll.select(col("doc_id")).as[Long].collect().toSet
      val keep = allIds -- dropSet
      val extras = landedIds -- keep
      val missed = keep -- landedIds
      val bridgeOnly =
        if (extras.isEmpty) true
        else {
          val bd = operators.Text.bandingOf(spark, sfDir)
          val bands = operators.Text.mhBands(
            operators.Text.minhashAgg(spark, sfDir, bd), bd)
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
      s""""ingest_loop":{"cycles":[${cycleJ.mkString(",")}],""" +
        s""""files_per_trigger":$filesPerTrigger,""" +
        s""""landed_total":${landedIds.size},"q123_keep":${keep.size},""" +
        s""""extra_admitted":${extras.size},"missed_q123":${missed.size},""" +
        s""""extras_bridge_only":$bridgeOnly}"""
    }

    // stage 5b: the DSv2 paced replay source itself, over a multi-file
    // segment directory built from the events table — measures what the
    // custom source sustains (admission-controlled offsets, per-file
    // executor-side parsing) rather than the built-in file source.
    // eventsPerBatch is sized for ~nSlices micro-batches, matching the
    // other stages' batch structure.
    val replayDir = new java.io.File(s"$base/replay_segments")
    org.apache.commons.io.FileUtils.deleteQuietly(replayDir)
    replayDir.mkdirs()
    val activityRows = events
      .orderBy(col("ts"))
      .select(col("user_id"),
        col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .collect()
    activityRows.grouped(
      math.max(1, math.ceil(activityRows.length / nSlices.toDouble).toInt))
      .zipWithIndex.foreach { case (group, i) =>
        val body = group.map(r =>
          s"""{"userId": "${r.get(0)}", "activity": "${r.get(1)}", "timestamp": "${r.get(2)}"}""")
          .mkString("[\n", ",\n", "\n]")
        java.nio.file.Files.write(
          replayDir.toPath.resolve(f"seg_$i%03d.json"),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
    val replayed = spark.readStream.format("user-activity-replay")
      .option("path", replayDir.toString)
      .option("eventsPerBatch",
        math.max(1, activityRows.length / nSlices).toString).load()
      .select(col("userId").as("user_id"),
        col("activity").as("event_type"),
        to_timestamp(col("timestamp")).as("ts"))
    val (replaySrc, replayWall, replayProg) = stage(spark, "replay_source",
      streaming.EventStreams.tumblingSignupsOn(replayed, "1 hour"),
      OutputMode.Complete, activityRows.length.toLong)

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
    // 50% and 90% of the measured as-fast throughput.
    val maxRps = activityRows.length / math.max(replayWall, 0.001)
    // The trigger interval is a deployment knob sized from the as-fast
    // run's measured per-batch p50 (see fitIntervalMs), exactly as a
    // deployment would: the latency floor scales with the interval,
    // which is the micro-batch latency/efficiency trade-off stated
    // honestly.
    val intervalMs = fitIntervalMs(batchP50Ms(replayProg))
    def pacedRun(tag: String, perBatch: Int, interval: Long,
        rps: Double): String = {
      val src = spark.readStream.format("user-activity-replay")
        .option("path", replayDir.toString)
        .option("eventsPerBatch", perBatch.toString).load()
        .select(col("userId").as("user_id"),
          col("activity").as("event_type"),
          to_timestamp(col("timestamp")).as("ts"))
      val q = streaming.EventStreams.tumblingSignupsOn(src, "1 hour")
        .writeStream.format("memory").queryName(s"paced_$tag")
        .trigger(Trigger.ProcessingTime(s"$interval milliseconds"))
        .outputMode(OutputMode.Complete).start()
      val (progress, wall) = runPaced(q, activityRows.length.toLong, 0L)
      spark.catalog.dropTempView(s"paced_$tag")
      val expected = math.ceil(activityRows.length.toDouble / perBatch).toLong
      s""""paced_$tag":{"offered_rps":${fmt(rps)},""" +
        pacedStats(progress, interval, expected, wall)
    }
    def paced(tag: String, frac: Double): String = {
      val rps = maxRps * frac
      pacedRun(tag, math.max(1, (rps * intervalMs / 1000.0).toInt),
        intervalMs, rps)
    }
    val paced50 = paced("50", 0.5)
    val paced90 = paced("90", 0.9)

    // stage 5b'': NEGATIVE CONTROL — the same pipeline deliberately
    // OVER-offered: as-fast-sized batches on a trigger interval set
    // BELOW the measured per-batch cost (~60% of p50), an offered rate
    // no interval-sizing could sustain. The backlog instrumentation has
    // only ever been artifacted in the kept-up direction; this stage
    // must report kept_up=false with visibly growing drift, proving the
    // SLO instrument reads both ways (a detector that has never fired
    // is unproven exactly where it matters).
    val pacedOver = {
      val overMs = math.max(250L,
        ((batchP50Ms(replayProg) * 0.6) / 250.0).toLong * 250L)
      // batch size derived from the OFFERED RATE (120% of measured
      // as-fast drain), not from the as-fast batch shape: when the
      // interval clamps to the 250 ms floor on a fast host, a
      // shape-derived batch can quietly become sustainable and the
      // negative control stops being negative (observed on a quiet
      // run: kept_up=true at the floor). 1.2x the drain rate cannot
      // be sustained whatever the batch size.
      val perBatch = math.max(1,
        math.ceil(1.2 * maxRps * overMs / 1000.0).toInt)
      pacedRun("over", perBatch, overMs, perBatch * 1000.0 / overMs)
    }

    // stage 5c: multimodal CAS ingest gate — binary payloads through
    // content-address dedup (watermark-bounded intra-stream state keyed
    // by the 16-byte checksum + broadcast anti-join vs the landed
    // store); payload bytes never shuffle
    val landedBlobs = corpus
      .select(encode(col("text"), "UTF-8").as("payload"))
      .withColumn("meta", struct(md5(col("payload")).as("checksum")))
    val (blobGate, _, _) = stage(spark, "blob_ingest",
      streaming.MediaStreams.blobIngest(
        arrivals.select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"), col("eventTime")),
        landedBlobs),
      OutputMode.Append, gateIn)

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
    val auditOut = s"$base/out_span_audit"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(auditOut))
    val audit = killRestoreStage(spark, "span_audit",
      ckpt => streaming.TextStreams.spanContaminationAudit(arrivals, corpus)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          sources.Sinks.backfillPartitions(
            df.withColumn("batch_id", lit(batchId)), "batch_id", auditOut)
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start(),
      gateIn, nSlices,
      () => try spark.read.parquet(auditOut).count() catch { case _: Throwable => 0L })

    // stage 7: standing-query retrieval — frozen-stats scoring + per-query
    // stateful top-k, KILLED mid-replay and restored (top-k state must
    // survive; ReplaySourceSpec/EventStreamsSpec pin the semantics,
    // this measures the cost)
    val standingOut = s"$base/out_standing"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(standingOut))
    val standing = killRestoreStage(spark, "standing_retrieval",
      ckpt => streaming.TextStreams.standingRetrieval(spark, arrivals, sfDir)
        .toDF().writeStream.format("parquet")
        .option("path", standingOut)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start(),
      gateIn, nSlices,
      () => try spark.read.parquet(standingOut).count() catch { case _: Throwable => 0L })

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
    val (nearby, _, _) = stage(spark, "nearby_pairs",
      streaming.EventStreams.nearbyPairs(eventsStream),
      OutputMode.Append, totalRows)

    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    spark.conf.unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.conf.unset(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")

    val load1 = HostLoad.loadavg(); val steal1 = HostLoad.stealSec()
    val stealS = if (steal0 < 0 || steal1 < 0) "-1" else fmt(steal1 - steal0)
    val line = s"""{"metric":"stream_bench","unit":"rows/sec",""" +
      s""""slices":$nSlices,"changelog_ckpt":$changelog,""" +
      s"""$tumbling,$replaySrc,$paced50,$paced90,$pacedOver,$gate,$pacedGate,$assign,$sessions,$nearby,""" +
      s"""$lsh,$lshTtl,$admit,$pacedAdmit,$compaction,$dedupService,""" +
      s"""$hllLive,$cmLive,$ingestLoop,$blobGate,$audit,$standing,""" +
      s""""load":{"start":${fmt(load0, 2)},"end":${fmt(load1, 2)},"cpus":$cpus,"steal_s":$stealS},""" +
      s""""sf":"$sfDir"}"""
    val w = new java.io.PrintWriter("stream_bench.json", "UTF-8")
    try w.println(line) finally w.close()
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[stream_bench] spark.stop failed: ${e.getMessage}")
    }
    println(line)
  }

  /** The bounded-state sketch stages: their corpus-size-INDEPENDENT
    * state bounds are the claims a new decade can falsify cheaply.
    */
  private def hllLiveStage(spark: SparkSession, sfDir: String,
      base: String, nSlices: Int): String = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    locally {
      val docsAll = docs.select(col("doc_id"), col("lang"), col("text"))
      val nDocs = docsAll.count()
      sliceOrdered(docsAll, "doc_id", nSlices, s"$base/docs_all")
      val dstream = spark.readStream.schema(docsAll.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/docs_all")
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
      val t0 = System.nanoTime()
      val q = streaming.TextStreams.streamingHllBy(spark, items)
        .toDF("grp", "bucket", "r")
        .writeStream.format("memory").queryName("hll_live")
        .outputMode(OutputMode.Update).start()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      q.stop()
      val regs = spark.table("hll_live").as[(String, Long, Int)].collect()
      spark.catalog.dropTempView("hll_live")
      val est = regs.groupBy(_._1).view.mapValues(rs =>
        streaming.TextStreams.hllEstimate(rs.map(t => (t._2, t._3)))).toMap
      val batch = SparkEntry.queries("q134_hll_distinct")(spark, sfDir)
        .select(concat_ws("|", col("domain"), col("lang")).as("g"),
          col("n_hll"))
        .as[(String, Long)].collect().toMap
      val matches = batch.count { case (g, n) => est.get(g).contains(n) }
      // in_rows: both stream branches scan the doc replay → 2x docs
      s""""hll_live":{${progressJson(progress, 2 * nDocs, regs.length.toLong, wall)},""" +
        s""""groups":${batch.size},"groups_match":$matches,""" +
        s""""state_rows_bound":${256L * batch.size}}"""
    }
  }

  /** See [[hllLiveStage]] — the count-min twin (4×w cells, the
    * corpus-size-independent bound).
    */
  private def cmLiveStage(spark: SparkSession, sfDir: String,
      base: String, nSlices: Int): String = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    locally {
      val w = operators.Text.CountMinWidth
      val docsAll = docs.select(col("doc_id"), col("text"))
      val nToks = docsAll.select(explode(split(col("text"), " "))).count()
      sliceOrdered(docsAll, "doc_id", nSlices, s"$base/docs_cm")
      val dstream = spark.readStream.schema(docsAll.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/docs_cm")
      val terms = dstream
        .select(explode(split(col("text"), " ")).as("t")).as[String]
      val t0 = System.nanoTime()
      val q = streaming.TextStreams.streamingCountMin(spark, terms)
        .toDF("cell", "csum")
        .writeStream.format("memory").queryName("cm_live")
        .outputMode(OutputMode.Update).start()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      q.stop()
      // cell sums are monotone, so the max emission per cell is the
      // final cell value — no snapshot read of the state store needed
      val cells = spark.table("cm_live").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val batch = SparkEntry.queries("q90_countmin")(spark, sfDir)
        .select(col("term"), col("est")).as[(String, Long)].collect().toMap
      val matches = batch.count { case (term, est) =>
        val live = (0 until 4).map { j =>
          cells.getOrElse(
            j.toLong * w + streaming.TextStreams.hash60(s"$term#$j") % w, 0L)
        }.min
        live == est
      }
      val emissions = spark.table("cm_live").count()
      spark.catalog.dropTempView("cm_live")
      s""""countmin_live":{${progressJson(progress, nToks, emissions, wall)},""" +
        s""""vocab":${batch.size},"terms_match":$matches,""" +
        s""""state_rows_bound":${4L * w}}"""
    }
  }
}

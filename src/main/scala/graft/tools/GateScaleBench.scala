// Scale rehearsal for the text-LSH STREAMING serving paths at corpora
// past the full StreamBench sweep — the streaming twin of the q35/q123
// batch rehearsal. The corpus-derived banding (Text.bandingOf) makes
// the per-row projection deeper as the lake grows ((7,5) = 35 seeded
// minhashes per arrival at the 500k-doc corpus vs the reference-scale
// 8), so the question a deployment actually asks is: does the gate
// drain rate survive the depth the collision join needs?
//
// Stages (select with SPARK_GRAFT_GATE_STAGES, comma-separated;
// default "gate,lsh,admit" — the original un-TTL'd trio):
//
//   gate        stream-static GATE (stateless anti-joins against the
//               landed band index)
//   lsh         intra-stream COLLISION feed, un-TTL'd (state climbs to
//               bands×docs and holds — the corpus-tracking upper bound)
//   admit       total ADMIT surface, un-TTL'd drain-rate view
//   ttl         lsh_dedup_ttl — the BOUNDED-STATE production setting:
//               ownership TTL'd to SPARK_GRAFT_TTL_MS (the compaction-
//               interval contract), ProcessingTime-triggered with a
//               2×TTL settle window so the artifact shows ttl_expired
//               > 0 and rows_last draining to the horizon plateau
//   admit_ttl   the TTL'd admit twin (same horizon, total output)
//   compaction  lsh_compaction — the HANDOFF: phase-1 arrivals accrete
//               ownership, IndexCompaction folds them into the landed
//               gate, phase 2 gates statically with fresh state; plus
//               the MAJOR merge cost
//   vec         vec_cells — VectorStreams.cellAssign over the
//               embeddings stream (the vector store's write path)
//
// Each stage emits the same per-stage field names as
// stream_bench.json, so tools/stream_scaling.py reads gate_scale.json
// as another SF column.
//
//   SPARK_GRAFT_SF_DIR=/tmp/gensf/sf10 sbt "runMain graft.tools.GateScaleBench"
package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.{GraftSession, StreamBench}
import org.apache.spark.sql.streaming.TTLConfig

object GateScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/gensf/sf1")
    val nSlices = sys.env.getOrElse("SPARK_GRAFT_STREAM_SLICES", "12").toInt
    val stages = sys.env.getOrElse("SPARK_GRAFT_GATE_STAGES", "gate,lsh,admit")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // the TTL horizon (production: the compaction interval). The
    // default suits bench-scale batches; a fourth-decade run passes a
    // horizon ~2 of ITS batch intervals so evictions fire mid-run.
    val ttlMs = sys.env.getOrElse("SPARK_GRAFT_TTL_MS", "2000").toLong
    val deadlineS =
      sys.env.getOrElse("SPARK_GRAFT_GATE_DEADLINE_S", "5400").toLong
    val spark = GraftSession.local(appName = "gate-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    val base = "/tmp/graft_gatescale"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    val changelog = sys.env.getOrElse("SPARK_GRAFT_CHANGELOG_CKPT", "1") == "1"
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      changelog.toString)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "400")

    // cumulative progress via a listener — recentProgress is a ring
    // that idle ProcessingTime triggers would overrun during a settle
    // window, silently evicting the data batches from the stats
    val progressBuf =
      new scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]()
    val bufLock = new Object
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        bufLock.synchronized { progressBuf += e.progress; () }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
      bufLock.synchronized {
        progressBuf.filter(_.runId == q.runId).toSeq
      }

    val needDocs = (stages - "vec").nonEmpty
    val docs =
      if (needDocs) spark.read.parquet(s"$sfDir/documents.parquet") else null
    val arrivalsBatch = if (!needDocs) null else
      docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text"))
        .withColumn("eventTime",
          timestamp_seconds(lit(1735689600L) + col("doc_id")))
    val gateIn = if (needDocs) arrivalsBatch.count() else 0L
    val lakeBanding = graft.operators.Text.bandingOf(spark, sfDir)
    if (needDocs)
      StreamBench.sliceOrdered(arrivalsBatch, "doc_id", nSlices, s"$base/docs")
    def arrivals = spark.readStream.schema(arrivalsBatch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/docs")

    def stageJson(name: String, inRows: Long, outRows: Long, wall: Double,
        prog: Seq[StreamingQueryProgress], extra: String = ""): String = {
      import scala.jdk.CollectionConverters._
      val withIn = prog.filter(_.numInputRows > 0)
      val secs = withIn
        .flatMap(p => Option(p.durationMs.get("triggerExecution")))
        .map(_.toLong / 1000.0).sorted
      def pct(p: Double): Double =
        if (secs.isEmpty) -1
        else secs(math.min(secs.length - 1, (p * secs.length).toInt))
      val stOps = prog.filter(_.stateOperators.nonEmpty)
      val stateRows = stOps.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L)
      val rowsLast = stOps.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      val stateMem = stOps.map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .maxOption.getOrElse(0L)
      val removed = stOps
        .map(_.stateOperators.map(_.numRowsRemoved).sum).sum
      val ttlExpired = stOps.map(_.stateOperators.map(o =>
        Option(o.customMetrics).map(_.asScala.collect {
          case (k, v) if k.contains("RemovedDueToTTL") => v.longValue()
        }.sum).getOrElse(0L)).sum).sum
      println(f"[gate_scale] $name wall=$wall%.1f rows/s=${inRows / wall}%.0f " +
        f"batches=${withIn.length} p95=${pct(0.95)}%.2f state_max=$stateRows " +
        s"state_last=$rowsLast ttl_expired=$ttlExpired out=$outRows")
      f""""$name":{"in_rows":$inRows,"out_rows":$outRows,""" +
        f""""drain_wall_s":$wall%.1f,"rows_per_sec":${inRows / wall}%.1f,""" +
        f""""batches":${withIn.length},""" +
        f""""batch_sec":{"p50":${pct(0.5)}%.2f,"p95":${pct(0.95)}%.2f},""" +
        s""""state":{"rows_max":$stateRows,"rows_last":$rowsLast,""" +
        s""""mem_bytes":$stateMem,"removed":$removed,""" +
        s""""ttl_expired":$ttlExpired}$extra}"""
    }

    def drain(name: String, inRows: Long,
        start: () => StreamingQuery): String = {
      val t0 = System.nanoTime()
      val q = start()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = progressOf(q)
      val out = try spark.table(name).count() catch { case _: Throwable => 0L }
      q.stop()
      try spark.catalog.dropTempView(name) catch { case _: Throwable => () }
      stageJson(name, inRows, out, wall, prog)
    }

    // TTL'd stages run on the processing-time clock
    // (processAllAvailable never sees a TTL'd store idle), so: poll the
    // listener until all input is admitted, then hold a settle window
    // of 2×TTL so rows_last shows the post-horizon plateau and
    // ttl_expired shows the cleanup actually ran.
    def drainPaced(name: String, inRows: Long,
        start: () => StreamingQuery): String = {
      val t0 = System.nanoTime()
      val q = start()
      val deadline = System.currentTimeMillis() + deadlineS * 1000
      def consumed: Long = progressOf(q).map(_.numInputRows).sum
      while (q.isActive && consumed < inRows &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(1000)
      q.exception.foreach(e =>
        throw new IllegalStateException(s"stage $name failed", e))
      require(consumed >= inRows,
        s"stage $name hit the ${deadlineS}s deadline at $consumed/$inRows rows")
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(2 * ttlMs + 1500)
      // listener events post asynchronously — let the bus quiesce so
      // the trailing settle batches (the evictions) are in the snapshot
      var last = -1
      var stable = 0
      val qDeadline = System.currentTimeMillis() + 5000
      while (stable < 2 && System.currentTimeMillis() < qDeadline) {
        Thread.sleep(200)
        val n = progressOf(q).size
        if (n == last) stable += 1 else { last = n; stable = 0 }
      }
      q.stop()
      val prog = progressOf(q)
      val out = try spark.table(name).count() catch { case _: Throwable => 0L }
      try spark.catalog.dropTempView(name) catch { case _: Throwable => () }
      stageJson(name, inRows, out, wall, prog, s""","ttl_ms":$ttlMs""")
    }

    val parts = scala.collection.mutable.ArrayBuffer[String]()

    if (stages("gate")) parts += drain("gate", gateIn, () =>
      graft.streaming.TextStreams
        .nearDupGateLanded(spark, arrivals, sfDir, banding = lakeBanding)
        .writeStream.format("memory").queryName("gate")
        .outputMode(OutputMode.Append).start())
    if (stages("lsh")) parts += drain("lsh_dedup", gateIn, () =>
      graft.streaming.TextStreams.streamingLshCollisions(spark,
          arrivals.select(col("doc_id"), col("text")), banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("lsh_dedup")
        .outputMode(OutputMode.Append).start())
    if (stages("admit")) parts += drain("admit_drain", gateIn, () =>
      graft.streaming.TextStreams.streamingNearDupAdmit(spark,
          arrivals.select(col("doc_id"), col("text")),
          banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("admit_drain")
        .outputMode(OutputMode.Append).start())

    if (stages("ttl")) parts += drainPaced("lsh_dedup_ttl", gateIn, () =>
      graft.streaming.TextStreams.streamingLshCollisions(spark,
          arrivals.select(col("doc_id"), col("text")),
          TTLConfig(java.time.Duration.ofMillis(ttlMs)),
          banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("lsh_dedup_ttl")
        .trigger(Trigger.ProcessingTime("1 second"))
        .outputMode(OutputMode.Append).start())
    if (stages("admit_ttl")) parts += drainPaced("admit_ttl", gateIn, () =>
      graft.streaming.TextStreams.streamingNearDupAdmit(spark,
          arrivals.select(col("doc_id"), col("text")),
          TTLConfig(java.time.Duration.ofMillis(ttlMs)),
          banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("admit_ttl")
        .trigger(Trigger.ProcessingTime("1 second"))
        .outputMode(OutputMode.Append).start())

    // the COMPACTION handoff at this corpus: phase-1 arrivals accrete
    // ownership state; IndexCompaction folds them into the landed gate
    // index (the once-per-interval batch job); phase 2 runs against the
    // compacted gate with a FRESH stream — its state holds only the
    // phase-2 horizon. Mirrors StreamBench's lsh_compaction stage
    // (drop-decision equality across the move is CompactionSpec's pin;
    // this measures the costs at scale).
    if (stages("compaction")) parts += {
      import graft.streaming.IndexCompaction
      val corpus = docs.filter(col("source") === "src0")
        .select(col("doc_id"), col("text"))
      val mid = arrivalsBatch.stat
        .approxQuantile("doc_id", Array(0.5), 0.001).head
      val p1 = arrivalsBatch.filter(col("doc_id") <= mid)
      val p2 = arrivalsBatch.filter(col("doc_id") > mid)
      val n1 = p1.count()
      val n2 = p2.count()
      val half = math.max(2, nSlices / 2)
      StreamBench.sliceOrdered(p1, "doc_id", half, s"$base/docs_p1")
      StreamBench.sliceOrdered(p2, "doc_id", half, s"$base/docs_p2")
      def str(path: String) = spark.readStream.schema(arrivalsBatch.schema)
        .option("maxFilesPerTrigger", "1").parquet(path)
      def lastStateRows(q: StreamingQuery): Long =
        progressOf(q).filter(_.stateOperators.nonEmpty)
          .lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
          .getOrElse(0L)
      val t1 = System.nanoTime()
      val q1 = graft.streaming.TextStreams.streamingLshCollisions(spark,
          str(s"$base/docs_p1").select(col("doc_id"), col("text")),
          banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("lshc_p1")
        .outputMode(OutputMode.Append).start()
      q1.processAllAvailable()
      val p1Wall = (System.nanoTime() - t1) / 1e9
      val rowsBefore = lastStateRows(q1)
      q1.stop()
      val idxRoot = s"$base/gate_index"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxRoot))
      // epoch-0 init is the one-time O(corpus) base build — outside the
      // timed section so compact_s measures the per-interval O(delta)
      IndexCompaction.init(spark, idxRoot, corpus, banding = lakeBanding)
      val tC = System.nanoTime()
      IndexCompaction.compact(spark, idxRoot,
        p1.select(col("doc_id"), col("text")))
      val compactS = (System.nanoTime() - tC) / 1e9
      val t2 = System.nanoTime()
      val qg = IndexCompaction.gate(spark, idxRoot, str(s"$base/docs_p2"))
        .writeStream.format("memory").queryName("lshc_gate")
        .outputMode(OutputMode.Append).start()
      qg.processAllAvailable()
      val admitted = spark.table("lshc_gate").count()
      val gWall = (System.nanoTime() - t2) / 1e9
      val gProg = progressOf(qg)
      qg.stop()
      Seq("lshc_p1", "lshc_gate").foreach(spark.catalog.dropTempView)
      val q2 = graft.streaming.TextStreams.streamingLshCollisions(spark,
          str(s"$base/docs_p2").select(col("doc_id"), col("text")),
          banding = lakeBanding)
        .toDF().writeStream.format("memory").queryName("lshc_p2")
        .outputMode(OutputMode.Append).start()
      q2.processAllAvailable()
      val rowsAfter = lastStateRows(q2)
      q2.stop()
      spark.catalog.dropTempView("lshc_p2")
      val segsBefore = IndexCompaction.epochs(idxRoot).size
      val tM = System.nanoTime()
      IndexCompaction.merge(spark, idxRoot)
      val mergeS = (System.nanoTime() - tM) / 1e9
      val segsAfter = IndexCompaction.epochs(idxRoot).size
      println(f"[gate_scale] lsh_compaction p1_wall=$p1Wall%.1f " +
        f"compact_s=$compactS%.1f merge_s=$mergeS%.1f " +
        s"state p1=$rowsBefore p2=$rowsAfter")
      s""""lsh_compaction":{"phase1_in_rows":$n1,""" +
        f""""phase1_wall_s":$p1Wall%.1f,""" +
        s""""phase1_state_rows":$rowsBefore,""" +
        f""""compact_s":$compactS%.2f,""" +
        s""""phase2_state_rows":$rowsAfter,""" +
        s""""gate_dropped_after":${n2 - admitted},""" +
        f""""merge_s":$mergeS%.2f,""" +
        s""""segments":{"before":$segsBefore,"after":$segsAfter},""" +
        s""""gate_after":{"in_rows":$n2,"out_rows":$admitted,""" +
        f""""drain_wall_s":$gWall%.1f,"rows_per_sec":${n2 / gWall}%.1f,""" +
        s""""batches":${gProg.count(_.numInputRows > 0)}}}"""
    }

    // the vector store's write path at this corpus: stateless IVF cell
    // assignment of the embedding stream (broadcast centroids, per-row
    // argmin, zero shuffles) — the streaming twin the sf100t rehearsal
    // was missing next to the batch ANN serving rows.
    if (stages("vec")) parts += {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val embRows = emb.count()
      StreamBench.sliceOrdered(emb, "vec_id", nSlices, s"$base/emb")
      def embStream = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/emb")
      drain("vec_cells", embRows, () =>
        graft.streaming.VectorStreams.cellAssign(spark, embStream, sfDir)
          .writeStream.format("memory").queryName("vec_cells")
          .outputMode(OutputMode.Append).start())
    }

    val line = s"""{"metric":"gate_scale","slices":$nSlices,""" +
      s""""banding":"$lakeBanding","changelog_ckpt":$changelog,""" +
      s"""${parts.mkString(",")},"sf":"$sfDir"}"""
    val w = new java.io.PrintWriter("gate_scale.json", "UTF-8")
    try w.println(line) finally w.close()
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[gate_scale] spark.stop failed: ${e.getMessage}")
    }
    println(line)
  }
}

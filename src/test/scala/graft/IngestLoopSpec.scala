package graft

import org.apache.spark.sql.functions._
import graft.streaming.{IndexCompaction, IngestLoop}

/** End-to-end pins for the composed ingest loop:
  * gate → admit → exactly-once landing → minor compaction → next gate.
  *
  *  - On the bridge-free corpus SFs the landed set equals the batch
  *    q123 keep set EXACTLY (the oracle-checked arrival-order rule).
  *  - Where never-landed docs bridge cycles (sf0.1), the loop admits
  *    the bridged docs — and ONLY docs all of whose earlier band
  *    sharers were never landed (the documented curation policy).
  *  - admitted == landed == folded per cycle; landing is idempotent
  *    per micro-batch (replaying a batch overwrites its partition).
  */
class IngestLoopSpec extends SparkSpec {

  /** Run the full loop over `dir`'s documents table in `nCycles`
    * cycles of `slices` files each, from an EMPTY index. Returns
    * (cycle stats, landRoot, idxRoot).
    */
  private def runLoop(dir: String, nCycles: Int, slices: Int,
      tag: String): (Seq[IngestLoop.CycleStats], String, String) = {
    import spark.implicits._
    val base = tempDir(s"ingest_loop_$tag").getAbsolutePath
    val idxRoot = s"$base/index"
    val landRoot = s"$base/landed"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
    // empty cold start: the index owns nothing until the loop lands
    IndexCompaction.init(spark, idxRoot,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val ids = docs.select(col("doc_id")).as[Long].collect().sorted
    val n = ids.length
    val stats = (0 until nCycles).map { c =>
      val lo = ids(c * n / nCycles)
      val hiIdx = (c + 1) * n / nCycles
      val cyc = docs.filter(col("doc_id") >= lo &&
        (if (hiIdx >= n) lit(true) else col("doc_id") < ids(hiIdx)))
      val cycDir = s"$base/cycle_in_$c"
      StreamBench.sliceOrdered(cyc, "doc_id", slices, cycDir)
      IngestLoop.runCycle(spark, idxRoot, landRoot, c, cycDir,
        cyc.schema, cyc.count())
    }
    (stats, landRoot, idxRoot)
  }

  private def q123Keep(dir: String): Set[Long] = {
    import spark.implicits._
    val all = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long].collect().toSet
    val dropped = operators.Text.arrivalDedup(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    all -- dropped
  }

  test("ingest loop == batch q123 keep set end to end on the " +
      "bridge-free SF; admitted == landed == folded every cycle") {
    import spark.implicits._
    withRocksDb {
      val (stats, landRoot, idxRoot) = runLoop(sfDir, 2, 3, "eq")
      stats.foreach { s =>
        assert(s.admitted === s.landed && s.landed === s.folded,
          s"cycle ${s.cycle}: admitted/landed/folded must agree: $s")
        assert(s.gateAdmitted >= s.admitted,
          s"cycle ${s.cycle}: admit can only shrink the gate's output")
      }
      // epoch count grows by one delta per cycle over the empty base
      assert(stats.last.epochsAfter === 3, "empty base + one delta/cycle")
      val landed = IngestLoop.landedAll(spark, landRoot)
        .select(col("doc_id")).as[Long].collect()
      assert(landed.length === landed.distinct.length,
        "no doc lands twice (exactly-once across batches and cycles)")
      assert(landed.toSet === q123Keep(sfDir),
        "landed set must equal the oracle-checked q123 keep set")
      // and the index owns exactly the landed docs' signatures:
      // re-gating the landed docs themselves drops ALL of them
      val flat = tempDir("ingest_loop_flat").getAbsolutePath + "/docs"
      IngestLoop.landedAll(spark, landRoot)
        .withColumn("eventTime", timestamp_seconds(col("doc_id")))
        .write.parquet(flat)
      val regate = IndexCompaction.gate(spark, idxRoot,
        spark.readStream.schema(spark.read.parquet(flat).schema)
          .parquet(flat))
      val q = regate.writeStream.format("memory").queryName("regate")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      try { q.processAllAvailable() } finally q.stop()
      assert(spark.table("regate").count() === 0L,
        "every landed doc must collide with the index built from it")
    }
  }

  test("the admit decision is trigger-size-invariant: a cycle drained " +
      "with all files in ONE micro-batch lands exactly the q123 keep " +
      "set (the filesPerTrigger knob changes cost, never semantics)") {
    import spark.implicits._
    withRocksDb {
      val base = tempDir("ingest_fpt").getAbsolutePath
      val idxRoot = s"$base/index"
      val landRoot = s"$base/landed"
      IndexCompaction.init(spark, idxRoot,
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val in0 = s"$base/in_0"
      StreamBench.sliceOrdered(docs, "doc_id", 6, in0)
      val st = IngestLoop.runCycle(spark, idxRoot, landRoot, 0, in0,
        docs.schema, docs.count(), filesPerTrigger = 6)
      assert(st.batches < 6,
        s"fixture must actually batch files per trigger: $st")
      val landed = IngestLoop.landedAll(spark, landRoot)
        .select(col("doc_id")).as[Long].collect()
      assert(landed.length === landed.distinct.length)
      assert(landed.toSet === q123Keep(sfDir),
        "batching k files into one trigger must decide exactly as k " +
          "single-file triggers (in-batch ownership orders by doc_id)")
    }
  }

  test("out-of-doc_id-order arrivals: fpt=1 keeps the first ARRIVAL, " +
      "one batch keeps the MIN doc_id — same admit count, the exact " +
      "survivor divergence the filesPerTrigger contract documents") {
    import spark.implicits._
    // one near-dup pair planted ARRIVAL-REVERSED: doc 20 (the copy)
    // arrives before doc 10 (the smaller id). File order is pinned by
    // mtime (the file source's ordering key), not by name.
    def writeOne(dir: String, name: String, id: Long, text: String,
        mtime: Long): Unit = {
      val tmp = tempDir(s"ooo_tmp_$name").getAbsolutePath + "/p"
      Seq((id, text)).toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(dir).mkdirs()
      val dst = new java.io.File(dir, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(mtime))
    }
    def runOne(fpt: Int, tag: String): Set[Long] = {
      val base = tempDir(s"ingest_ooo_$tag").getAbsolutePath
      val idxRoot = s"$base/index"
      val in0 = s"$base/in_0"
      IndexCompaction.init(spark, idxRoot,
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      val t0 = System.currentTimeMillis() - 120000
      val dupText = "the quick brown fox jumps over the lazy dog again"
      writeOne(in0, "f0.parquet", 20L, dupText, t0)
      writeOne(in0, "f1.parquet", 10L, dupText, t0 + 30000)
      writeOne(in0, "f2.parquet", 30L,
        "an entirely different sentence with no overlap at all", t0 + 60000)
      val schema = spark.read.parquet(in0).schema
      IngestLoop.runCycle(spark, idxRoot, s"$base/landed", 0, in0,
        schema, 3L, filesPerTrigger = fpt)
      IngestLoop.landedAll(spark, s"$base/landed")
        .select(col("doc_id")).as[Long].collect().toSet
    }
    withRocksDb {
      val oneByOne = runOne(1, "fpt1")
      val batched = runOne(3, "fpt3")
      // same admit COUNT: one owner per signature group either way
      assert(oneByOne.size === batched.size && oneByOne.size === 2)
      assert(oneByOne === Set(20L, 30L),
        "fpt=1 on an out-of-order lake keeps the first ARRIVAL (doc 20)")
      assert(batched === Set(10L, 30L),
        "one micro-batch breaks the tie by MIN doc_id (doc 10) — the " +
          "documented survivor divergence; out-of-order lakes that " +
          "need the arrival-order survivor must run fpt = 1")
    }
  }

  test("an all-duplicate arrival wave (zero admits) is a normal cycle: " +
      "lands 0, folds 0, leaves the index untouched, and landedAll " +
      "skips the empty cycle dir") {
    import spark.implicits._
    withRocksDb {
      val base = tempDir("ingest_zero").getAbsolutePath
      val idxRoot = s"$base/index"
      val landRoot = s"$base/landed"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      // cycle 0: empty index, the corpus arrives → lands the keep set
      IndexCompaction.init(spark, idxRoot,
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      val in0 = s"$base/in_0"
      StreamBench.sliceOrdered(docs, "doc_id", 3, in0)
      val st0 = IngestLoop.runCycle(spark, idxRoot, landRoot, 0, in0,
        docs.schema, docs.count())
      assert(st0.landed > 0)
      // cycle 1: the SAME corpus arrives again — every doc now collides
      // with the index, the gate drops all of them, nothing lands. This
      // is a dedup service's NORMAL input, not an error: the cycle must
      // complete (no "Unable to infer schema" poison), fold nothing,
      // and grow no epoch.
      val in1 = s"$base/in_1"
      StreamBench.sliceOrdered(docs, "doc_id", 3, in1)
      val st1 = IngestLoop.runCycle(spark, idxRoot, landRoot, 1, in1,
        docs.schema, docs.count())
      assert(st1.gateAdmitted === 0L && st1.admitted === 0L &&
        st1.landed === 0L && st1.folded === 0L,
        s"an all-duplicate wave must land nothing: $st1")
      assert(st1.epochsAfter === st0.epochsAfter,
        "the skipped compaction must not add an epoch")
      // the empty cycle dir is invisible to the landed union
      val landed = IngestLoop.landedAll(spark, landRoot)
        .select(col("doc_id")).as[Long].collect()
      assert(landed.toSet === q123Keep(sfDir) &&
        landed.length === landed.distinct.length,
        "landedAll must skip the empty cycle and return cycle 0 intact")
    }
  }

  test("landing is idempotent per micro-batch: replaying a landed " +
      "batch overwrites its own partition, total unchanged") {
    import spark.implicits._
    withRocksDb {
      val (_, landRoot, _) = runLoop(sfDir, 1, 3, "replay")
      val cycle0 = s"$landRoot/cycle_0"
      val before = spark.read.parquet(cycle0).count()
      val someBatch = spark.read.parquet(cycle0)
        .select(col("batch_id")).as[Long].head()
      val replay = spark.read.parquet(cycle0)
        .filter(col("batch_id") === someBatch)
        .localCheckpoint(true)
      sources.Sinks.backfillPartitions(replay, "batch_id", cycle0)
      assert(spark.read.parquet(cycle0).count() === before,
        "a replayed batch must overwrite its partition, not append")
    }
  }

  test("a cycle killed mid-replay resumes from its checkpoint: state " +
      "restores, the in-flight batch replays into its own partition, " +
      "and the landed set is still exactly the batch q123 keep set") {
    import spark.implicits._
    withChangelogRocksDb {
      val base = tempDir("ingest_kill").getAbsolutePath
      val idxRoot = s"$base/index"
      val landRoot = s"$base/landed"
      val ckpt = s"$base/ckpt"
      IndexCompaction.init(spark, idxRoot,
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val cycDir = s"$base/in_0"
      StreamBench.sliceOrdered(docs, "doc_id", 6, cycDir)
      // incarnation 1: start, let at least two micro-batches commit,
      // then stop mid-replay
      val (q, _, _, _) = IngestLoop.startCycleQuery(spark, idxRoot,
        s"$landRoot/cycle_0", cycDir, docs.schema, Some(ckpt))
      val deadline = System.currentTimeMillis() + 60000
      while (q.recentProgress.count(_.numInputRows > 0) < 2 &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "fixture must commit some batches before the kill")
      val landedBefore =
        try spark.read.parquet(s"$landRoot/cycle_0").count()
        catch { case _: Throwable => 0L }
      // incarnation 2: the SAME cycle resumed from the checkpoint —
      // finishes the replay, then compacts the landed batch
      val st = IngestLoop.runCycle(spark, idxRoot, landRoot, 0, cycDir,
        docs.schema, docs.count(), Some(ckpt))
      val landed = IngestLoop.landedAll(spark, landRoot)
        .select(col("doc_id")).as[Long].collect()
      assert(landedBefore > 0 && landedBefore < landed.length,
        "the kill must land mid-cycle (some batches before, some after)")
      assert(landed.length === landed.distinct.length,
        "a replayed batch must not double-land (batch_id overwrite)")
      assert(landed.toSet === q123Keep(sfDir),
        "ownership state must survive the restart — the resumed cycle " +
          "must drop exactly what an unbroken run drops")
      assert(st.landed === landed.length.toLong && st.folded === st.landed,
        "the compaction folds exactly the landed set")
    }
  }

  test("bridge policy at sf0.1: the loop admits exactly the docs whose " +
      "earlier band sharers were ALL never landed; q123 keep is a " +
      "strict subset") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.1"
    withRocksDb {
      val (_, landRoot, _) = runLoop(dir, 3, 4, "bridge")
      val landed = IngestLoop.landedAll(spark, landRoot)
        .select(col("doc_id")).as[Long].collect().toSet
      val keep = q123Keep(dir)
      assert(keep.subsetOf(landed),
        "the loop can only ever ADD to the q123 keep set (missed " +
          "bridges), never drop a doc q123 keeps")
      val extras = landed -- keep
      assert(extras.nonEmpty,
        "sf0.1 is the SF with known cross-cycle bridges — if this is " +
          "empty the corpus changed and the bridge test is vacuous")
      // each extra doc's EARLIER band sharers must all be docs the
      // loop never landed: admitting content that duplicates nothing
      // in the dataset is the deliberate policy divergence from q123
      val bands = operators.Text.bandRows(operators.Text.minhashAgg(spark, dir),
        operators.Banding.Default)
      val sharers = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("b.doc_id") < col("a.doc_id"))
        .select(col("a.doc_id").as("e"), col("b.doc_id").as("earlier"))
        .filter(col("e").isin(extras.toSeq: _*))
        .select(col("earlier")).distinct()
        .as[Long].collect()
      assert(sharers.nonEmpty && sharers.forall(d => !landed.contains(d)),
        "an extra-admitted doc may collide only with never-landed docs")
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.Text
import graft.streaming.{EventStreams, TextStreams, VectorStreams}

/** The driver `events` table through Structured Streaming: same plans,
  * same final answers as the batch/oracle path; streaming dedup keeps one
  * row per key and evicts state by watermark.
  */
class EventStreamsSpec extends SparkSpec {

  test("streaming tumbling signups over events.parquet == batch q20") {
    val batch = SparkEntry.queries("q20_win_tumbling")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val q = EventStreams.tumblingSignups(spark, sfDir)
      .writeStream.format("memory").queryName("ev_stream")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-static near-dup gate: exact dups and LSH candidates dropped, stateless") {
    import spark.implicits._
    val longA = (0 until 40).map(i => s"alpha$i").mkString(" ")
    val longB = (0 until 40).map(i => s"beta$i").mkString(" ")
    val corpus = Seq((100L, longA), (101L, longB)).toDF("doc_id", "text")
    val root = tempDir("gate_idx").toPath.toString + "/idx"
    graft.streaming.IndexCompaction.init(spark, root, corpus)
    val arrivals = Seq(
      (1L, longA, "2025-08-03T13:00:01Z"),             // exact dup -> dropped
      (2L, longA.replace("alpha39", "changed"),        // near-dup  -> band hit
        "2025-08-03T13:00:02Z"),
      (3L, (0 until 40).map(i => s"gamma$i").mkString(" "), // novel -> passes
        "2025-08-03T13:00:03Z"),
      (4L, "tiny doc", "2025-08-03T13:00:04Z"))        // <3 words -> passes
    val mem = MemoryStream[(Long, String, String)](spark)
    val df = mem.toDF().toDF("doc_id", "text", "timestamp")
      .withColumn("eventTime", to_timestamp(col("timestamp")))
    val q = graft.streaming.IndexCompaction.gate(spark, root, df)
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(arrivals)
      q.processAllAvailable()
      val streamed = spark.table("gate_stream")
        .collect().map(_.getLong(0)).toSet
      assert(streamed === Set(3L, 4L),
        "exact dup and near-dup must drop; novel and short docs must pass")
      // the same plan in batch mode is the semantic oracle
      val batchDf = arrivals.toDF("doc_id", "text", "timestamp")
        .withColumn("eventTime", to_timestamp(col("timestamp")))
      val batch = graft.streaming.IndexCompaction.gate(spark, root, batchDf)
        .collect().map(_.getLong(0)).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("span contamination audit: per-doc hit counts finalize on watermark") {
    import spark.implicits._
    val c = (0 until 12).map(i => f"corpus$i%04d").mkString // 120 chars
    val corpus = Seq((100L, c)).toDF("doc_id", "text")
    val arrivals = Seq(
      (1L, c, "2025-08-03T13:00:01Z"),                   // all 3 spans hit
      (2L, c.take(60) + "u" * 60, "2025-08-03T13:00:02Z"), // only p=1 hits
      (3L, "z" * 120, "2025-08-03T13:00:03Z"),           // novel: 3 spans, 0 hits
      (4L, "tiny", "2025-08-03T13:00:04Z"))              // below one window
    val mem = MemoryStream[(Long, String, String)](spark)
    val df = mem.toDF().toDF("doc_id", "text", "timestamp")
      .withColumn("eventTime", to_timestamp(col("timestamp")))
    val q = TextStreams.spanContaminationAudit(df, corpus)
      .writeStream.format("memory").queryName("span_audit")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(arrivals)
      q.processAllAvailable()
      // advance the watermark past every arrival to finalize the groups
      mem.addData(Seq((99L, "late watermark pusher", "2025-08-03T14:00:00Z")))
      q.processAllAvailable()
      val streamed = spark.table("span_audit")
        .filter(col("doc_id") < 99).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      assert(streamed === Set((1L, 3L, 3L), (2L, 3L, 1L),
        (3L, 3L, 0L), (4L, 0L, 0L)))
      // the same plan in batch mode is the semantic oracle
      val batchDf = arrivals.toDF("doc_id", "text", "timestamp")
        .withColumn("eventTime", to_timestamp(col("timestamp")))
      val batch = TextStreams.spanContaminationAudit(batchDf, corpus)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-static semantic gate: bucket collisions drop, negation passes") {
    import spark.implicits._
    val base = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val near = base.clone(); near(1) = 0.001f
    val neg = base.map(x => -x)
    val corpus = Seq((100L, base.toSeq)).toDF("vec_id", "embedding")
    val arrivals = Seq(
      (1L, base.toSeq, "2025-08-03T13:00:01Z"), // identical -> every bucket shared
      (2L, near.toSeq, "2025-08-03T13:00:02Z"), // near-dup  -> same sign pattern
      (3L, neg.toSeq, "2025-08-03T13:00:03Z"))  // negation  -> complement buckets, passes
    val mem = MemoryStream[(Long, Seq[Float], String)](spark)
    val df = mem.toDF().toDF("vec_id", "embedding", "timestamp")
      .withColumn("eventTime", to_timestamp(col("timestamp")))
    val q = VectorStreams.nearDupGate(df, corpus)
      .writeStream.format("memory").queryName("vgate_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(arrivals)
      q.processAllAvailable()
      val streamed = spark.table("vgate_stream")
        .collect().map(_.getLong(0)).toSet
      assert(streamed === Set(3L))
      // the same plan in batch mode is the semantic oracle
      val batchDf = arrivals.toDF("vec_id", "embedding", "timestamp")
        .withColumn("eventTime", to_timestamp(col("timestamp")))
      val batch = VectorStreams.nearDupGate(batchDf, corpus)
        .collect().map(_.getLong(0)).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming cell assignment == the landed batch IVF index, row for row") {
    import spark.implicits._
    val vecs = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])](spark)
    val q = VectorStreams.cellAssign(
      spark, mem.toDF().toDF("vec_id", "embedding"), sfDir)
      .writeStream.format("memory").queryName("cell_assign")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(vecs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("cell_assign").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.Vectors.ivfAssignmentsBuild(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed === batch,
        "per-row argmin must reproduce the batch window argmax exactly")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("mixed lake: landed prefix index + streamed suffix appends == full batch rebuild") {
    import spark.implicits._
    // the compaction contract of the vector store's write path: batch
    // index rows landed BEFORE a suffix arrived, plus the suffix's
    // streamed cellAssign appends, must serve downstream reads (q44/q48/
    // q111 are deterministic functions of this table) exactly as a full
    // batch rebuild would. Valid because the codebook is FROZEN across
    // both paths — assignment is row-local given the trained centroids.
    val full = graft.operators.Vectors.ivfAssignmentsBuild(spark, sfDir)
    val fullRows = full.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ids = sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id")).as[Long].collect().sorted
    val cut = ids(ids.length / 2)
    val prefix = fullRows.filter(_._1 < cut)
    val suffixVecs = sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") >= cut)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])](spark)
    val q = VectorStreams.cellAssign(
      spark, mem.toDF().toDF("vec_id", "embedding"), sfDir)
      .writeStream.format("memory").queryName("mixed_lake")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(suffixVecs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("mixed_lake").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // appendable straight into the landed vec_ivf table: same columns
      assert(spark.table("mixed_lake").schema.map(f => (f.name, f.dataType)) ===
        full.schema.map(f => (f.name, f.dataType)))
      assert(prefix.nonEmpty && streamed.nonEmpty)
      assert((prefix ++ streamed) === fullRows,
        "landed prefix + streamed suffix must equal a full batch rebuild")
    } finally q.stop()
  }

  test("frozen model rebuilds when the corpus fingerprint changes; old checkpoint restores") {
    withRocksDb {
      import spark.implicits._
      val dir = tempDir("staleness_corpus").toPath.toString
      val out = tempDir("staleness_out").toPath.toString
      val ckpt = tempDir("staleness_ckpt").toPath.toString
      def writeCorpus(docs: Seq[(Long, String)]): Unit =
        docs.map { case (id, t) => (id, t, "en", s"src${id % 3}", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
      val filler = (0 until 30).map(i => s"filler$i").mkString(" ")
      // v1: "window" in 1 of 4 docs -> idf = ln(4/1)
      writeCorpus(Seq(1L -> s"window $filler", 2L -> filler,
        3L -> filler, 4L -> filler))
      val mem = MemoryStream[(Long, String)](spark)
      def start() = TextStreams.standingRetrieval(
        spark, mem.toDF().toDF("doc_id", "text"), dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      val probe = "window window window " + filler
      val q1 = start()
      try { mem.addData(Seq((100L, probe))); q1.processAllAvailable() }
      finally q1.stop() // old stream DRAINS before any model swap
      val v1 = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val s1 = v1.find(u => u._1 == 1L && u._3 == 100L).get._4
      assert(s1 > 0)

      // regenerate the corpus: "window" now in 4 of 8 docs — idf, ndocs
      // and the token total all shift, so the same text must re-score
      writeCorpus(Seq(
        1L -> s"window $filler", 2L -> s"window $filler extra",
        3L -> s"window $filler more", 4L -> s"window $filler words here",
        5L -> filler, 6L -> filler, 7L -> filler, 8L -> filler))
      val q2 = start() // restart re-fingerprints -> model rebuilds
      try {
        mem.addData(Seq((200L, probe)))
        q2.processAllAvailable()
        val after = spark.read.parquet(out).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .diff(v1)
        // the re-emitted top-k proves BOTH halves of the contract:
        // doc 100 restored from the old checkpoint at its v1 score...
        val restored = after.find(u => u._1 == 1L && u._3 == 100L).get
        assert(restored._4 === s1,
          "restored state must keep its as-emitted score across the swap")
        // ...and the identical text now scores under the v2 model
        val s2 = after.find(u => u._1 == 1L && u._3 == 200L).get._4
        assert(s2 !== s1, "a fingerprint change must produce new scores")
        val expected2 = TextStreams.scoreAgainstFrozen(
          Seq((200L, probe)).toDF("doc_id", "text"),
          TextStreams.currentModel(spark, dir))
          .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
        assert(s2 === expected2(1L),
          "post-swap score must equal the v2 frozen model's batch score")
      } finally q2.stop()
    }
  }

  test("intra-stream LSH collisions: golden owners and bands") {
    withRocksDb {
      import spark.implicits._
      val filler = (0 until 20).map(i => s"tok$i").mkString(" ")
      val mem = MemoryStream[(Long, String)](spark)
      val q = TextStreams.streamingLshCollisions(
        spark, mem.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("lsh_golden")
        .outputMode(OutputMode.Append).start()
      try {
        // batch 1: A owns every bucket; B (identical text) collides on
        // all 4 bands; C (disjoint text) on none; D is too short to band
        val other = "entirely different words " +
          (0 until 20).map(i => s"x$i").mkString(" ")
        mem.addData(Seq((1L, s"alpha $filler"), (2L, s"alpha $filler"),
          (3L, other), (4L, "too short")))
        q.processAllAvailable()
        val r1 = spark.table("lsh_golden").as[(Long, Int, Long)].collect().toSet
        assert(r1 === (0 until 4).map(b => (2L, b, 1L)).toSet)
        // batch 2: a LATER duplicate of A still resolves to owner A —
        // ownership survives across micro-batches in the state store
        mem.addData(Seq(5L -> s"alpha $filler"))
        q.processAllAvailable()
        val r2 = spark.table("lsh_golden").as[(Long, Int, Long)].collect().toSet
        assert((r2 -- r1) === (0 until 4).map(b => (5L, b, 1L)).toSet)
      } finally q.stop()
    }
  }

  test("streamingNearDupAdmit golden: dup dropped, owner kept, short " +
      "docs always admitted, ownership survives across batches") {
    withRocksDb {
      import spark.implicits._
      val filler = (0 until 20).map(i => s"tok$i").mkString(" ")
      val other = "entirely different words " +
        (0 until 20).map(i => s"x$i").mkString(" ")
      val mem = MemoryStream[(Long, String)](spark)
      val q = TextStreams.streamingNearDupAdmit(
        spark, mem.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("admit_golden")
        .outputMode(OutputMode.Append).start()
      try {
        // batch 1: 1 owns every bucket; 2 (identical) must drop; 3
        // (disjoint) admits; 4 and 5 are IDENTICAL short docs — the
        // batch rule never drops bandless docs, so BOTH admit
        mem.addData(Seq((1L, s"alpha $filler"), (2L, s"alpha $filler"),
          (3L, other), (4L, "too short"), (5L, "too short")))
        q.processAllAvailable()
        val a1 = TextStreams.admittedOf(spark.table("admit_golden"))
          .as[Long].collect().toSet
        assert(a1 === Set(1L, 3L, 4L, 5L))
        // batch 2: a later duplicate of 1 still drops — ownership is
        // in the state store, not the batch
        mem.addData(Seq(6L -> s"alpha $filler"))
        q.processAllAvailable()
        val a2 = TextStreams.admittedOf(spark.table("admit_golden"))
          .as[Long].collect().toSet
        assert(a2 === Set(1L, 3L, 4L, 5L), "doc 6 must not be admitted")
      } finally q.stop()
    }
  }

  test("streamingNearDupAdmit == the batch q123 keep set over the " +
      "documents corpus, fed in doc_id order across multiple batches") {
    withRocksDb {
      import spark.implicits._
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .as[(Long, String)].collect()
      val dropped = SparkEntry.queries("q123_arrival_dedup")(spark, sfDir)
        .select(col("doc_id")).as[Long].collect().toSet
      val expected = docs.map(_._1).toSet -- dropped
      val mem = MemoryStream[(Long, String)](spark)
      val q = TextStreams.streamingNearDupAdmit(
        spark, mem.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("admit_vs_batch")
        .outputMode(OutputMode.Append).start()
      try {
        docs.grouped(math.max(1, docs.length / 3)).foreach { slice =>
          mem.addData(slice.toSeq)
          q.processAllAvailable()
        }
        val admitted = TextStreams.admittedOf(spark.table("admit_vs_batch"))
          .as[Long].collect().toSet
        assert(admitted === expected)
        assert(dropped.nonEmpty && admitted.nonEmpty,
          "fixture must exercise both outcomes")
      } finally q.stop()
    }
  }

  test("admit emission: one presence row per doc plus every non-owner " +
      "verdict, and its non-owner rows are exactly the collision feed") {
    withRocksDb {
      import spark.implicits._
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
        .as[(Long, String)].collect()
      def run(name: String, op: DataFrame => Dataset[TextStreams.BandVerdict])
          : Seq[(Long, Int, Long)] = {
        val mem = MemoryStream[(Long, String)](spark)
        val q = op(mem.toDF().toDF("doc_id", "text"))
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append).start()
        try {
          docs.grouped(math.max(1, docs.length / 3)).foreach { slice =>
            mem.addData(slice.toSeq)
            q.processAllAvailable()
          }
          spark.table(name).as[(Long, Int, Long)].collect().toSeq
        } finally q.stop()
      }
      val admit = run("shape_admit", TextStreams.streamingNearDupAdmit(spark, _))
      val coll = run("shape_coll", TextStreams.streamingLshCollisions(spark, _))
      val ids = docs.map(_._1).toSet
      assert(admit.map(_._1).toSet === ids, "every input doc must prove presence")
      // the presence row: band 0 for a banded doc, band -1 for a short one
      val presence = admit.filter(_._2 <= 0).groupBy(_._1).view.mapValues(_.size).toMap
      assert(presence.keySet === ids && presence.values.forall(_ == 1),
        "exactly one band <= 0 row per doc")
      assert(!admit.exists { case (doc, band, own) => band > 0 && own == doc },
        "a band > 0 owner row carries nothing admittedOf reads")
      assert(coll.sorted === admit.filter { case (doc, _, own) => own != doc }.sorted,
        "the collision feed must be the admit feed's non-owner rows")
      assert(coll.nonEmpty, "fixture must contain collisions")
    }
  }

  test("intra-stream LSH collisions: TTL'd ownership expires between Trigger.Once runs") {
    withRocksDb {
      import spark.implicits._
      val filler = (0 until 20).map(i => s"tok$i").mkString(" ")
      val out = tempDir("lsh_ttl_out").toPath.toString
      val ckpt = tempDir("lsh_ttl_ckpt").toPath.toString
      val mem = MemoryStream[(Long, String)](spark)
      // TTL'd => processing-time clock => the engine never idles under
      // processAllAvailable; a one-batch Trigger.Once run drains and
      // stops by construction (the documented contract for TTL'd runs)
      def runOnce(): Unit = {
        val q = TextStreams.streamingLshCollisions(spark,
          mem.toDF().toDF("doc_id", "text"),
          org.apache.spark.sql.streaming.TTLConfig(
            java.time.Duration.ofMillis(800)))
          .toDF().writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .outputMode(OutputMode.Append).start()
        try assert(q.awaitTermination(120000), "Trigger.Once run must stop")
        finally q.stop()
      }
      mem.addData(Seq((1L, s"alpha $filler")))
      runOnce() // doc 1 registers every bucket; nothing emitted
      assert(spark.read.schema("docId LONG, band INT, ownerDoc LONG")
        .parquet(out).isEmpty)
      Thread.sleep(1600) // all of doc 1's ownerships age out
      // same batch: doc 2 re-registers the expired buckets (NOT a
      // collision with 1), doc 3 collides with the fresh owner 2 —
      // proving both expiry and re-registration without a timing race
      mem.addData(Seq((2L, s"alpha $filler"), (3L, s"alpha $filler")))
      runOnce()
      val rows = spark.read.parquet(out).as[(Long, Int, Long)].collect().toSet
      assert(rows === (0 until 4).map(b => (3L, b, 2L)).toSet,
        "expired owner 1 must not collide; fresh owner 2 must")
    }
  }

  test("intra-stream LSH collisions: doc_id-order replay drops the batch LSH dedup set") {
    withRocksDb {
      import spark.implicits._
      import graft.operators.Text
      val docs = sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      // batch truth: a doc drops iff an EARLIER doc shares >=1 band sig
      val exploded = Text.docBands(docs, graft.operators.Banding.Default)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
      val expected = exploded.withColumn("own", min(col("doc_id")).over(w))
        .filter(col("doc_id") > col("own"))
        .select(col("doc_id")).distinct().as[Long].collect().toSet

      val rows = docs.orderBy(col("doc_id")).as[(Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String)](spark)
      val q = TextStreams.streamingLshCollisions(
        spark, mem.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("lsh_equiv")
        .outputMode(OutputMode.Append).start()
      try {
        // replay in doc_id order across several micro-batches, so owners
        // accumulate in state rather than within one batch
        rows.grouped(math.max(1, rows.size / 3)).foreach { chunk =>
          mem.addData(chunk); q.processAllAvailable()
        }
        val collisions = spark.table("lsh_equiv").as[(Long, Int, Long)].collect()
        assert(collisions.forall { case (doc, _, own) => own < doc },
          "owner always arrived (doc_id order) before the colliding doc")
        assert(collisions.map(_._1).toSet === expected,
          "streamed drop set must equal the batch earlier-doc band rule")
        assert(expected.nonEmpty, "fixture must actually contain near-dups")
        // and the oracle-checked q123 registry query IS that batch rule
        assert(Text.arrivalDedup(spark, sfDir)
          .select(col("doc_id")).as[Long].collect().toSet === expected,
          "q123 must encode the same drop set the stream produces")
      } finally q.stop()
    }
  }

  test("intra-stream LSH ownership survives a checkpoint restart under changelog checkpointing") {
    withChangelogRocksDb {
      import spark.implicits._
      val filler = (0 until 20).map(i => s"tok$i").mkString(" ")
      val out = tempDir("lsh_restart_out").toPath.toString
      val ckpt = tempDir("lsh_restart_ckpt").toPath.toString
      val mem = MemoryStream[(Long, String)](spark)
      def start() = TextStreams.streamingLshCollisions(
        spark, mem.toDF().toDF("doc_id", "text"))
        .toDF().writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      val q1 = start()
      try { mem.addData(Seq((1L, s"alpha $filler"))); q1.processAllAvailable() }
      finally q1.stop() // doc 1 owns every bucket; state now only in ckpt
      val q2 = start()
      try {
        // restored run: a near-dup must collide with the PRE-KILL owner,
        // proving the ownership state was replayed from the changelog —
        // a lost store would silently re-register doc 2 as a fresh owner
        mem.addData(Seq((2L, s"alpha $filler")))
        q2.processAllAvailable()
        val rows = spark.read.parquet(out).as[(Long, Int, Long)].collect().toSet
        assert(rows === (0 until 4).map(b => (2L, b, 1L)).toSet,
          "restored ownership must attribute collisions to the original owner")
      } finally q2.stop()
    }
  }

  test("live dataset card: final streamed card matches the batch q101 volume block") {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val rows = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val mem = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = TextStreams.liveDatasetCard(
      mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"))
      .writeStream.format("memory").queryName("live_card")
      .outputMode(OutputMode.Update).start()
    try {
      // card must be FRESH per trigger: after half the corpus the row
      // reflects exactly the docs seen so far, not the final totals
      val (h1, h2) = rows.splitAt(rows.length / 2)
      mem.addData(h1.toSeq); q.processAllAvailable()
      val mid = spark.table("live_card").orderBy(col("n_docs").desc).first()
      assert(mid.getLong(0) === h1.length.toLong)
      mem.addData(h2.toSeq); q.processAllAvailable()
      val card = spark.table("live_card").orderBy(col("n_docs").desc).first()
      val batch = graft.operators.Curation.datasetCard(spark, sfDir).first()
      // exact-aggregate fields match the batch card exactly
      assert(card.getLong(0) === batch.getAs[Long]("n_docs"))
      assert(card.getLong(1) === batch.getAs[Long]("n_tokens"))
      assert(card.getLong(2) === batch.getAs[Long]("n_chars"))
      // HLL fields carry the documented ~5% relative error (observed:
      // 19 for 20 sources at the default rsd) — pin the tolerance, and
      // exactness only at truly tiny cardinality (langs)
      def closeTo(approx: Long, exact: Long, what: String): Unit =
        assert(math.abs(approx - exact) <= math.max(1L, (0.05 * exact).toLong),
          s"$what: approx $approx vs exact $exact")
      assert(card.getLong(3) === batch.getAs[Long]("n_langs"))
      closeTo(card.getLong(4), batch.getAs[Long]("n_sources"), "sources")
      // dup count = n_docs - approx distinct texts: tolerance scales
      // with the DISTINCT count the sketch estimates, not the dup count
      closeTo(card.getLong(0) - card.getLong(5),
        batch.getAs[Long]("n_docs") - batch.getAs[Long]("n_exact_dup_docs"),
        "distinct texts")
    } finally q.stop()
  }

  test("multimodal blob ingest gate: CAS dedup intra-stream and against the landed store") {
    import spark.implicits._
    val existing = graft.operators.Multimodal.blobs(spark, sfDir)
    // one payload byte-identical to a landed blob, one fresh payload
    // arriving twice in-stream, one unique
    val landedText = sources.Tables.documents(spark, sfDir)
      .select(col("text")).first().getString(0)
    val fresh = "a brand new never-landed payload"
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2025-08-03T13:00:00Z"))
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)](spark)
    val q = streaming.MediaStreams.blobIngest(
      mem.toDF().toDF("doc_id", "payload", "eventTime"), existing)
      .writeStream.format("memory").queryName("blob_gate")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Seq(
        (1L, landedText.getBytes("UTF-8"), ts),
        (2L, fresh.getBytes("UTF-8"), ts),
        (3L, fresh.getBytes("UTF-8"), ts),
        (4L, "another unique payload".getBytes("UTF-8"), ts)))
      q.processAllAvailable()
      val out = spark.table("blob_gate").collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(!out.contains(1L), "byte-identical to a landed blob: dropped")
      assert(out.keySet.intersect(Set(2L, 3L)).size === 1,
        "in-stream duplicate payload admits exactly one copy")
      assert(out.contains(4L))
      // admitted metadata matches the batch store's derivation: same
      // md5 content address (pure-JVM replay), same byte accounting
      val r4 = out(4L)
      assert(r4.getAs[Long]("n_bytes") === "another unique payload".length.toLong)
      assert(r4.getAs[String]("checksum") ===
        java.security.MessageDigest.getInstance("MD5")
          .digest("another unique payload".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    } finally q.stop()
  }

  test("live CAS accounting: final streamed card matches batch q112 per source") {
    import spark.implicits._
    val blobs = graft.operators.Multimodal.blobs(spark, sfDir)
      .select(col("source"), col("payload")).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val mem = MemoryStream[(String, Array[Byte])](spark)
    val q = streaming.MediaStreams.liveCasAccounting(
      mem.toDF().toDF("source", "payload"))
      .writeStream.format("memory").queryName("live_cas")
      .outputMode(OutputMode.Update).start()
    try {
      blobs.grouped(math.max(1, blobs.length / 3)).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
      // latest update per source = the max-n_blobs row for that source
      val live = spark.table("live_cas").collect()
        .groupBy(_.getString(0))
        .map { case (src, rows) => src -> rows.maxBy(_.getLong(1)) }
      val batch = graft.operators.Multimodal.casAccounting(spark, sfDir)
        .collect().map(r => r.getString(0) -> r).toMap
      assert(live.keySet === batch.keySet)
      batch.foreach { case (src, b) =>
        val l = live(src)
        assert(l.getLong(1) === b.getAs[Long]("n_blobs"), s"$src blobs")
        assert(l.getLong(2) === b.getAs[Long]("total_bytes"), s"$src bytes")
        val exactUnique = b.getAs[Long]("n_unique")
        assert(math.abs(l.getLong(3) - exactUnique) <=
          math.max(1L, (0.05 * exactUnique).toLong),
          s"$src unique: approx ${l.getLong(3)} vs $exactUnique")
      }
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark emits one row per duplicated key") {
    import spark.implicits._
    val mem = MemoryStream[UserActivity](spark)
    val df = mem.toDF().withColumn("eventTime", to_timestamp(col("timestamp")))
    val q = EventStreams.dedupWithinWatermark(df,
      Seq("userId", "timestamp"), delay = "10 seconds")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      def ev(u: String, sec: Int) =
        UserActivity(u, "online", f"2025-08-03T13:00:$sec%02dZ")
      mem.addData(Seq(ev("a", 1), ev("a", 1), ev("b", 2)))
      q.processAllAvailable()
      // same keys again in a later batch, still within the watermark
      mem.addData(Seq(ev("a", 1), ev("b", 2), ev("c", 3)))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream")
        .select(col("userId"), col("timestamp")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(rows.length === rows.distinct.length)
      assert(rows.map(_._1).sorted.toSeq === Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dim; stream side never shuffles") {
    import spark.implicits._
    val dim = Seq(("register", "acquisition"), ("online", "engagement"))
      .toDF("activity", "category")
    val mem = MemoryStream[UserActivity](spark)
    val q = EventStreams.enrichWithDim(mem.toDF(), dim, Seq("activity"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Seq(UserActivity("a", "register", "2025-08-03T13:00:01Z"),
        UserActivity("b", "online", "2025-08-03T13:00:02Z")))
      q.processAllAvailable()
      val got = spark.table("enriched")
        .select(col("userId"), col("category")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === Set(("a", "acquisition"), ("b", "engagement")))
    } finally q.stop()
    // same logical plan on the batch side must broadcast the dim
    val batchPlan = EventStreams
      .enrichWithDim(fixture, dim, Seq("activity"))
      .queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"),
      s"dim join must broadcast:\n$batchPlan")
  }

  test("unioned streams finalize windows on the MIN of the input watermarks") {
    import spark.implicits._
    def ev(sec: Int) = UserActivity("u", "online", f"2025-08-03T13:00:$sec%02dZ")
    val fast = MemoryStream[UserActivity](spark)
    val slow = MemoryStream[UserActivity](spark)
    def withTime(m: MemoryStream[UserActivity]) =
      m.toDF().withColumn("eventTime", to_timestamp(col("timestamp")))
    val q = EventStreams.unionedTumbling(withTime(fast), withTime(slow))
      .writeStream.format("memory").queryName("union_wm")
      .outputMode(OutputMode.Append).start()
    try {
      // both sources put a row in window [0,3); only FAST races ahead
      fast.addData(Seq(ev(1), ev(30)))
      slow.addData(Seq(ev(2)))
      q.processAllAvailable()
      // fast's watermark (:28) is past the window, slow's (:00) is not —
      // the global minimum must hold the window open
      assert(spark.table("union_wm").isEmpty,
        "window closed while a lagging source could still deliver")
      // once the slow source catches up, the window emits rows from BOTH
      slow.addData(Seq(ev(31)))
      q.processAllAvailable()
      val got = spark.table("union_wm").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val w0 = java.time.Instant.parse("2025-08-03T13:00:00Z").getEpochSecond
      assert(got.get(w0) === Some(2L), s"got $got")
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks within the horizon only") {
    import spark.implicits._
    def t(sec: Int) =
      java.sql.Timestamp.from(java.time.Instant.parse(f"2025-08-03T13:${sec / 60}%02d:${sec % 60}%02dZ"))
    val imps = MemoryStream[(String, String, java.sql.Timestamp)](spark)
    val clicks = MemoryStream[(String, java.sql.Timestamp)](spark)
    val q = EventStreams.clickAttribution(
      imps.toDF().toDF("impUser", "adId", "impTime"),
      clicks.toDF().toDF("clickUser", "clickTime"))
      .writeStream.format("memory").queryName("attributed")
      .outputMode(OutputMode.Append).start()
    try {
      imps.addData(Seq(("a", "ad1", t(0)), ("b", "ad2", t(1))))
      // a clicks inside the 30 s horizon; b clicks 100 s later (outside);
      // c clicks with no impression at all
      clicks.addData(Seq(("a", t(10)), ("b", t(101)), ("c", t(11))))
      q.processAllAvailable()
      val got = spark.table("attributed")
        .select(col("impUser"), col("adId")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === Set(("a", "ad1")),
        s"only a's in-horizon click may attribute; got $got")
    } finally q.stop()
  }

  test("no-equi-key bucketed range join (q149's streaming twin): the " +
      "streamed pair set equals the literal batch inequality join — " +
      "each pair exactly once, the synthetic bucket carrying the state") {
    import spark.implicits._
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"))
    // literal ground truth: the quadratic inequality join the bucket
    // rewrite replaces (fine at test scale)
    val truth = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
      .join(ev.select(col("event_id").as("e_id"), col("ts").as("e_ts")),
        expr("""e_id <> err_id AND
                e_ts >= err_ts - interval 60 seconds AND
                e_ts <= err_ts + interval 60 seconds"""))
      .select(col("err_id"), col("e_id"))
      .as[(Long, Long)].collect()
    assert(truth.nonEmpty, "fixture must have nearby pairs")
    val q = streaming.EventStreams.nearbyPairs(
      streaming.EventStreams.readEvents(spark, sfDir))
      .writeStream.format("memory").queryName("nearby_pairs")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val got = spark.table("nearby_pairs")
        .select(col("err_id"), col("e_id")).as[(Long, Long)].collect()
      assert(got.length === got.distinct.length &&
        got.length === truth.length,
        "the bucket fan-out must produce each pair EXACTLY once")
      assert(got.toSet === truth.toSet,
        "streamed pairs must equal the literal inequality join")
    } finally q.stop()
  }

  test("outer interval join emits unmatched impressions after the watermark closes them") {
    import spark.implicits._
    def t(sec: Int) =
      java.sql.Timestamp.from(java.time.Instant.parse(f"2025-08-03T13:${sec / 60}%02d:${sec % 60}%02dZ"))
    val imps = MemoryStream[(String, String, java.sql.Timestamp)](spark)
    val clicks = MemoryStream[(String, java.sql.Timestamp)](spark)
    val q = EventStreams.clickAttribution(
      imps.toDF().toDF("impUser", "adId", "impTime"),
      clicks.toDF().toDF("clickUser", "clickTime"),
      delay = "5 seconds", horizon = "10 seconds", joinType = "leftOuter")
      .writeStream.format("memory").queryName("attributed_outer")
      .outputMode(OutputMode.Append).start()
    try {
      imps.addData(Seq(("a", "ad1", t(0)), ("b", "ad2", t(1))))
      clicks.addData(Seq(("a", t(5))))
      q.processAllAvailable()
      // advance BOTH watermarks far past imp + horizon + delay so the
      // unmatched impression for b provably can't match anymore
      imps.addData(Seq(("z", "adz", t(120))))
      clicks.addData(Seq(("z", t(121))))
      q.processAllAvailable()
      val got = spark.table("attributed_outer")
        .select(col("impUser"), col("adId"), col("clickUser")).collect()
        .map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))
        .toSet
      assert(got.contains(("a", "ad1", Some("a"))), s"matched click lost: $got")
      assert(got.contains(("b", "ad2", None)),
        s"never-clicked impression must emit with null click side: $got")
    } finally q.stop()
  }

  test("streaming ingest pipeline: quality-gates, dedups, and fingerprints docs") {
    import spark.implicits._
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    val df = mem.toDF().toDF("doc_id", "text", "eventTime")
    val q = TextStreams.ingestPipeline(df)
      .writeStream.format("memory").queryName("ingest_stream")
      .outputMode(OutputMode.Append).start()
    try {
      def ts(sec: Int) =
        java.sql.Timestamp.from(java.time.Instant.parse(f"2025-08-03T13:00:$sec%02dZ"))
      val good = (1 to 20).map(i => s"word$i").mkString(" ") // 20 words, 0 stopwords
      val short = "too short"
      val stopHeavy = (1 to 20).map(_ => "the").mkString(" ") // ratio 1.0
      mem.addData(Seq((1L, good, ts(0)), (2L, short, ts(1)), (3L, stopHeavy, ts(2))))
      q.processAllAvailable()
      // duplicate content in a later batch, inside the watermark: dropped
      mem.addData(Seq((4L, good, ts(5)), (5L, good + " tail", ts(6))))
      q.processAllAvailable()
      val rows = spark.table("ingest_stream")
        .select(col("doc_id"), col("n_words"), col("fingerprint")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.map(_._1).sorted.toSeq === Seq(1L, 5L),
        s"quality gate drops 2/3, dedup drops 4; got ${rows.toSeq}")
      assert(rows.forall(_._2 >= 15L))
      // fingerprint matches the batch operator's value for the same text
      val batchFp = Seq((1L, good)).toDF("doc_id", "text")
        .select(call_function("min_gram_hash60", col("text"))).head().getLong(0)
      assert(rows.find(_._1 == 1L).get._3 === batchFp)
      // scrub-before-dedup: two docs differing ONLY in deny-listed terms
      // redact to identical text, so the second is a duplicate
      val base = (1 to 18).map(i => s"tok$i").mkString(" ")
      mem.addData(Seq((6L, s"$base customer order", ts(8)),
        (7L, s"$base key row", ts(9))))
      q.processAllAvailable()
      val scrubbed = spark.table("ingest_stream")
        .filter(col("doc_id") >= 6L)
        .select(col("doc_id"), col("n_redacted")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(scrubbed === Seq((6L, 2L)),
        s"doc 7 must dedup against doc 6 post-scrub; got $scrubbed")
    } finally q.stop()
  }

  test("ingest dedup state survives a checkpoint restart") {
    import spark.implicits._
    val out = tempDir("ingest_restart_out").toPath.toString
    val ckpt = tempDir("ingest_restart_ckpt").toPath.toString
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    def start() = TextStreams.ingestPipeline(
      mem.toDF().toDF("doc_id", "text", "eventTime"), delay = "1 hour")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append).start()
    def ts(sec: Int) =
      java.sql.Timestamp.from(java.time.Instant.parse(f"2025-08-03T13:00:$sec%02dZ"))
    val good = (1 to 20).map(i => s"tok$i").mkString(" ")
    val q1 = start()
    try { mem.addData(Seq((1L, good, ts(0)))); q1.processAllAvailable() }
    finally q1.stop()
    // restart from the checkpoint: the content-hash dedup state must be
    // restored, so the same text arriving again (within the watermark
    // horizon) is dropped, not re-emitted
    val q2 = start()
    try {
      mem.addData(Seq((2L, good, ts(30)), (3L, good + " fresh", ts(31))))
      q2.processAllAvailable()
      val ids = spark.read.parquet(out).select(col("doc_id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 3L),
        s"doc 2 duplicates doc 1 across the restart and must be dropped; got $ids")
    } finally q2.stop()
  }

  test("span audit groups survive a checkpoint restart and finalize after it") {
    import spark.implicits._
    val out = tempDir("span_restart_out").toPath.toString
    val ckpt = tempDir("span_restart_ckpt").toPath.toString
    val c = (0 until 12).map(i => f"corpus$i%04d").mkString
    val corpus = Seq((100L, c)).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    def start() = TextStreams.spanContaminationAudit(
      mem.toDF().toDF("doc_id", "text", "eventTime"), corpus, delay = "10 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append).start()
    def ts(sec: Int) =
      java.sql.Timestamp.from(java.time.Instant.parse(f"2025-08-03T13:00:$sec%02dZ"))
    val q1 = start()
    try {
      // two docs land but the watermark never passes them: their audit
      // groups exist only in the state store when the query stops
      mem.addData(Seq((1L, c, ts(0)), (2L, "z" * 120, ts(1))))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      mem.addData(Seq((99L, "late watermark pusher", ts(59))))
      q2.processAllAvailable()
      val got = spark.read.parquet(out).filter(col("doc_id") < 99)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      assert(got === Set((1L, 3L, 3L), (2L, 3L, 0L)),
        s"pre-restart groups must finalize from restored state; got $got")
    } finally q2.stop()
  }

  test("standing retrieval: one-batch top-k equals the batch twin; later arrivals re-rank") {
    withRocksDb {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val model = TextStreams.frozenModel(spark, sfDir)
      assert(model.nonEmpty)
      val docsDf = sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      // batch twin: same frozen-model scoring, per-query top-5 window
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score_micro").desc, col("doc_id"))
      val expected = TextStreams.scoreAgainstFrozen(docsDf, model)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5).collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getLong(2))).toSet

      val mem = MemoryStream[(Long, String)](spark)
      val q = TextStreams.standingRetrieval(
        spark, mem.toDF().toDF("doc_id", "text"), sfDir)
        .writeStream.format("memory").queryName("standing")
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData(docsDf.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
        q.processAllAvailable()
        val afterOne = spark.table("standing").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(afterOne === expected,
          "one micro-batch must emit exactly the batch twin's top-k per query")
        // INDEPENDENT oracle: the q119 posting-table path shares no code
        // with scoreAgainstFrozen, so a scoring bug common to the stream
        // and its twin (tokenization, idf rounding, len) cannot hide here
        val oracle = graft.operators.Text.bm25Retrieval(spark, sfDir)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        assert(afterOne === oracle,
          "stream top-k must equal the independent q119 posting-table oracle")
        // a later arrival containing every query term must take rank 1
        // of every standing query (its tf dominates the short corpus docs)
        val killer = Seq.fill(60)(graft.operators.Text.RetrievalQueries
          .flatMap(_._2).distinct).flatten.mkString(" ")
        mem.addData(Seq((999999L, killer)))
        q.processAllAvailable()
        val after = spark.table("standing").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        model.map(_.queryId).distinct.foreach { qid =>
          assert(after.exists(u => u._1 == qid && u._2 == 1L && u._3 == 999999L),
            s"query $qid must re-rank with the new arrival at rank 1")
        }
      } finally q.stop()
    }
  }

  test("standing retrieval top-k state survives a checkpoint restart") {
    withRocksDb {
      import spark.implicits._
      val out = tempDir("standing_restart_out").toPath.toString
      val ckpt = tempDir("standing_restart_ckpt").toPath.toString
      val mem = MemoryStream[(Long, String)](spark)
      def start() = TextStreams.standingRetrieval(
        spark, mem.toDF().toDF("doc_id", "text"), sfDir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      val terms = graft.operators.Text.RetrievalQueries.flatMap(_._2).distinct
      // doc 1 scores on every query; docs with one weak term score lower
      val strong = Seq.fill(10)(terms).flatten.mkString(" ")
      val weak = (terms.take(1) ++ Seq.fill(40)("fillerword")).mkString(" ")
      val q1 = start()
      try { mem.addData(Seq((1L, strong), (2L, weak))); q1.processAllAvailable() }
      finally q1.stop()
      val before = spark.read.parquet(out).count()
      assert(before > 0)
      // restart: re-sending the SAME docs must emit nothing (the restored
      // top-k is unchanged); a stronger new doc must re-rank to #1
      val q2 = start()
      try {
        mem.addData(Seq((1L, strong), (2L, weak)))
        q2.processAllAvailable()
        assert(spark.read.parquet(out).count() === before,
          "re-arrivals equal to restored state must not re-emit")
        mem.addData(Seq((3L, Seq.fill(60)(terms).flatten.mkString(" "))))
        q2.processAllAvailable()
        val top = spark.read.parquet(out)
          .filter(col("rnk") === 1 && col("doc_id") === 3).count()
        assert(top > 0, "a dominant arrival after restart must take rank 1")
      } finally q2.stop()
    }
  }

  test("standing retrieval: a re-arriving doc_id occupies one top-k slot, not two") {
    withRocksDb {
      import spark.implicits._
      val mem = MemoryStream[(Long, String)](spark)
      val q = TextStreams.standingRetrieval(
        spark, mem.toDF().toDF("doc_id", "text"), sfDir)
        .writeStream.format("memory").queryName("standing_update")
        .outputMode(OutputMode.Append).start()
      val terms = graft.operators.Text.RetrievalQueries.flatMap(_._2).distinct
      try {
        // doc 7 arrives weak (one term, long filler), then UPDATED strong
        val weak = (terms.take(1) ++ Seq.fill(40)("fillerword")).mkString(" ")
        val strong = Seq.fill(20)(terms).flatten.mkString(" ")
        def rows() = spark.table("standing_update").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        mem.addData(Seq((7L, weak), (8L, strong)))
        q.processAllAvailable()
        val firstBatch = rows()
        mem.addData(Seq((7L, strong)))
        q.processAllAvailable()
        // the append log's delta for batch 2 = each changed query's full
        // current top-k; doc 7's update changes every query (it enters
        // 2 and 3, re-scores on 1), so every query re-emits here
        val delta = rows().diff(firstBatch)
        graft.operators.Text.RetrievalQueries.map(_._1).foreach { qid =>
          val top = delta.filter(_._1 == qid)
          assert(top.nonEmpty, s"query $qid must re-emit after the doc update")
          // doc 7 holds exactly ONE slot — never a stale-score second one
          assert(top.count(_._3 == 7L) === 1,
            s"doc 7 must occupy one slot for query $qid, got: ${top.toSeq}")
          // identical strong text ⇒ identical score; tie breaks doc asc
          val d7 = top.find(_._3 == 7L).get
          val d8 = top.find(_._3 == 8L).get
          assert(d7._4 === d8._4,
            s"updated doc 7 must carry its max (strong-text) score for query $qid")
          assert(d7._2 < d8._2, s"score tie must break doc-asc for query $qid")
        }
      } finally q.stop()
    }
  }

  test("streaming HLL registers match an independent rank rule; " +
      "re-fed items are absorbed; the estimate lands in the error envelope") {
    withRocksDb {
      import spark.implicits._
      val items = (1 to 5000).map(i => s"item$i")
      val mem = MemoryStream[String](spark)
      val q = TextStreams.streamingHll(spark, mem.toDS())
        .writeStream.format("memory").queryName("hll_stream")
        .outputMode(OutputMode.Update).start()
      try {
        mem.addData(items.take(3000))
        q.processAllAvailable()
        // re-feed a prefix (duplicates must be absorbed by the max)
        // alongside the remainder
        mem.addData(items.drop(3000) ++ items.take(500))
        q.processAllAvailable()
        val regs = spark.table("hll_stream").as[(Long, Int)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        // independent spelling of the register rule: library-side uses
        // Long.numberOfTrailingZeros over the JVM hash; this recomputes
        // via string bit-twiddling on the same 60-bit value
        val expected = items.map { it =>
          val h = TextStreams.hash60(it)
          val v = h >>> 8
          val rho =
            if (v == 0L) 24
            else math.min(
              (v.toBinaryString.reverse.takeWhile(_ == '0').length + 1), 24)
          (h % 256, rho)
        }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        assert(regs === expected)
        val est = TextStreams.hllEstimate(regs.toSeq)
        // deterministic, but asserted as the HLL error envelope
        // (~1.04/sqrt(256) = 6.5% sigma) so the number stays meaningful
        // rather than an opaque golden
        assert(math.abs(est - 5000L) <= 1000L,
          s"estimate $est outside 20% of the true 5000")
        // hllEstimate must reduce duplicates by MAX itself: the raw
        // Update-mode emission history carries superseded lower ranks in
        // partition-dependent order — feed it unreduced, worst-case
        // ordered (stale rank LAST per bucket), and expect the same
        // estimate
        val history = spark.table("hll_stream").as[(Long, Int)].collect()
        val staleLast = scala.util.Random.shuffle(history.toSeq)
          .sortBy { case (_, r) => -r } // descending rank ⇒ stale rank last
        assert(TextStreams.hllEstimate(staleLast) === est,
          "estimate from unreduced emission history must match the reduced snapshot")
      } finally q.stop()
    }
  }

  test("streamingHllBy: one operator maintains every (domain, lang) " +
      "sketch; each group's estimate equals the oracle-checked batch " +
      "q134 n_hll; state ≤ 256 rows per group") {
    withRocksDb {
      import spark.implicits._
      // the EXACT q134 item feed: per-doc tokens and distinct 3-gram
      // shingles, grouped by (domain, lang)
      val docs = sources.Tables.documents(spark, sfDir)
      val toks = docs.select(lit("token").as("domain"), col("lang"),
        explode(split(col("text"), " ")).as("item"))
      val shing = docs
        .select(col("lang"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(lit("shingle").as("domain"), col("lang"),
          explode(array_distinct(expr(
            "transform(sequence(0, size(w)-3), i -> concat_ws(' ', slice(w, i+1, 3)))"
          ))).as("item"))
      val items = toks.unionAll(shing)
        .select(concat_ws("|", col("domain"), col("lang")), col("item"))
        .as[(String, String)].collect()
      val mem = MemoryStream[(String, String)](spark)
      val q = TextStreams.streamingHllBy(spark, mem.toDS())
        .toDF("grp", "bucket", "r")
        .writeStream.format("memory").queryName("hll_by")
        .outputMode(OutputMode.Update).start()
      try {
        val (a, b) = items.splitAt(items.length / 2)
        mem.addData(a.toSeq); q.processAllAvailable()
        mem.addData(b.toSeq); q.processAllAvailable()
        val regs = spark.table("hll_by").as[(String, Long, Int)].collect()
        val byGroup = regs.groupBy(_._1)
        byGroup.foreach { case (g, rs) =>
          assert(rs.map(_._2).distinct.length <= 256,
            s"group $g must hold at most 256 registers")
        }
        val est = byGroup.view.mapValues(rs =>
          TextStreams.hllEstimate(rs.map(t => (t._2, t._3)))).toMap
        val batch = SparkEntry.queries("q134_hll_distinct")(spark, sfDir)
          .select(concat_ws("|", col("domain"), col("lang")), col("n_hll"))
          .as[(String, Long)].collect().toMap
        assert(est.keySet === batch.keySet,
          "stream must see every (domain, lang) group q134 reports")
        batch.foreach { case (g, n) =>
          assert(est(g) === n, s"group $g: streaming estimate ${est(g)} " +
            s"must equal batch q134 n_hll $n")
        }
        // state telemetry: total rows bounded by 256 x groups
        val stateRows = q.recentProgress.toSeq
          .filter(_.stateOperators.nonEmpty)
          .map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)
        assert(stateRows <= 256L * batch.size,
          s"state rows $stateRows must stay within 256 x ${batch.size} groups")
      } finally q.stop()
    }
  }

  test("JVM hash60 equals Spark's conv(substr(md5(s),1,15),16,10) bit for " +
      "bit over 500+ strings, empty and multi-byte UTF-8 included") {
    import spark.implicits._
    val strings = (0 until 500).map(i => s"t$i#${i % 4}") ++
      Seq("", "the#0", "é", "中", "\uD83D\uDE00", "café#1", "中文#2",
        "\uD83D\uDE42emoji#3", "naïve résumé 漢字 \uD83D\uDC4D")
    val got = strings.toDF("s").select(col("s"), md5(col("s").cast("binary")),
        conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
          .cast("long"))
      .as[(String, String, Long)].collect()
    assert(got.length === strings.length)
    got.foreach { case (str, _, sparkH) =>
      assert(TextStreams.hash60(str) === sparkH, s"hash60 of '$str'")
      assert(sparkH >= 0L && sparkH < (1L << 60), s"'$str' -> $sparkH")
    }
    assert(got.exists { case (_, hex, _) => Integer.parseInt(hex.take(2), 16) >= 0x80 },
      "the set must cover an MD5 byte 0 >= 0x80 (the sign-extension case)")
    // the two spellings of each sketch rule over the same strings: the
    // streaming Scala count-min cells and HLL (bucket, rank) equal the
    // batch owners' Column expansions element for element
    val w = Text.CountMinWidth
    val cells = Text.CountMin.cells(strings.toDF("term").withColumn("cnt", lit(1L)))
      .select(col("term"), col("j"), col("bkt")).as[(String, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq.map { case (_, j, b) => j * w + b })
      .toMap
    val regs = Text.Hll.registers(
        strings.toDF("item").withColumn("h", Text.hash60(col("item"))), "item")
      .as[(String, Long, Int)].collect()
      .map { case (item, bucket, r) => item -> (bucket, r) }.toMap
    assert(cells.size === strings.size && regs.size === strings.size)
    strings.foreach { str =>
      assert(TextStreams.countMinCells(str) === cells(str), s"count-min cells of '$str'")
      assert(TextStreams.hllRegister(str) === regs(str), s"HLL register of '$str'")
    }
  }

  test("streaming count-min cell sums accumulate across micro-batches to the batch sketch") {
    withRocksDb {
    import spark.implicits._
    val mem = MemoryStream[String](spark)
    val q = TextStreams.streamingCountMin(spark, mem.toDS())
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Update).start()
    try {
      val batch1 = Seq("the", "a", "of", "the", "zebra")
      val batch2 = Seq("the", "quark", "a", "a")
      mem.addData(batch1)
      q.processAllAvailable()
      mem.addData(batch2)
      q.processAllAvailable()
      // last (= max, sums are monotone) update per cell
      val cells = spark.table("cms_stream").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val expected = (batch1 ++ batch2).flatMap { t =>
        (0 until 4).map(j => j.toLong * 16 + TextStreams.hash60(s"$t#$j") % 16)
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(cells === expected)
    } finally q.stop()
    }
  }

  test("keyed streaming count-min maintains one independent sketch per " +
      "group, each equal to the batch sketch over that group's terms") {
    withRocksDb {
      import spark.implicits._
      val mem = MemoryStream[(String, String)](spark)
      val q = TextStreams.streamingCountMinBy(spark, mem.toDS())
        .toDF("grp", "cell", "csum")
        .writeStream.format("memory").queryName("cms_by")
        .outputMode(OutputMode.Update).start()
      try {
        val b1 = Seq(("en", "the"), ("en", "a"), ("de", "der"),
          ("de", "the"), ("en", "the"))
        val b2 = Seq(("de", "der"), ("en", "of"), ("de", "der"))
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
        val cells = spark.table("cms_by").as[(String, Long, Long)]
          .collect().groupBy(t => (t._1, t._2))
          .view.mapValues(_.map(_._3).max).toMap
        val expected = (b1 ++ b2).flatMap { case (g, t) =>
          (0 until 4).map(j =>
            (g, j.toLong * 16 + TextStreams.hash60(s"$t#$j") % 16))
        }.groupBy(identity).view.mapValues(_.size.toLong).toMap
        assert(cells === expected,
          "each group's cells must count only that group's terms")
        // 'the' fed to both groups must count independently per group
        val theCell = 0L * 16 + TextStreams.hash60("the#0") % 16
        assert(cells(("en", theCell)) >= 2 && cells(("de", theCell)) >= 1)
      } finally q.stop()
    }
  }

  test("streaming count-min cell sums survive a checkpoint restart " +
      "under changelog checkpointing") {
    withChangelogRocksDb {
      import spark.implicits._
      val out = tempDir("cms_restart_out").toPath.toString
      val ckpt = tempDir("cms_restart_ckpt").toPath.toString
      val mem = MemoryStream[String](spark)
      def start() = TextStreams.streamingCountMin(spark, mem.toDS())
        .toDF("cell", "csum").writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      val batch1 = Seq("the", "a", "of", "the", "zebra")
      val batch2 = Seq("the", "quark", "a", "a")
      val q1 = start()
      try { mem.addData(batch1); q1.processAllAvailable() }
      finally q1.stop() // cell sums now live only in the checkpoint
      val q2 = start()
      try {
        mem.addData(batch2)
        q2.processAllAvailable()
        // monotone sums: the max emission per cell across BOTH runs is
        // the final cell value. A lost store would restart the touched
        // cells from zero, so e.g. "the"'s cells would max at
        // max(2, 1) = 2 instead of the true 3 — the equality below
        // distinguishes restored state from silent reset.
        val cells = spark.read.parquet(out).as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        val expected = (batch1 ++ batch2).flatMap { t =>
          (0 until 4).map(j =>
            j.toLong * 16 + TextStreams.hash60(s"$t#$j") % 16)
        }.groupBy(identity).view.mapValues(_.size.toLong).toMap
        assert(cells === expected,
          "post-restart cell sums must continue from the restored state")
      } finally q2.stop()
    }
  }

  test("streaming HLL registers survive a checkpoint restart: re-fed " +
      "duplicates emit NOTHING from the restored store") {
    withChangelogRocksDb {
      import spark.implicits._
      val out = tempDir("hll_restart_out").toPath.toString
      val ckpt = tempDir("hll_restart_ckpt").toPath.toString
      val mem = MemoryStream[String](spark)
      def start() = TextStreams.streamingHll(spark, mem.toDS())
        .toDF("bucket", "r").writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      val items = (0 until 200).map(i => s"item$i")
      val q1 = start()
      try { mem.addData(items); q1.processAllAvailable() }
      finally q1.stop() // register maxima now live only in the checkpoint
      val n1 = spark.read.parquet(out).count()
      assert(n1 > 0)
      val q2 = start()
      try {
        // the restore proof: the monotone max-rank rule emits only on
        // INCREASE, so re-feeding the identical items through a
        // restored store is silent. A lost store would re-emit every
        // register (ranks "increase" from the reset zero).
        mem.addData(items)
        q2.processAllAvailable()
        val n2 = spark.read.parquet(out).count()
        assert(n2 === n1,
          s"duplicates must not emit from a restored store ($n1 -> $n2)")
        // and the union of emissions still reads as the batch estimate
        val regs = spark.read.parquet(out).as[(Long, Int)].collect()
        val est = TextStreams.hllEstimate(regs)
        val expected = TextStreams.hllEstimate(items
          .map { it =>
            val h = TextStreams.hash60(it)
            val v = h >>> 8
            val rho =
              if (v == 0L) 24
              else math.min(java.lang.Long.numberOfTrailingZeros(v) + 1, 24)
            (h % 256, rho)
          })
        assert(est === expected)
      } finally q2.stop()
    }
  }
}

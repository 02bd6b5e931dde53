package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.streaming.{EventStreams, TextStreams, VectorStreams}

/** EXECUTED-plan audit for the streaming operators — the streaming twin
  * of GlobalPlanAuditSpec. Each operator runs one real micro-batch and
  * the audit reads the IncrementalExecution's executed plan, so it sees
  * exactly what the engine ran (state-store placement, join strategies,
  * exchanges), not the unresolved logical shape:
  *
  *  - `CartesianProduct` is banned in every streaming plan;
  *  - the stream-static gates must resolve their anti/left joins to
  *    BROADCAST joins of the landed/static side — a SortMergeJoin here
  *    would shuffle EVERY arriving micro-batch against a re-sorted
  *    static side, the per-trigger cost that kills a standing pipeline;
  *  - the write paths (cellAssign) must plan ZERO exchanges — a shuffle
  *    in a per-row assignment stage means the plan regressed to a
  *    stateful/repartitioned shape;
  *  - each stateful operator must carry EXACTLY the state operators its
  *    contract declares (one transformWithState, or one state-store
  *    save/restore pair) — an extra state operator is an accidental
  *    second shuffle + store.
  */
class StreamingPlanAuditSpec extends SparkSpec {

  /** Drain the stream, capture the LAST micro-batch's executed plan. */
  private def executedPlan(q: StreamingQuery): String =
    try {
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString
    } finally q.stop()

  /** Count in the FINAL plan only: an AdaptiveSparkPlan toString prints
    * the initial plan below the final one, which would double counts.
    */
  private def countOf(plan: String, token: String): Int =
    plan.split("== Initial Plan ==")(0).sliding(token.length).count(_ == token)

  private val filler = (0 until 20).map(i => s"tok$i").mkString(" ")

  private def docCorpus = {
    import spark.implicits._
    Seq((1L, s"alpha $filler"), (2L, s"beta $filler"))
      .toDF("doc_id", "text")
  }

  private val ts0 = java.sql.Timestamp.from(java.time.Instant.parse("2025-08-03T13:00:00Z"))

  test("near-dup gate: broadcast-only joins, stateless, no cartesian") {
    import spark.implicits._
    val root = tempDir("audit_gate").toPath.toString + "/idx"
    graft.streaming.IndexCompaction.init(spark, root, docCorpus)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    mem.addData(Seq((9L, s"gamma $filler", ts0)))
    val plan = executedPlan(
      graft.streaming.IndexCompaction.gate(spark, root,
        mem.toDF().toDF("doc_id", "text", "eventTime"))
        .writeStream.format("memory").queryName("audit_gate")
        .outputMode(OutputMode.Append).start())
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"static side must broadcast, not sort-merge per trigger:\n$plan")
    // 1 exact-hash anti + 4 band anti-joins, all broadcast
    assert(countOf(plan, "BroadcastHashJoin") === 5, plan)
    assert(!plan.contains("StateStore") && !plan.contains("TransformWithState"),
      s"the gate is stateless by contract:\n$plan")
  }

  test("compacted-index gate: broadcast-only joins, stateless, across delta epochs") {
    import spark.implicits._
    val root = tempDir("audit_gate_idx").toPath.toString + "/idx"
    graft.streaming.IndexCompaction.init(spark, root, docCorpus)
    // a delta epoch: the gate must stay broadcast-only over the UNION of
    // epoch segments, not just a single-table static side
    graft.streaming.IndexCompaction.compact(spark, root,
      Seq((3L, s"delta $filler x y z")).toDF("doc_id", "text"))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    mem.addData(Seq((9L, s"gamma $filler", ts0)))
    val plan = executedPlan(
      graft.streaming.IndexCompaction.gate(spark, root,
        mem.toDF().toDF("doc_id", "text", "eventTime"))
        .writeStream.format("memory").queryName("audit_gate_compacted")
        .outputMode(OutputMode.Append).start())
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"epoch-union static side must broadcast, not sort-merge per trigger:\n$plan")
    assert(countOf(plan, "BroadcastHashJoin") === 5, plan)
    assert(!plan.contains("StateStore") && !plan.contains("TransformWithState"),
      s"the compacted gate is stateless by contract:\n$plan")
  }

  test("IVF cell assignment: zero exchanges, zero state") {
    import spark.implicits._
    val mem = MemoryStream[(Long, Seq[Float])](spark)
    mem.addData(Seq((1L, Seq.fill(64)(0.1f))))
    val plan = executedPlan(
      VectorStreams.cellAssign(spark,
        mem.toDF().toDF("vec_id", "embedding"), sfDir)
        .writeStream.format("memory").queryName("audit_assign")
        .outputMode(OutputMode.Append).start())
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Exchange"),
      s"per-row write path must not shuffle:\n$plan")
    assert(!plan.contains("StateStore") && !plan.contains("TransformWithState"),
      plan)
  }

  test("span audit: broadcast span index + exactly one state-store agg") {
    import spark.implicits._
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    mem.addData(Seq((9L, s"gamma $filler", ts0)))
    val plan = executedPlan(
      TextStreams.spanContaminationAudit(
        mem.toDF().toDF("doc_id", "text", "eventTime"), docCorpus)
        .writeStream.format("memory").queryName("audit_span")
        .outputMode(OutputMode.Update).start())
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"landed span index must broadcast:\n$plan")
    assert(countOf(plan, "StateStoreSave") === 1,
      s"exactly one streaming aggregation:\n$plan")
  }

  test("intra-stream LSH collisions: exactly one transformWithState") {
    withRocksDb {
      import spark.implicits._
      val mem = MemoryStream[(Long, String)](spark)
      mem.addData(Seq((1L, s"alpha $filler")))
      val plan = executedPlan(
        TextStreams.streamingLshCollisions(spark,
          mem.toDF().toDF("doc_id", "text"))
          .toDF().writeStream.format("memory").queryName("audit_lsh")
          .outputMode(OutputMode.Append).start())
      assert(!plan.contains("CartesianProduct"), plan)
      assert(countOf(plan, "TransformWithState ") === 1, plan)
      assert(!plan.contains("StateStoreSave"),
        s"no accidental second stateful aggregation:\n$plan")
    }
  }

  test("near-dup ADMIT verdicts: exactly one transformWithState, short " +
      "docs ride the same operator") {
    withRocksDb {
      import spark.implicits._
      val mem = MemoryStream[(Long, String)](spark)
      // one banded doc and one short doc: BOTH shapes must flow through
      // the single stateful operator (no union of a second branch, no
      // second state store for the bandless path)
      mem.addData(Seq((1L, s"alpha $filler"), (2L, "too short")))
      val plan = executedPlan(
        TextStreams.streamingNearDupAdmit(spark,
          mem.toDF().toDF("doc_id", "text"))
          .toDF().writeStream.format("memory").queryName("audit_admit")
          .outputMode(OutputMode.Append).start())
      assert(!plan.contains("CartesianProduct"), plan)
      assert(countOf(plan, "TransformWithState ") === 1, plan)
      assert(!plan.contains("StateStoreSave"),
        s"no accidental second stateful aggregation:\n$plan")
      assert(!plan.contains("Union"),
        s"short docs must ride the same operator, not a second branch:\n$plan")
    }
  }

  test("stream-stream range join (q149 twin): one symmetric hash join " +
      "on the bucket equi-key, no cross join") {
    import spark.implicits._
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
    mem.addData(Seq(
      (1L, "error", ts0),
      (2L, "click", java.sql.Timestamp.from(
        java.time.Instant.parse("2025-08-03T13:00:30Z")))))
    val plan = executedPlan(
      EventStreams.nearbyPairs(
        mem.toDF().toDF("event_id", "event_type", "ts"))
        .writeStream.format("memory").queryName("audit_nearby")
        .outputMode(OutputMode.Append).start())
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"the time-bucket fanout must give the join an equi-key:\n$plan")
    // exactly ONE stateful stream-stream join; the ±60 s range predicate
    // rides it as a post-join condition, never a second state operator
    assert(countOf(plan, "StreamingSymmetricHashJoin") === 1, plan)
    assert(!plan.contains("TransformWithState") &&
      !plan.contains("StateStoreSave"),
      s"no accidental extra state operator:\n$plan")
  }

  test("composed ingest chain (gate → admit): broadcast-only anti-joins " +
      "feeding exactly ONE transformWithState") {
    withRocksDb {
      import spark.implicits._
      val root = tempDir("audit_ingest_idx").getAbsolutePath + "/idx"
      streaming.IndexCompaction.init(spark, root, docCorpus)
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)](spark)
      mem.addData(Seq((9L, s"gamma $filler", ts0), (10L, "too short", ts0)))
      val gated = streaming.IndexCompaction.gate(spark, root,
        mem.toDF().toDF("doc_id", "text", "eventTime"), keepText = true)
      val plan = executedPlan(
        TextStreams.streamingNearDupAdmit(spark,
          gated.select(col("doc_id"), col("text")))
          .toDF().writeStream.format("memory").queryName("audit_ingest")
          .outputMode(OutputMode.Append).start())
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("SortMergeJoin"),
        s"the landed index sides must broadcast per micro-batch:\n$plan")
      assert(countOf(plan, "TransformWithState ") === 1,
        s"the whole chain carries ONE stateful operator:\n$plan")
      assert(!plan.contains("StateStoreSave"),
        s"no accidental second stateful aggregation:\n$plan")
    }
  }

  test("keyed streaming HLL: exactly one transformWithState, no joins") {
    withRocksDb {
      import spark.implicits._
      val mem = MemoryStream[(String, String)](spark)
      mem.addData(Seq(("token|en", "alpha"), ("shingle|en", "a b c")))
      val plan = executedPlan(
        TextStreams.streamingHllBy(spark, mem.toDS())
          .toDF().writeStream.format("memory").queryName("audit_hll_by")
          .outputMode(OutputMode.Update).start())
      assert(!plan.contains("CartesianProduct"), plan)
      assert(countOf(plan, "TransformWithState ") === 1, plan)
      assert(!plan.contains("Join"),
        s"a register sketch is a map + state lookup, no joins:\n$plan")
    }
  }

  test("standing retrieval: one transformWithState over a broadcast-scored stream") {
    withRocksDb {
      import spark.implicits._
      val mem = MemoryStream[(Long, String)](spark)
      mem.addData(Seq((100L, filler)))
      val plan = executedPlan(
        TextStreams.standingRetrieval(spark,
          mem.toDF().toDF("doc_id", "text"), sfDir)
          .toDF().writeStream.format("memory").queryName("audit_standing")
          .outputMode(OutputMode.Append).start())
      assert(!plan.contains("CartesianProduct"), plan)
      assert(countOf(plan, "TransformWithState ") === 1, plan)
      assert(!plan.contains("SortMergeJoin"),
        s"frozen-model scoring is a literal/broadcast plan:\n$plan")
    }
  }

  test("live dataset card: map-side partial aggregation before the state store") {
    import spark.implicits._
    val mem = MemoryStream[(Long, String, String, String, Long)](spark)
    mem.addData(Seq((1L, filler, "en", "src0", 100L)))
    val plan = executedPlan(
      TextStreams.liveDatasetCard(
        mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"))
        .writeStream.format("memory").queryName("audit_card")
        .outputMode(OutputMode.Update).start())
    assert(!plan.contains("CartesianProduct"), plan)
    assert(countOf(plan, "StateStoreSave") === 1, plan)
    // partial + final HashAggregate: the per-partition combine runs
    // BEFORE the single-partition state exchange, so card state sees
    // one pre-aggregated row per partition, not raw docs
    assert(countOf(plan, "HashAggregate") >= 2,
      s"missing map-side partial aggregation:\n$plan")
  }

  test("paced replay source: event windows plan state-store agg, no cartesian") {
    val plan = executedPlan(
      EventStreams.tumblingSignupsOn(
        spark.readStream.format("user-activity-replay")
          .option("path", fixturePath).option("eventsPerBatch", 1000).load()
          .withColumn("ts", to_timestamp(col("timestamp")))
          .withColumn("event_type", col("activity")),
        watermark = "1 hour")
        .writeStream.format("memory").queryName("audit_replay")
        .outputMode(OutputMode.Complete).start())
    assert(!plan.contains("CartesianProduct"), plan)
    assert(countOf(plan, "StateStoreSave") === 1, plan)
  }
}

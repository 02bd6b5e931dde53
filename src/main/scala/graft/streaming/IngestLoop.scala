package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import java.util.concurrent.atomic.AtomicLong

/** The COMPOSED ingest pipeline run as repeating compaction intervals —
  * the production loop the individual stages measure in isolation:
  *
  *   arrivals ─▶ near-dup GATE (vs the landed epoch index)
  *            ─▶ streamingNearDupAdmit (intra-cycle ownership)
  *            ─▶ admittedOf inside foreachBatch
  *            ─▶ EXACTLY-ONCE landing (one batch_id partition per
  *               micro-batch, idempotent dynamic overwrite)
  *            ─▶ MINOR compaction folding exactly the landed batch
  *            ─▶ next cycle's gate reads the grown index.
  *
  * One streaming query per cycle: the stream-static anti-joins are
  * stateless, so the chain carries ONE stateful operator (the band
  * ownership store), and each cycle's fresh query starts with empty
  * state — intra-cycle history lives in the store, cross-cycle history
  * lives in the index. That split fixes the loop's dedup policy:
  *
  *  - within a cycle, drop iff an earlier gate-surviving arrival owns
  *    one of the doc's band buckets (the q123 arrival rule);
  *  - across cycles, drop iff the doc collides with a doc the dataset
  *    actually KEPT (the landed index owns only landed signatures).
  *
  * The two agree with the batch q123 keep set over the whole stream
  * unless a NEVER-LANDED doc bridges cycles — doc A dropped in cycle
  * k, doc E arriving in cycle k+1 colliding only with A's other
  * buckets. Strict q123 drops E; the loop ADMITS it, deliberately:
  * A's content never entered the dataset, so E is not a duplicate of
  * anything kept — dropping it would lose coverage. `IngestLoopSpec`
  * pins exact q123 equality on the bridge-free corpus SFs and pins the
  * admit-the-bridge policy where bridges exist (sf0.1).
  *
  * 100 TB shape: every per-arrival step is an equi-join against a
  * broadcast index or a state-store lookup keyed by band signature —
  * no all-pairs anywhere; the landing join attaches payloads by doc_id
  * against the cycle's lake segment (broadcasting only the admitted-id
  * set, never payloads); compaction is O(landed batch).
  */
object IngestLoop {

  final case class CycleStats(
      cycle: Int,
      arrivals: Long,
      gateAdmitted: Long, // distinct docs that survived the gate
      admitted: Long,     // docs admittedOf kept (sum over batches)
      landed: Long,       // rows read back from the cycle's landed dir
      folded: Long,       // rows handed to the MINOR compaction
      epochsAfter: Int,
      gateBuildS: Double,
      drainWallS: Double,
      compactS: Double,
      batches: Long = 0L) // foreachBatch invocations this incarnation

  /** Start the cycle's streaming query: gate → admit → admittedOf →
    * exactly-once landing. With a `checkpoint`, the query is
    * RESTARTABLE: a run killed mid-cycle resumes from the committed
    * offsets, and the in-flight batch replays under its original
    * batch_id — whose partition the idempotent dynamic-overwrite
    * landing simply rewrites (no duplicates, pinned in
    * IngestLoopSpec). The returned counters accumulate only the
    * CURRENT incarnation's batches; after a restart the landed
    * parquet is the authoritative count.
    */
  def startCycleQuery(spark: SparkSession, idxRoot: String,
      cycleLand: String, cycleDir: String, schema: StructType,
      checkpoint: Option[String] = None, filesPerTrigger: Int = 1)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         AtomicLong, AtomicLong, AtomicLong) = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(cycleDir)
      .select(col("doc_id"), col("text"),
        // synthesize an eventTime when the arrival schema carries none
        // (the gate projects it through; the loop itself doesn't use it)
        (if (schema.fieldNames.contains("eventTime")) col("eventTime")
         else timestamp_seconds(col("doc_id"))).as("eventTime"))
    val gated = IndexCompaction.gate(spark, idxRoot, stream, keepText = true)
    val verdicts = TextStreams.streamingNearDupAdmit(spark,
      gated.select(col("doc_id"), col("text")),
      banding = IndexCompaction.indexBanding(idxRoot))
    // the cycle's lake segment, for attaching payloads to admitted ids
    val cycleBatch = spark.read.parquet(cycleDir)
      .select(col("doc_id"), col("text"))
    val gateSurvivors = new AtomicLong(0L)
    val admittedN = new AtomicLong(0L)
    // counted IN the sink, not from q.recentProgress: that buffer is a
    // bounded ring (and resets across checkpoint resumes), so a drain
    // past its capacity would silently undercount batches and inflate
    // every s/batch figure derived from CycleStats
    val nBatches = new AtomicLong(0L)
    val writer = verdicts.toDF().writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        nBatches.incrementAndGet(): Unit
        val batch = df.localCheckpoint(true) // verdicts used twice
        gateSurvivors.addAndGet(
          batch.select(col("docId")).distinct().count()): Unit
        val admitted = TextStreams.admittedOf(batch).localCheckpoint(true)
        admittedN.addAndGet(admitted.count()): Unit
        val docs = cycleBatch.join(broadcast(admitted), Seq("doc_id"))
        graft.sources.Sinks.backfillPartitions(
          docs.withColumn("batch_id", lit(batchId)), "batch_id", cycleLand)
      }
      .outputMode(OutputMode.Append)
    val q = checkpoint
      .fold(writer)(c => writer.option("checkpointLocation", c)).start()
    (q, gateSurvivors, admittedN, nBatches)
  }

  /** Run ONE compaction interval over the pre-sliced arrival files in
    * `cycleDir`. The landed docs are written to
    * `landRoot/cycle_<cycle>` partitioned by micro-batch id
    * (exactly-once: a replayed batch overwrites its own partition),
    * then folded into the index at `idxRoot` as a new delta epoch.
    * Pass `checkpoint` to make the cycle resumable after a kill —
    * re-invoking with the same checkpoint finishes the cycle.
    *
    * `filesPerTrigger` prices the drain's FIXED cost: each micro-batch
    * pays a near-constant overhead regardless of rows, so a cycle of N
    * files drains in ~N × fixed + data at the default of 1. At sf0.01
    * on 4 vCPUs (perfbench stream-drain, traced, `streaming.
    * LocalCheckpointFiles` on) a cycle drained at ~0.77 s per batch;
    * the checkpoint's share of that is small (per-batch p50: offset WAL
    * 1.5 ms, commit entry 1 ms, source listing 4 ms, query planning
    * 26 ms; state-store commits ~140 ms a batch), where Spark's default
    * checkpoint manager took ~39 ms for each of the three log phases
    * and ~540 ms of state-store commit a batch. The rest is the gate
    * probe, ownership state and landing write in `addBatch`. The flat
    * drain_s across SFs in STREAM_SCALING.md is that
    * floor, not free capacity — at higher SF, raise filesPerTrigger to
    * amortize it. Batching does NOT change the admit decision —
    * PROVIDED file arrival order matches doc_id order: within a
    * micro-batch the ownership processor breaks a signature group's
    * tie by MIN doc_id, while across micro-batches first-arrival wins,
    * so the two agree exactly when the earlier-arriving duplicate also
    * carries the smaller doc_id (pinned in IngestLoopSpec on
    * doc_id-ordered slices — the invariant every corpus slicer here
    * maintains). A lake whose file names arrive out of doc_id order
    * keeps the same ADMIT COUNT per signature (one owner either way)
    * but may keep a different SURVIVOR at fpt > 1; callers violating
    * the ordering should run fpt = 1.
    */
  def runCycle(spark: SparkSession, idxRoot: String, landRoot: String,
      cycle: Int, cycleDir: String, schema: StructType,
      nArrivals: Long, checkpoint: Option[String] = None,
      filesPerTrigger: Int = 1): CycleStats = {
    val cycleLand = s"$landRoot/cycle_$cycle"
    // gate REBUILD from the live epoch listing — the per-interval
    // restart cost a deployment pays after each compaction
    val tG = System.nanoTime()
    val (q, gateSurvivors, admittedN, nBatches) = startCycleQuery(
      spark, idxRoot, cycleLand, cycleDir, schema, checkpoint,
      filesPerTrigger)
    val gateBuildS = (System.nanoTime() - tG) / 1e9
    val tD = System.nanoTime()
    q.processAllAvailable()
    val batches = nBatches.get()
    q.stop()
    val drainWallS = (System.nanoTime() - tD) / 1e9

    // fold EXACTLY the landed batch into the index — the minor
    // compaction whose delta the next cycle's gate owns statically.
    // A cycle can admit ZERO docs (an all-duplicate arrival wave is a
    // dedup service's normal input): the partitioned dynamic-overwrite
    // landing then writes no partition dirs at all, so the landed dir
    // has no parquet part files and an unconditional read would throw
    // "Unable to infer schema" — which in DedupService happens before
    // the _cycle_done marker, turning the wave into a poison cycle
    // every restart replays. Detect the empty landing and fold nothing.
    val landedEmpty = {
      val d = new java.io.File(cycleLand)
      !d.isDirectory || Option(d.listFiles()).getOrElse(Array.empty)
        .forall(f => !f.getName.startsWith("batch_id="))
    }
    val (landed, compactS) =
      if (landedEmpty) (0L, 0.0)
      else {
        val landedDocs = spark.read.parquet(cycleLand)
          .select(col("doc_id"), col("text"))
        val n = landedDocs.count()
        val tC = System.nanoTime()
        IndexCompaction.compact(spark, idxRoot, landedDocs): Unit
        (n, (System.nanoTime() - tC) / 1e9)
      }

    CycleStats(cycle, nArrivals, gateSurvivors.get(), admittedN.get(),
      landed, landed, IndexCompaction.epochs(idxRoot).size,
      gateBuildS, drainWallS, compactS, batches)
  }

  /** The landed cycle dirs that actually contain batch partitions — a
    * zero-admit cycle lands no `batch_id=` dirs at all, and reading
    * such a dir would throw "Unable to infer schema".
    */
  private def landedDirs(landRoot: String): Array[String] =
    Option(new java.io.File(landRoot).listFiles())
      .getOrElse(Array.empty).filter(f =>
        f.isDirectory && f.getName.startsWith("cycle_") &&
          Option(f.listFiles()).getOrElse(Array.empty)
            .exists(_.getName.startsWith("batch_id=")))
      .map(_.getAbsolutePath)

  /** True when [[landedAll]] has something to read — callers that seed
    * running totals at startup branch on this instead of swallowing
    * the empty-index require (a real read failure must propagate, or
    * it silently under-counts and suppresses the reband-drift signal).
    */
  def hasLanded(landRoot: String): Boolean = landedDirs(landRoot).nonEmpty

  /** All landed docs across the loop's cycles so far (doc_id, text). */
  def landedAll(spark: SparkSession, landRoot: String): DataFrame = {
    val dirs = landedDirs(landRoot)
    require(dirs.nonEmpty, s"no landed cycles under $landRoot")
    // one read per cycle dir: each is independently partitioned by
    // batch_id, so a multi-path read would see conflicting layouts
    dirs.toIndexedSeq
      .map(d => spark.read.parquet(d).select(col("doc_id"), col("text")))
      .reduce(_ unionByName _)
  }
}

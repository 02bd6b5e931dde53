package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** What one op execution produced.
  *
  * @param rows       output rows (catalog) or input rows drained (stream)
  * @param fingerprint the output's [[Fingerprint]] rendering, compared
  *                   against the recorded value
  * @param batchMs    micro-batch latencies of a stream op; empty for a query
  * @param buildEndMs wall clock when the registry constructor returned
  * @param extra      per-layer values the op reports itself (ingest.*)
  * @param check      invariant check against the workload's batch
  *                   reference, run after the timed section
  */
final case class OpResult(
    rows: Long,
    fingerprint: String,
    batchMs: Seq[Double] = Nil,
    buildEndMs: Long = 0L,
    extra: Map[String, Double] = Map.empty,
    check: Option[Reference => Seq[String]] = None)

/** The timed interval of one op execution: wall clock (ms) and process
  * CPU around the engine call and the consumption of its output. An op
  * wraps exactly that in `apply`; its set-up and its checks stay outside.
  */
final class Timer {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var start, end = 0L
  var cpuS = 0.0

  def apply[T](body: => T): T = {
    start = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    try body finally {
      end = System.currentTimeMillis()
      cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    }
  }
}

/** Batch results the stream invariants are checked against. */
final case class Reference(q90: Map[String, Long], keep: Set[Long])

/** One benchmark workload: a fixed list of ops over fixed inputs. */
trait Workload {
  def name: String
  /** Op names in canonical order; the seed rotates this list. */
  def ops: Seq[String]
  /** Untimed passes between set-up and the timed section: short ops need
    * several before the JIT stops speeding them up.
    */
  def warmups: Int = 1
  /** Session settings the workload's ops need. */
  def configure(spark: SparkSession): Unit = ()
  /** Input slicing for one set-up: lay `data`'s inputs out under `into`. */
  def prepare(spark: SparkSession, data: String, into: String): Unit
  /** Set-up work for `op` short of running it: construct it through the
    * engine's public entry (eager driver work, Materialize builds) and,
    * for a query, plan it.
    */
  def prime(spark: SparkSession, op: String, in: String): Unit
  /** Run `op` over the inputs under `in`, using `scratch` for its state;
    * `timed` wraps the engine call and the consumption of its output.
    */
  def run(spark: SparkSession, op: String, in: String, scratch: String, timed: Timer): OpResult
  /** The batch reference for the ops' checks, computed over `in`. */
  def reference(spark: SparkSession, in: String): Reference = Reference(Map.empty, Set.empty)
}

object Workloads {
  val all: Seq[Workload] = Seq(
    // Per-query fixed cost: planning, job and task scheduling dominate at
    // sf0.01. With the registry sorted by warm full-output latency at
    // sf0.01, the query at the middle of each tenth (NOTES.md, Workloads).
    new Catalog("catalog-floor", "sf0.01", Seq(
      "q40_knn_cosine", "q39_quality_filter", "q65_repetition", "q15_above_brand_avg",
      "q143_order_priority_check", "q79_split_manifest", "q10_rollup",
      "q135_profit_by_nation_year", "q76_token_budget", "q71_boilerplate")),
    StreamDrain)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n'; known: ${all.map(_.name).mkString(", ")}"))

  private[perfbench] def copyDir(from: java.io.File, to: java.io.File): Unit =
    FileUtils.copyDirectory(from, to, true) // file dates: a replay reads files in mtime order
}

/** Registry queries, each built through `SparkEntry.queries` and consumed
  * in full by its [[Fingerprint]].
  */
final class Catalog(val name: String, sf: String, val ops: Seq[String]) extends Workload {
  // a query takes well under a second; after one pass each later pass
  // still ran 5-15% faster than the one before
  override val warmups = 3

  def prepare(spark: SparkSession, data: String, into: String): Unit =
    Workloads.copyDir(new java.io.File(data, sf), new java.io.File(into))

  def prime(spark: SparkSession, op: String, in: String): Unit =
    graft.SparkEntry.queries(op)(spark, in).queryExecution.executedPlan: Unit

  def run(spark: SparkSession, op: String, in: String, scratch: String,
      timed: Timer): OpResult = {
    var built = 0L
    val (width, rows) = timed {
      val df = graft.SparkEntry.queries(op)(spark, in)
      built = System.currentTimeMillis()
      Fingerprint.consume(df)
    }
    // pipelines localCheckpoint intermediates; drop them so one query's
    // blocks never pressure the next
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val fp = Fingerprint.of(width, rows)
    OpResult(fp.rows, fp.render, buildEndMs = built)
  }
}

/** Streaming pipelines drained as fast as they run over pre-sliced
  * replays, one file per micro-batch: event-time inactivity sessions
  * (timers and RocksDB state), the live count-min sketch (the per-row MD5
  * hash), and an ingest-loop cycle (MinHash gate against the index,
  * admit state, exactly-once landing, index compaction).
  */
object StreamDrain extends Workload {
  val name = "stream-drain"
  private val Slices = 2
  private val Sf = "sf0.01"

  val ops: Seq[String] = Seq("sessions", "countmin", "ingest")

  override def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }

  private def docs(spark: SparkSession, in: String): DataFrame =
    spark.read.parquet(s"$in/lake/documents.parquet").select(col("doc_id"), col("text"))

  /** Slice the inputs once per process; every set-up copies the slices. */
  def prepare(spark: SparkSession, data: String, into: String): Unit = {
    val sliced = new java.io.File(new java.io.File(into).getParentFile, "sliced")
    if (!sliced.isDirectory) {
      val tmp = s"$sliced.tmp"
      Workloads.copyDir(new java.io.File(data, Sf), new java.io.File(tmp, "lake"))
      graft.StreamBench.sliceOrdered(graft.sources.Tables.events(spark, s"$tmp/lake"),
        "ts", Slices, s"$tmp/events")
      val all = docs(spark, tmp)
      graft.StreamBench.sliceOrdered(all, "doc_id", Slices, s"$tmp/docs")
      // one ingest cycle of one micro-batch: each batch of the ingest
      // loop runs about two seconds of fixed-cost jobs
      graft.StreamBench.sliceOrdered(all, "doc_id", 1, s"$tmp/arrivals")
      FileUtils.moveDirectory(new java.io.File(tmp), sliced)
    }
    Workloads.copyDir(sliced, new java.io.File(into))
  }

  override def reference(spark: SparkSession, in: String): Reference = {
    import spark.implicits._
    val lake = s"$in/lake"
    val q90 = graft.SparkEntry.queries("q90_countmin")(spark, lake)
      .select(col("term"), col("est")).as[(String, Long)].collect().toMap
    val dropped = graft.operators.Text.arrivalDedup(spark, lake)
      .select(col("doc_id")).as[Long].collect().toSet
    Reference(q90, docs(spark, in).select(col("doc_id")).as[Long].collect().toSet -- dropped)
  }

  private def stream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1").parquet(path)

  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Build the stage, drain it into a memory sink (the timed part), then
    * fingerprint what it emitted; `check` receives the emitted rows. The
    * sink is dropped on return.
    */
  private def stage(spark: SparkSession, op: String, in: String, timed: Timer)(
      check: DataFrame => Option[Reference => Seq[String]] = _ => None): OpResult = {
    val sink = s"pb_${op}_${sinkSeq.incrementAndGet()}"
    var q: StreamingQuery = null
    try timed {
      val (df, mode) = stageFrame(spark, op, in)
      q = df.writeStream.format("memory").queryName(sink).outputMode(mode).start()
      q.processAllAvailable()
    } finally if (q != null) q.stop()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq
    try {
      val out = spark.table(sink)
      OpResult(progress.map(_.numInputRows).sum, Fingerprint.of(out).render,
        progress.flatMap(p => Option(p.durationMs.get("triggerExecution"))).map(_.toDouble),
        check = check(out))
    } finally spark.catalog.dropTempView(sink)
  }

  /** The streaming DataFrame and output mode of a drained stage. */
  private def stageFrame(spark: SparkSession, op: String, in: String): (DataFrame, OutputMode) = {
    import spark.implicits._
    op match {
      case "sessions" =>
        val ds = stream(spark, s"$in/events").select(col("user_id"), col("ts"))
          .withWatermark("ts", "10 seconds")
          .select(col("user_id"), unix_millis(col("ts")))
          .as[(String, Long)]
        (graft.streaming.SessionTimers.inactivitySessions(spark, ds,
          gapMs = 30 * 60 * 1000L).toDF(), OutputMode.Append)
      case "countmin" =>
        val terms = stream(spark, s"$in/docs")
          .select(explode(split(col("text"), " "))).as[String]
        (graft.streaming.TextStreams.streamingCountMin(spark, terms).toDF("cell", "csum"),
          OutputMode.Update)
      case other => throw new IllegalArgumentException(s"unknown stream op $other")
    }
  }

  def prime(spark: SparkSession, op: String, in: String): Unit =
    if (op != "ingest") stageFrame(spark, op, in): Unit

  def run(spark: SparkSession, op: String, in: String, scratch: String,
      timed: Timer): OpResult = {
    import spark.implicits._
    op match {
      case "ingest" => ingest(spark, in, scratch, timed)
      case "countmin" =>
        stage(spark, op, in, timed) { out =>
          // cell sums only grow, so a cell's largest emission is its value
          val cells = out.as[(Long, Long)].collect().groupMapReduce(_._1)(_._2)(math.max)
          Some(ref => {
            val w = graft.operators.Text.CountMinWidth
            val matches = ref.q90.count { case (term, est) =>
              (0 until 4).map(j => cells.getOrElse(j.toLong * w +
                graft.streaming.TextStreams.hash60(s"$term#$j") % w, 0L)).min == est
            }
            if (matches == ref.q90.size) Nil
            else Seq(s"countmin: terms_match $matches != vocab ${ref.q90.size}")
          })
        }
      case _ => stage(spark, op, in, timed)()
    }
  }

  /** One `IngestLoop.runCycle` from an empty index; only the cycle is timed. */
  private def ingest(spark: SparkSession, in: String, scratch: String,
      timed: Timer): OpResult = {
    import spark.implicits._
    import graft.streaming.{IndexCompaction, IngestLoop}
    val idx = s"$scratch/index"; val land = s"$scratch/landed"
    IndexCompaction.init(spark, idx, docs(spark, in).filter(lit(false)),
      banding = graft.operators.Text.bandingOf(spark, s"$in/lake"))
    val arrivals = spark.read.parquet(s"$in/arrivals")
    val nArrivals = arrivals.count()
    val st = timed {
      IngestLoop.runCycle(spark, idx, land, 0, s"$in/arrivals", arrivals.schema, nArrivals)
    }
    val landed = IngestLoop.landedAll(spark, land).select(col("doc_id")).as[Long].collect().toSet
    OpResult(st.arrivals, s"${st.arrivals}/${st.gateAdmitted}/${st.admitted}/${st.landed}",
      // runCycle reports the drain's wall and batch count, not each batch
      batchMs = if (st.batches > 0) Seq(st.drainWallS * 1e3 / st.batches) else Nil,
      extra = Map(
        "ingest.gate_build_s" -> st.gateBuildS,
        "ingest.drain_s" -> st.drainWallS,
        "ingest.compact_s" -> st.compactS,
        "ingest.arrivals" -> st.arrivals.toDouble,
        "ingest.admitted" -> st.admitted.toDouble,
        "ingest.landed_mb" -> FileUtils.sizeOfDirectory(new java.io.File(land)) / 1e6),
      check = Some(ref => {
        val missed = (ref.keep -- landed).size
        (if (st.admitted == st.landed && st.landed == st.folded) Nil
         else Seq(s"ingest: admitted ${st.admitted}, landed ${st.landed}, folded ${st.folded}")) ++
          (if (missed == 0) Nil else Seq(s"ingest: missed_q123 $missed"))
      }))
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Spark keeps compiled generated classes in a JVM-wide LRU sized by
  * `spark.sql.codegen.cache.maxEntries`. When one pass over a working set
  * cycles more distinct classes than the cache holds, every lookup misses
  * and every pass re-runs Janino and re-warms the JIT for all of them. A
  * repeated pass over a fixed query list must therefore compile nothing.
  *
  * The cache key also holds the compiling thread's class loader. With
  * per-session artifact isolation on, the executor gives every session
  * its own loader and every streaming query runs on a cloned session, so
  * a restarted stream stage would miss on byte-identical code. A second
  * start of the same stage must compile nothing either.
  */
class CodegenCacheSpec extends SparkSpec {

  // the perfbench catalog-floor list
  private val queries = Seq(
    "q40_knn_cosine", "q39_quality_filter", "q65_repetition", "q15_above_brand_avg",
    "q143_order_priority_check", "q79_split_manifest", "q10_rollup",
    "q135_profit_by_nation_year", "q76_token_budget", "q71_boilerplate")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(): Long = {
    val c0 = compiles
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).collect()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    compiles - c0
  }

  test("a repeated pass over the catalog-floor queries compiles no generated code") {
    val first = pass()
    val second = pass()
    info(s"compiles: first pass $first, second pass $second")
    assert(second === 0L,
      s"the second pass recompiled $second generated classes (first pass: $first)")
  }

  // the perfbench stream-drain sessions stage: events replayed in two
  // time-ordered files, one per micro-batch
  private lazy val events: String = {
    val dir = s"${tempDir("codegen_stream").getPath}/events"
    StreamBench.sliceOrdered(sources.Tables.events(spark, sfDir), "ts", 2, dir)
    dir
  }

  /** One start of the sessions stage on a fresh checkpoint and query
    * name, drained into a memory sink: (compiles, rows emitted).
    */
  private def sessionsStart(run: Int): (Long, Long) = withRocksDb {
    import spark.implicits._
    val in = events
    val c0 = compiles
    val ds = spark.readStream.schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .select(col("user_id"), col("ts")).withWatermark("ts", "10 seconds")
      .select(col("user_id"), unix_millis(col("ts"))).as[(String, Long)]
    val sink = s"codegen_sessions_$run"
    val q = streaming.SessionTimers.inactivitySessions(spark, ds, gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName(sink).outputMode(OutputMode.Append)
      .option("checkpointLocation", tempDir("codegen_ckpt").getPath).start()
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    val n = compiles - c0
    try (n, spark.table(sink).count()) finally spark.catalog.dropTempView(sink)
  }

  test("a second start of a stream stage compiles no generated code") {
    val (first, rows1) = sessionsStart(1)
    val (second, rows2) = sessionsStart(2)
    info(s"compiles: first start $first, second start $second")
    assert(rows2 === rows1)
    assert(second === 0L,
      s"the second start recompiled $second generated classes (first start: $first)")
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the graft engine.
  *
  * Local mode is a stand-in for a real cluster: `cores` executor threads in
  * one JVM. All scale-sensitive knobs (shuffle partitions, AQE, broadcast
  * threshold) are set here once so every entry point (tests, Verify, Bench)
  * runs the same engine configuration. Every `main` builds its session
  * through [[local]].
  */
object GraftSession {

  private def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Optimization round 16 (guide §2.2 — fewer, larger reduce
      // partitions): respect advisoryPartitionSizeInBytes (64 MB) when
      // coalescing instead of inflating tiny shuffles to the core count.
      // Scale-adaptive in BOTH directions: at sf0.1 a few-MB exchange
      // coalesces to 1-2 tasks (measured: 20-query bench subset 32.7 →
      // 23.1 s on quiet interleaved A/B passes — scheduling overhead, not
      // compute); at 100 TB the same rule yields thousands of ~64 MB
      // partitions. This matches Spark's own guidance on the knob
      // ("recommended to set this to false") — NOT a 32-core constant.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // driver testdata stores events.ts as TIMESTAMP(NANOS); Spark 4 only
      // reads it as a long — Tables.events converts (floor ns→us, matching
      // DuckDB's truncation)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      // recentProgress is the source of batch counts (IngestLoop's
      // CycleStats.batches, StreamBench's paced admission sums); the
      // default 100-entry ring silently undercounts long drains
      .config("spark.sql.streaming.numRecentProgressUpdates", "4000")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // rehearsal-only overrides (semicolon-separated k=v). Scale
      // rehearsals shrink DATA by 10-1000× but Spark's skew/advisory
      // byte thresholds don't shrink with it — a 100 TB cluster's
      // 256 MB skew threshold is ~1 MB at an sf10 rehearsal. The knob
      // lets a rehearsal run scale those thresholds down WITHOUT
      // changing the engine configuration every committed bench uses
      // (unset = identical config to before).
      .config(sys.env.get("SPARK_GRAFT_EXTRA_CONF") match {
        case Some(kvs) =>
          val m = new org.apache.spark.SparkConf(false)
          kvs.split(';').filter(_.contains("=")).foreach { kv =>
            val Array(k, v) = kv.split("=", 2)
            m.set(k.trim, v.trim)
          }
          m
        case None => new org.apache.spark.SparkConf(false)
      })

  /** `SPARK_GRAFT_CPUS`, else every core the JVM can see. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

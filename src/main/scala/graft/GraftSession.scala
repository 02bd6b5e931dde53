package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the graft engine.
  *
  * Local mode is a stand-in for a real cluster: `cores` executor threads in
  * one JVM. All scale-sensitive knobs (shuffle partitions, AQE, broadcast
  * threshold, generated-class cache) are set here once so every entry
  * point (tests, Verify, Bench) runs the same engine configuration. Every
  * `main` builds its session through [[local]].
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
      // recentProgress is the source of batch counts (perfbench's
      // stream-drain telemetry); the default 100-entry ring silently
      // undercounts long drains
      .config("spark.sql.streaming.numRecentProgressUpdates", "4000")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Generated-class cache (a static conf: it sizes the JVM-wide LRU
      // the first time a session compiles). Spark's 100-entry default is
      // smaller than one pass over a working set: a perfbench
      // catalog-floor pass cycles ~150 distinct classes and a
      // stream-drain pass ~155, so the LRU missed on every lookup and
      // every pass re-ran Janino on all of them and re-warmed the JIT on
      // the fresh classes. Measured on 4 vCPUs at sf0.01 (catalog-floor,
      // medians of 11 run pairs): compiles per repeated pass 150 → 0,
      // pass CPU 9.9 → 5.6 s, for +5 MB of retained classes. 1024 is ~6×
      // that working set; CodegenCacheSpec pins the zero recompiles.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      // Per-session artifact class loaders off (read once, at session
      // creation). That cache is keyed on the compiling thread's class
      // loader, and with isolation on the executor gives every session
      // UUID its own loader (`Executor.isolatedSessionCache`); each
      // streaming query runs on a cloned session
      // (`StreamExecution.sparkSessionForStream`), so every new stream
      // query missed the cache on byte-identical code and its tasks
      // re-ran Janino and re-warmed the JIT. The isolation only scopes
      // session artifacts (`addArtifact`/`addJar`/`addFile`), and the
      // engine adds none. Measured on 4 vCPUs (perfbench stream-drain,
      // medians of 11 run pairs): compiles per timed pass 79 → 0, pass
      // CPU 18.0 → 14.1 s, 5 MB less heap. CodegenCacheSpec pins the
      // zero recompiles of a restarted stream stage.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Streaming checkpoint files through java.nio on local paths
      // (`streaming.LocalCheckpointFiles`; other schemes keep Spark's
      // default manager). Without the native Hadoop library, Spark's
      // default forks `chmod` to create each checkpoint file and two
      // `readlink`s to rename it, and every micro-batch writes an
      // offset entry, a commit entry and state-store files: walCommit,
      // commitOffsets and latestOffset each took ~40 ms at p50 for a
      // few hundred bytes. Read through the session's Hadoop conf on the
      // driver and the executors. Measured on 4 vCPUs (perfbench
      // stream-drain): process spawns per run 2,456 → 463 (readlink
      // 1,488 → 0), and over 11 run pairs latency p50 624 → 372 ms,
      // pass 6.6 → 4.7 s. CheckpointFilesSpec pins a spawn-free
      // checkpoint.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalCheckpointFiles")
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

  /** The RocksDB state store stateful streaming runs on
    * (`transformWithState` requires it), with checkpoint file checksums
    * off. `changelog` turns on changelog checkpointing: each commit
    * uploads the batch's changed keys instead of a full snapshot, and a
    * restore replays them over the last background snapshot.
    */
  def rocksDbStateConf(changelog: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      changelog.toString)

  /** Runs `body` with `pairs` set on `spark`'s session conf, then puts
    * each key back: its old value, or unset if it had none.
    */
  def withConf[A](spark: SparkSession, pairs: Seq[(String, String)])(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `SPARK_GRAFT_CHANGELOG_CKPT` (default 1): whether the streaming benches
    * run changelog checkpointing.
    */
  def changelogFromEnv: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_CHANGELOG_CKPT", "1") == "1"

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver-generated star schema + stream tables
  * (see /root/repo/TESTDATA.md) and for the reference's user-activity JSON
  * shape (reference: src/main/scala/generators/useractivity/package.scala:10
  * — `UserActivity(userId, activity, timestamp)`).
  *
  * All readers are plain parquet/json scans so Catalyst keeps predicate
  * pushdown and column pruning; no eager caching here — callers decide.
  */
object Tables {

  /** Schema cache for parquet reads (optimization round 16, guide §1/§5:
    * driver work). A bare `spark.read.parquet(path)` runs a footer
    * schema-inference JOB on every call; the bench constructs each table
    * DataFrame fresh per query (154 queries × 2-7 tables), so inference
    * alone was hundreds of driver-blocking micro-jobs per pass —
    * round 16 measured (2326d47) 0.4-0.9 s of per-query "build" time on
    * multi-table queries. The cache holds only the STRUCT TYPE (metadata,
    * exactly what a catalog/metastore provides at scale — never rows,
    * never results), keyed on canonical path + directory mtime so a
    * rewritten path re-infers.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Parquet read with cached schema — skips the per-call inference job. */
  def parquetCached(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    val key = s"${f.getCanonicalPath}@${f.lastModified}"
    val sch = schemaCache.computeIfAbsent(
      key, _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** One driver table. `dir` is e.g. /root/testdata/sf0.01 */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquetCached(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in several physical parquet encodings across
    * driver testdata generations; normalize ALL of them to `TimestampType`
    * so every downstream `unix_millis`/`unix_micros`/`window()` call sees
    * one canonical type:
    *   - TIMESTAMP(NANOS): Spark 4 reads it (only) as a nanosecond long
    *     under `spark.sql.legacy.parquet.nanosAsLong`; floor-divide to
    *     micros — the same truncation DuckDB applies.
    *   - timestamp[us] without timezone: Spark 4 reads TIMESTAMP_NTZ;
    *     cast to TimestampType. The session timezone is UTC, so the NTZ
    *     wall time maps to the identical UTC instant the DuckDB oracle
    *     sees for its naive timestamps.
    *   - timestamp[us, tz=UTC]: already TimestampType; pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType            => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                   => raw
    }
  }
  // NOTE: the driver testdata ships each table as ONE parquet row group,
  // so scan stages run as a single task locally. A conditional
  // repartition-to-cores after these reads was measured at sf0.1 and
  // REGRESSED the bench ~30% (exchange + task-scheduling overhead beats
  // the parallelism win at this data size) — don't re-add it; at real
  // scale the scan has row-group splits and parallelism comes for free.
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  /** `embeddings.embedding` is parquet `list<float>` today; a
    * `list<double>` regeneration passes through at its NATIVE width —
    * no narrowing. Every distance in the engine runs through the
    * width-polymorphic `float_dot` ([[graft.functions.FloatDot]]), which
    * widens floats exactly and takes doubles as-is, matching the DuckDB
    * oracle's `CAST(embedding AS DOUBLE[])` bit-for-bit at either width.
    * (Round 6 narrowed doubles to float here, which kept queries
    * analyzing but would silently disagree with the oracle on true
    * doubles near round/floor boundaries — the last single-point
    * mass-breakage vector; see TablesSpec's preservation cases.)
    * Any other element type (a hypothetical decimal/int regeneration)
    * casts to double — the oracle's computation type.
    */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "embeddings")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => raw
      case ArrayType(_, _) =>
        raw.withColumn("embedding", col("embedding").cast(ArrayType(DoubleType)))
      case other => throw new IllegalStateException(
        s"embeddings.embedding must be an array column, got ${other.simpleString}")
    }
  }

  // ---------------------------------------------------------------------
  // Reference user-activity shape (SURVEY §1, §2.1)
  // ---------------------------------------------------------------------

  /** Explicit schema — never inferred (SURVEY §1.2): three string fields. */
  val userActivitySchema: StructType = StructType(Seq(
    StructField("userId", StringType),
    StructField("activity", StringType),
    StructField("timestamp", StringType)
  ))

  /** Batch read of the reference's JSON-array file shape with
    * skip-and-report malformed-record policy (reference package.scala:29-35:
    * parse failure → record dropped, never fails the job).
    * Adds `eventTime` parsed once at ingest (SURVEY §1.1).
    */
  def userActivityJson(spark: SparkSession, path: String,
      multiLine: Boolean = true): DataFrame = {
    val withCorrupt = userActivitySchema.add("_corrupt", StringType)
    spark.read
      // multiLine=true for the reference's JSON-array shape; false for
      // JSONL, where PERMISSIVE parks broken lines in _corrupt per line
      .option("multiLine", multiLine.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(withCorrupt)
      .json(path)
      .filter(col("_corrupt").isNull && col("userId").isNotNull &&
        col("activity").isNotNull && col("timestamp").isNotNull)
      .drop("_corrupt")
      .withColumn("eventTime", to_timestamp(col("timestamp")))
  }
}

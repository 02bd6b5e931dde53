package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Write-side utilities: data-lake layouts that make the READ side cheap
  * at 100 TB. Hive-style partition directories mean a query filtering on
  * the partition column never opens irrelevant files (partition pruning —
  * asserted in SinksSpec), and per-partition file sizing is controlled by
  * the upstream shuffle, not the writer.
  */
object Sinks {

  /** Partition a fact table by derived year (coarse, low-cardinality —
    * the right granularity for multi-year scans; day-level comes from
    * parquet row-group stats within each year).
    */
  def writePartitionedByYear(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("year", year(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("year")
      .parquet(path)

  /** Idempotent partition backfill: overwrite ONLY the partitions
    * present in `df`, leaving every other partition's files untouched —
    * `partitionOverwriteMode=dynamic` scoped to this write via the
    * per-write DataFrameWriter option (takes precedence over the session
    * conf, so concurrent writes on the same session can never observe
    * each other's mode — no set/restore race). This is the daily-rerun
    * contract of a production lake job: re-running one day's pipeline
    * replaces that day's directory atomically-per-partition and can
    * never truncate the rest of the table (static overwrite mode — the
    * default — would drop ALL partitions first). Asserted in SinksSpec
    * down to untouched sibling file paths.
    */
  def backfillPartitions(df: DataFrame, partCol: String, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
}

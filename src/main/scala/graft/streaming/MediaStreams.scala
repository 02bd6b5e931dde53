package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the multimodal axis (operators.Multimodal,
  * q50/q112 family): the CAS WRITE PATH for arriving media blobs.
  */
object MediaStreams {

  /** Multimodal ingest gate — per arriving blob (doc_id, payload BINARY,
    * eventTime): derive the typed metadata the batch store carries
    * (mime stub, byte length, md5 content address), then dedup at CAS
    * granularity in two layers, mirroring the text pipeline's contract:
    *
    *  1. intra-stream: `dropDuplicatesWithinWatermark` on the checksum —
    *     state is O(blobs inside the horizon), keyed by the 16-byte
    *     content address, never the payload;
    *  2. stream-static: one broadcast anti-join against the landed
    *     store's checksum set (collected once at gate construction, the
    *     [[IndexCompaction.gate]] contract — a stream-static join
    *     re-evaluates its static plan every micro-batch otherwise).
    *
    * Emits the admitted blobs' flat metadata row (the shape a CAS writer
    * appends); payloads never shuffle — the only exchange is the dedup
    * state partitioning on the checksum. The mime stub is byte-domain
    * (a real pipeline sniffs magic numbers); the plumbing — binary
    * column in, content-addressed dedup, metadata out — is the
    * production pattern, like the batch resize/frame-sample stubs.
    */
  def blobIngest(stream: DataFrame, existing: DataFrame,
      delay: String = "10 seconds"): DataFrame = {
    val known = existing
      .select(col("meta.checksum").as("checksum")).distinct()
      .localCheckpoint(true)
    stream
      .withColumn("checksum", md5(col("payload")))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .withColumn("head_hex", hex(substring(col("payload"), 1, 8)))
      .withWatermark("eventTime", delay)
      .dropDuplicatesWithinWatermark("checksum")
      .join(known, Seq("checksum"), "left_anti")
      .select(col("doc_id"), col("eventTime"),
        lit("text/plain").as("mime"), col("n_bytes"),
        col("checksum"), col("head_hex"))
  }

  /** LIVE CAS accounting — the streaming twin of batch q112's storage
    * economics, maintained incrementally per source over arriving blobs:
    * blob count and raw bytes stay exact (mergeable sums), unique blobs
    * becomes an HLL sketch over the content address (bounded state at
    * any corpus size, the [[TextStreams.liveDatasetCard]] contract).
    * `saved_bytes` stays batch-side by design: byte-level dedup savings
    * needs per-unique-blob sizes — the CAS store itself — not a
    * monitoring sketch. Update output mode; `stream` needs
    * (source, payload).
    */
  def liveCasAccounting(stream: DataFrame): DataFrame =
    stream
      .select(col("source"), md5(col("payload")).as("checksum"),
        length(col("payload")).cast("long").as("nb"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("nb")).as("total_bytes"),
        approx_count_distinct(col("checksum")).as("n_unique_approx"))
}

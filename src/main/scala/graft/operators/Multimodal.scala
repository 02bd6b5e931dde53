package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** One media payload: opaque bytes + typed metadata. */
final case class DocBlob(doc_id: Long, source: String, payload: Array[Byte])

/** Multimodal-column operators (SURVEY §7.6): media as opaque BINARY
  * payloads with typed metadata, byte-level sampling (the frame-sampling
  * shape for video), and a decode→feature-extract pipeline whose decode
  * step is STUBBED (this container ships no image/audio codecs) while the
  * Spark-side plumbing — schema, typed Dataset, `mapPartitions` batch
  * shape, partition-parallel aggregation — is real and oracle-checked.
  *
  * The synthetic payloads are the documents' UTF-8 bytes (pure-ASCII
  * corpus, so byte offsets == char offsets and the DuckDB oracle can
  * recompute every byte-level result with string functions).
  *
  * Scale notes: payload bytes never leave their partition — metadata,
  * sampling, and features are all computed per-row/per-partition and only
  * small (key, counter) rows shuffle. That is the 100 TB contract for
  * multimodal data: move features, not media.
  */
object Multimodal {

  /** Documents as media blobs: BINARY payload + a typed `meta` STRUCT
    * column (mime, n_bytes, checksum) — metadata travels as one nested
    * column that pruning can drop wholesale, and adding a field never
    * widens the top-level schema. Declared query outputs stay flat
    * (`meta.*`) for the oracle gate.
    */
  def blobs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        encode(col("text"), "UTF-8").as("payload"))
      .withColumn("meta", struct(
        lit("text/plain").as("mime"),
        length(col("payload")).cast(LongType).as("n_bytes"),
        md5(col("payload")).as("checksum")))

  /** Per-blob metadata + content addressing: byte length, md5 checksum,
    * head-8-bytes hex, and a sparse "every 64th byte" sample string.
    */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    blobs(s, dir)
      .select(col("doc_id"), col("meta.mime").as("mime"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.checksum").as("checksum"),
        hex(substring(col("payload"), 1, 8)).as("head_hex"),
        expr("concat_ws('', transform(sequence(1, CAST(length(payload) AS INT), 64), " +
          "i -> hex(substring(payload, i, 1))))").as("sample_hex"))
      .orderBy(col("doc_id"))

  /** Content-addressable-store accounting (q112): what a CAS blob store
    * would hold per source — blob count, raw bytes, unique blobs (by
    * checksum), unique bytes, and the bytes dedup saves. The economics
    * report behind "store media once, reference it everywhere"; at
    * 100 TB the group-by runs on (source, 16-byte checksum) rows, the
    * payloads themselves never shuffle.
    */
  def casAccounting(s: SparkSession, dir: String): DataFrame =
    blobs(s, dir)
      .select(col("source"), col("meta.checksum").as("h"),
        col("meta.n_bytes").as("nb"))
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("copies"), max(col("nb")).as("b"))
      .groupBy(col("source"))
      .agg(sum(col("copies")).cast(LongType).as("n_blobs"),
        sum(col("copies") * col("b")).cast(LongType).as("total_bytes"),
        count(lit(1)).as("n_unique"),
        sum(col("b")).cast(LongType).as("unique_bytes"))
      .withColumn("saved_bytes", col("total_bytes") - col("unique_bytes"))
      .orderBy(col("source"))

  /** Frame sampling: 16-byte "frames" at stride 64 (first 4 per blob) —
    * the video-keyframe access pattern expressed on binary columns.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    blobs(s, dir)
      .select(col("doc_id"),
        explode(expr("filter(sequence(1, CAST(length(payload) AS INT), 64), " +
          "i -> i + 15 <= length(payload))")).as("off"),
        col("payload"))
      .select(col("doc_id"), ((col("off") - 1).divide(64)).cast(LongType).as("frame_no"),
        col("off").cast(LongType).as("off"),
        hex(expr("substring(payload, off, 16)")).as("frame_hex"))
      .filter(col("frame_no") < 4)
      .orderBy(col("doc_id"), col("frame_no"))

  /** Resize/resample: produce a reduced payload (every `factor`-th byte)
    * with new metadata + content hash — the image-resize / audio-resample
    * shape on binary columns. The byte-domain transform is the STUB (a
    * real pipeline decodes, resamples, re-encodes); the plumbing —
    * per-partition byte work, no shuffle of payloads, new checksum —
    * is the production pattern.
    */
  def resize(s: SparkSession, dir: String, factor: Int = 4): DataFrame = {
    import s.implicits._
    val ds = blobs(s, dir)
      .select(col("doc_id"), col("source"), col("payload")).as[DocBlob]
    ds.mapPartitions { it =>
      val hex = java.util.HexFormat.of()
      it.map { b =>
        // STUB: real media resize happens here (decode -> scale -> encode)
        val resized = b.payload.indices.collect {
          case i if i % factor == 0 => b.payload(i)
        }.toArray
        (b.doc_id, b.payload.length.toLong, resized.length.toLong,
          hex.formatHex(graft.functions.Hash60.md5().digest(resized)))
      }
    }.toDF("doc_id", "orig_bytes", "resized_bytes", "resized_md5")
      .orderBy(col("doc_id"))
  }

  /** Decode → feature-extract over typed blobs via `mapPartitions`.
    * The decode step is a STUB: a real pipeline would decode
    * image/audio bytes here (libs absent in this container); the
    * deterministic stand-in extracts a 16-bin byte histogram per blob.
    * Everything around the stub — encoder-backed Dataset[DocBlob], batch
    * iteration, partial aggregation after the narrow map — is the real
    * production plumbing.
    */
  def byteHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds = blobs(s, dir)
      .select(col("doc_id"), col("source"), col("payload")).as[DocBlob]
    ds.mapPartitions { blobs =>
      blobs.flatMap { b =>
        // STUB: replace with real media decode (e.g. image -> pixels).
        val hist = new Array[Long](16)
        b.payload.foreach(byte => hist((byte & 0xFF) >> 4) += 1)
        hist.iterator.zipWithIndex.collect {
          case (n, bucket) if n > 0 => (b.source, bucket, n)
        }
      }
    }.toDF("source", "bucket", "n")
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("n")).as("n_bytes"))
      .orderBy(col("source"), col("bucket"))
  }
}

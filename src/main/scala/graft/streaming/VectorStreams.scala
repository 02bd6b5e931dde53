package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Vectors

/** Streaming twins of the embedding-modality operators — the vector side
  * of the story TextStreams tells for text: the same LSH construction the
  * batch queries land (q45/q69) gates a continuously-arriving embedding
  * stream against the existing corpus.
  */
object VectorStreams {

  /** Stream-static SEMANTIC near-dup gate — the vector twin of
    * [[IndexCompaction.gate]] (and the streaming face of batch
    * q45/q69's multi-table LSH): an arriving embedding is admitted only
    * if none of its `tables` sign-projection bucket keys collides with
    * the corpus bucket index. One stateless stream-static anti-join per
    * table — no state store, state never grows with the corpus; the
    * static side is the O(tables·2^bits) distinct bucket index, and the
    * stream side's bucket keys are per-row codegen'd `float_dot`
    * projections (no streaming aggregation).
    *
    * An exact duplicate shares every bucket by construction, so the LSH
    * layer subsumes a separate content-hash layer. Conservative like the
    * text gate: a bucket collision drops the doc without an exact-cosine
    * verify — precision traded for a stateless plan; recall of the drop
    * decision is the multi-table LSH recall the batch tests measure.
    */
  def nearDupGate(stream: DataFrame, corpus: DataFrame,
      tables: Int = 6, bits: Int = 3): DataFrame = {
    // landed once — the static side of a stream-static join re-evaluates
    // per micro-batch, and the fold anti-joins it `tables` times per
    // trigger (see IndexCompaction.gate)
    val idx = Vectors.bucketIndexOf(corpus, tables, bits).localCheckpoint(true)
    (0 until tables).foldLeft(stream) { (df, t) =>
      df.withColumn("b", Vectors.bucketCol(t, bits))
        .join(idx.filter(col("t") === t).select(col("b")),
          Seq("b"), "left_anti")
        .drop("b")
    }.select(col("vec_id"), col("eventTime"))
  }

  /** Stateless IVF index maintenance for an ARRIVING embedding stream —
    * the write path of a vector store: assign each new vector to its
    * trained coarse cell per-row, with the k trained centroids embedded
    * as literal arrays (the codebook contract — k rows collected once at
    * operator construction from the landed k-means model). No joins, no
    * shuffles, no state: the argmin is an in-row `array_min` over the k
    * (−cos, cid) structs, which reproduces the batch tie rule (cos desc,
    * cid asc) on the SAME doubles, so assignments are row-for-row
    * identical to the landed batch index (spec-pinned) and a downstream
    * writer can append them straight to the `vec_ivf` table.
    *
    * Staleness: the codebook is pinned per corpus FINGERPRINT (same
    * contract as TextStreams.currentModel) — an in-flight query keeps
    * its construction-time centroids until it drains; a (re)started one
    * re-fingerprints `dir` and retrains/reloads the k-means model if
    * the corpus was regenerated, reusing the cached codebook otherwise.
    */
  private val centCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Array[(Long, Array[Double], Double)]]()

  private[graft] def currentCentroids(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[(Long, Array[Double], Double)] = {
    import scala.jdk.CollectionConverters._
    import graft.operators.Materialize
    val fp = Materialize.fingerprint(dir)
    // superseded generations evicted (same contract as
    // TextStreams.currentModel): one codebook per dir, not per generation
    centCache.keySet.asScala
      .filter(k => k._1 == dir && k._2 != fp)
      .foreach(centCache.remove)
    centCache.computeIfAbsent((dir, fp), _ => {
      Materialize.invalidate(dir)
      Vectors.centDoubles(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
    })
  }

  def cellAssign(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
      dir: String): DataFrame = {
    val cents = currentCentroids(spark, dir)
    val nsq = call_function("float_dot", col("embedding"), col("embedding"))
    val candidates = cents.map { case (cid, ce, cn) =>
      val cos = call_function("float_dot", col("embedding"), lit(ce)) /
        sqrt(nsq * lit(cn))
      struct((-cos).as("negcos"), lit(cid).as("cid"))
    }
    stream.withColumn("best", array_min(array(candidates.toSeq: _*)))
      .select(col("vec_id"), col("best.cid").as("cid"),
        (-col("best.negcos")).as("cos"))
  }
}

// filesPerTrigger evidence: run with
//   sbt "runMain graft.tools.IngestKnobBench"   (SPARK_GRAFT_SF_DIR)
// Sweeps the ingest loop's files-per-trigger knob over a FIXED arrival
// set and writes ingest_knob.json — the measurement behind the
// STREAM_SCALING drain-cost paragraph.
package graft.tools

import org.apache.spark.sql.functions._
import graft.{GraftSession, StreamBench}
import graft.streaming.{IndexCompaction, IngestLoop}

/** Why this exists: STREAM_SCALING documents the drain's two regimes —
  * a ~1 s/micro-batch fixed floor below a few thousand arrivals per
  * batch, data-proportional past it — and claims the filesPerTrigger
  * knob amortizes the floor WITHOUT changing the admit decision. This
  * main measures both halves of that claim on one corpus: the same
  * 12-file arrival set drains under filesPerTrigger 1 / 3 / 12 (12,
  * 4, 1 micro-batches), each from an identical empty index, and
  *
  *  - `drain_s`/`batches` price the knob (fixed cost × batches at
  *    bench scale, so fpt=12 should approach the pure data cost);
  *  - `landed` must be IDENTICAL in size across settings, and the
  *    landed doc_id set is asserted equal before the artifact is
  *    written — trigger-size invariance observed at bench scale, the
  *    IngestLoopSpec pin rerun as a measurement precondition.
  */
object IngestKnobBench {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "ingest-knob-bench")
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.useRocksDbState(spark, changelog = false)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = java.nio.file.Files.createTempDirectory("ingest_knob")
      .toFile.getAbsolutePath
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val cycDir = s"$base/in"
    StreamBench.sliceOrdered(docs, "doc_id", 12, cycDir)

    import spark.implicits._
    var landedRef: Set[Long] = null
    val runs = Seq(1, 3, 12).map { fpt =>
      val idxRoot = s"$base/index_$fpt"
      val landRoot = s"$base/landed_$fpt"
      IndexCompaction.init(spark, idxRoot,
        Seq.empty[(Long, String)].toDF("doc_id", "text"))
      val st = IngestLoop.runCycle(spark, idxRoot, landRoot, 0, cycDir,
        docs.schema, n, filesPerTrigger = fpt)
      val landed = IngestLoop.landedAll(spark, landRoot)
        .select(col("doc_id")).as[Long].collect().toSet
      if (landedRef == null) landedRef = landed
      require(landed == landedRef,
        s"fpt=$fpt landed a DIFFERENT set (${landed.size} vs " +
          s"${landedRef.size}) — trigger-size invariance violated")
      f"""{"files_per_trigger":$fpt,"batches":${st.batches},""" +
        f""""drain_s":${st.drainWallS}%.2f,""" +
        f""""s_per_batch":${st.drainWallS / math.max(1, st.batches)}%.2f,""" +
        f""""landed":${st.landed}}"""
    }
    val line = s"""{"metric":"ingest_knob","sf":"$sfDir",""" +
      s""""arrivals":$n,"files":12,""" +
      s""""landed_set_identical":true,"runs":[${runs.mkString(",")}]}"""
    println(line)
    val w = new java.io.PrintWriter("ingest_knob.json", "UTF-8")
    try w.println(line) finally w.close()
    spark.stop()
  }
}

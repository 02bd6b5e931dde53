// Scale rehearsal for the COMPOSED ingest loop at corpora past the
// full StreamBench sweep: gate → admit → exactly-once landing → minor
// compaction over three cycles from an EMPTY index, then the full
// stream==batch audit — the landed set against the oracle-checked
// batch q123 keep set (missed must be 0; every extra admit must be a
// cross-cycle bridge whose earlier band sharers were ALL never landed,
// the IngestLoopSpec policy). This is StreamBench's ingest_loop stage
// re-run standalone where the 12-query batch rehearsal runs (the
// GenCorpus sf10 corpus), under the lake's corpus-derived banding.
//
//   SPARK_GRAFT_SF_DIR=/tmp/gensf/sf10 sbt "runMain graft.tools.IngestScaleBench"
package graft.tools

import org.apache.spark.sql.functions._
import graft.{GraftSession, StreamBench}
import graft.streaming.{IndexCompaction, IngestLoop}

object IngestScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/gensf/sf1")
    val nSlices = sys.env.getOrElse("SPARK_GRAFT_STREAM_SLICES", "12").toInt
    val filesPerTrigger =
      sys.env.getOrElse("SPARK_GRAFT_FILES_PER_TRIGGER", "4").toInt
    val spark = GraftSession.local(appName = "ingest-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val base = "/tmp/graft_ingestscale"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    GraftSession.useRocksDbState(spark, GraftSession.changelogFromEnv)

    val idxRoot = s"$base/index"; val landRoot = s"$base/landed"
    val docsAll = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val lakeBanding = graft.operators.Text.bandingOf(spark, sfDir)
    IndexCompaction.init(spark, idxRoot, docsAll.filter(lit(false)),
      banding = lakeBanding)
    val qsI = docsAll.stat.approxQuantile("doc_id", Array(1.0 / 3, 2.0 / 3), 0.001)
    val phases = Seq(
      docsAll.filter(col("doc_id") <= qsI(0)),
      docsAll.filter(col("doc_id") > qsI(0) && col("doc_id") <= qsI(1)),
      docsAll.filter(col("doc_id") > qsI(1)))
    val cycleJ = phases.zipWithIndex.map { case (ph, c) =>
      val cycDir = s"$base/in_$c"
      StreamBench.sliceOrdered(ph, "doc_id", math.max(2, nSlices / 3), cycDir)
      val st = IngestLoop.runCycle(spark, idxRoot, landRoot, c, cycDir,
        ph.schema, ph.count(), filesPerTrigger = filesPerTrigger)
      println(s"[ingest_scale] cycle $c arrivals=${st.arrivals} " +
        s"admitted=${st.admitted} landed=${st.landed} folded=${st.folded} " +
        f"gate_build_s=${st.gateBuildS}%.1f drain_s=${st.drainWallS}%.1f " +
        f"compact_s=${st.compactS}%.1f batches=${st.batches}")
      s"""{"cycle":$c,"arrivals":${st.arrivals},"admitted":${st.admitted},""" +
        s""""landed":${st.landed},"folded":${st.folded},""" +
        f""""gate_build_s":${st.gateBuildS}%.2f,"drain_s":${st.drainWallS}%.2f,""" +
        f""""compact_s":${st.compactS}%.2f,"batches":${st.batches}}"""
    }
    // the stream==batch audit at full corpus scale: landed vs q123 keep
    val landedIds = IngestLoop.landedAll(spark, landRoot)
      .select(col("doc_id")).as[Long].collect().toSet
    val dropSet = graft.operators.Text.arrivalDedup(spark, sfDir)
      .select(col("doc_id")).as[Long].collect().toSet
    val allIds = docsAll.select(col("doc_id")).as[Long].collect().toSet
    val keep = allIds -- dropSet
    val extras = landedIds -- keep
    val missed = keep -- landedIds
    val bridgeOnly =
      if (extras.isEmpty) true
      else {
        val bd = graft.operators.Text.bandingOf(spark, sfDir)
        val bands = graft.operators.Text.mhBands(
          graft.operators.Text.minhashAgg(spark, sfDir, bd), bd)
        bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") &&
              col("a.sig") === col("b.sig") &&
              col("b.doc_id") < col("a.doc_id"))
          .select(col("a.doc_id").as("e"), col("b.doc_id").as("earlier"))
          .filter(col("e").isin(extras.toSeq: _*))
          .select(col("earlier")).distinct()
          .as[Long].collect().forall(d => !landedIds.contains(d))
      }
    val line = s"""{"metric":"ingest_scale","banding":"$lakeBanding",""" +
      s""""files_per_trigger":$filesPerTrigger,""" +
      s""""cycles":[${cycleJ.mkString(",")}],""" +
      s""""landed_total":${landedIds.size},"q123_keep":${keep.size},""" +
      s""""extra_admitted":${extras.size},"missed_q123":${missed.size},""" +
      s""""extras_bridge_only":$bridgeOnly,"sf":"$sfDir"}"""
    val w = new java.io.PrintWriter("ingest_scale.json", "UTF-8")
    try w.println(line) finally w.close()
    println(line)
    spark.stop()
  }
}

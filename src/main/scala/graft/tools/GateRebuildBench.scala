// Gate-rebuild evidence: run with `sbt "runMain graft.tools.GateRebuildBench"`.
// Times the dedup gate's static-side rebuild against index segmentation
// and writes gate_rebuild.json — the number that decides MAJOR-merge
// cadence (README/STREAM_SCALING compaction sections).
package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.streaming.IndexCompaction

/** Why this exists: the dedup service pays a gate REBUILD (read the
  * epoch index, checkpoint the two static sides) after every
  * compaction interval and every restart. Minor compactions keep that
  * cost O(corpus read) but grow the SEGMENT count, and the claim that
  * a MAJOR merge is only ever a planning optimization ("the gate's
  * anti-joins never require it for correctness") leaves open the
  * question it exists to answer: at what segmentation does the rebuild
  * actually hurt? This main holds the corpus FIXED and sweeps how many
  * delta epochs it is spread across (1, 4, 16, 64), timing
  *
  *  - `build_s`: [[IndexCompaction.gate]]'s eager static-side cost —
  *    union-read every epoch's bands/hashes and localCheckpoint both
  *    (the per-interval restart cost a deployment pays);
  *  - at the widest point, `merge_s`: the MAJOR merge that re-bases
  *    the segments to one, and `build_after_merge_s`: the rebuild it
  *    buys.
  *
  * The curve is the merge-cadence policy input: rebuild cost grows
  * with file/segment count (listing + per-file read setup dominate at
  * bench scale; at 100 TB the same curve is driven by scan-planning
  * overhead per segment), and the merge pays for itself once the
  * per-interval rebuild delta exceeds the amortized merge cost.
  */
object GateRebuildBench {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "gate-rebuild-bench")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val n = docs.count()

    def buildSecs(root: String): Double = {
      val t0 = System.nanoTime()
      // the gate's eager static-side work, without wiring a stream:
      // union-read every live epoch and checkpoint both sides
      IndexCompaction.bands(spark, root).localCheckpoint(true).count(): Unit
      IndexCompaction.hashes(spark, root).localCheckpoint(true).count(): Unit
      (System.nanoTime() - t0) / 1e9
    }

    def f(v: Double) = BigDecimal(v).setScale(2,
      BigDecimal.RoundingMode.HALF_UP).toString

    val base = java.nio.file.Files
      .createTempDirectory("gate_rebuild").toString
    // warmup: build-and-read a throwaway index once so the first timed
    // point doesn't absorb codegen/parquet-reader initialization
    IndexCompaction.init(spark, s"$base/warmup", docs)
    buildSecs(s"$base/warmup"): Unit
    val widths = Seq(1, 4, 16, 64)
    val entries = widths.map { e =>
      val root = s"$base/idx_$e"
      // same corpus, spread over e delta epochs by doc_id range
      val bounds = docs.stat.approxQuantile("doc_id",
        (1 to e).map(_.toDouble / e).toArray, 0.001)
      var lo = Long.MinValue
      bounds.foreach { b =>
        val hi = b.toLong
        val slice = docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        if (IndexCompaction.epochs(root).isEmpty)
          IndexCompaction.init(spark, root, slice)
        else IndexCompaction.compact(spark, root, slice): Unit
        lo = hi
      }
      val eps = IndexCompaction.epochs(root).size
      val s = buildSecs(root)
      println(s"epochs=$eps build_s=${f(s)}")
      (eps, s, root)
    }

    // re-base the widest index and measure what the merge buys
    val (_, _, widest) = entries.last
    val tM = System.nanoTime()
    IndexCompaction.merge(spark, widest): Unit
    val mergeS = (System.nanoTime() - tM) / 1e9
    val afterS = buildSecs(widest)

    val line = s"""{"metric":"gate_rebuild","unit":"sec","docs":$n,""" +
      s""""points":[${entries.map { case (e, s, _) =>
        s"""{"epochs":$e,"build_s":${f(s)}}"""
      }.mkString(",")}],""" +
      s""""merge_s":${f(mergeS)},"build_after_merge_s":${f(afterS)}}"""
    val w = new java.io.PrintWriter("gate_rebuild.json", "UTF-8")
    try w.println(line) finally w.close()
    println(line)
    spark.stop()
  }
}

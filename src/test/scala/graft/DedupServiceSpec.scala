package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Banding, Text}
import graft.streaming.{IndexCompaction, IngestLoop}

/** Pins for the service's restart-scan helpers — the pieces a crash
  * recovery depends on, exercised directly so the failure modes the
  * smoke can't cheaply reach (a kill past cycle 10) are covered:
  *
  *  - work dirs resume in NUMERIC cycle order ("cycle_10" sorts
  *    lexicographically before "cycle_2"; trusting string order would
  *    resume the wrong dir and silently drop the interrupted cycle);
  *  - a cycle's `_manifest.json` is the authoritative claim record
  *    (zero-copy format), with legacy copy-format dirs still honored;
  *  - a manifest+symlink work dir stays readable by both the batch
  *    reader and a streaming source (underscore files are ignored).
  */
class DedupServiceSpec extends SparkSpec {

  private def mkWork(root: java.io.File, cycle: Int,
      names: Seq[String], manifest: Boolean): java.io.File = {
    val d = new java.io.File(root, s"work/cycle_$cycle")
    d.mkdirs()
    if (manifest) {
      val body = names.map(n =>
        s"""{"name":"$n","path":"/lake/$n","size":1,"mtime":2}""")
        .mkString("[", ",", "]")
      java.nio.file.Files.writeString(
        d.toPath.resolve("_manifest.json"), body): Unit
    } else names.foreach { n =>
      java.nio.file.Files.writeString(d.toPath.resolve(n), "x"): Unit
    }
    d
  }

  test("restart scan past cycle 10: work dirs sort numerically, the " +
      "resume target is the true latest cycle, and the next cycle " +
      "number is max+1 — not the dir count") {
    val root = tempDir("svc_scan")
    // 13 cycles, written out of order; cycle_9 is a LEGACY copy dir
    (0 to 12).foreach { c =>
      mkWork(root, c, Seq(s"arrival_$c.parquet"), manifest = c != 9)
    }
    val dirs = DedupService.workDirsOf(root.getAbsolutePath)
    assert(dirs.map(_.getName) ===
      (0 to 12).map(c => s"cycle_$c").toIndexedSeq,
      "numeric order — lexicographic would put cycle_10..12 before cycle_2")
    assert(dirs.last.getName === "cycle_12",
      "the resume target must be the highest-NUMBERED cycle")
    assert(dirs.lastOption.map(DedupService.cycleNum(_) + 1) === Some(13L),
      "next cycle derives from the numeric max, not list position")
    val claimed = DedupService.claimedNames(dirs)
    assert(claimed === (0 to 12).map(c => s"arrival_$c.parquet").toSet,
      "every cycle's files are claimed — manifests AND the legacy dir")
  }

  test("claimByManifest records the input set without copying bytes " +
      "and the work dir stays readable (batch + streaming source)") {
    import spark.implicits._
    val root = tempDir("svc_claim")
    // the stream dir holds plain parquet FILES (the sliceOrdered /
    // arrival-wave shape the service consumes), not directories
    val lake = new java.io.File(root, "lake")
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
      .repartitionByRange(2, col("doc_id"))
      .write.parquet(lake.getAbsolutePath)
    val fresh = lake.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).toIndexedSeq
    assert(fresh.size === 2, "fixture: two plain parquet part files")
    val work = new java.io.File(root, "work/cycle_0"); work.mkdirs()
    DedupService.claimByManifest(fresh, work)
    // the claim is zero-copy: links, not duplicated bytes
    fresh.foreach { f =>
      val link = work.toPath.resolve(f.getName)
      assert(java.nio.file.Files.isSymbolicLink(link),
        s"${f.getName} must be linked, not copied")
    }
    assert(DedupService.claimedNames(Seq(work)) ===
      fresh.map(_.getName).toSet)
    // _manifest.json must not break either reader (underscore-ignored)
    val batch = spark.read.parquet(work.getAbsolutePath)
    assert(batch.count() === 3L)
    val q = spark.readStream.schema(batch.schema)
      .parquet(work.getAbsolutePath)
      .writeStream.format("memory").queryName("svc_claim_stream").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("svc_claim_stream").count() === 3L,
      "the streaming source must read the linked work dir")
  }

  // ------------------------------------------------------------------
  // Banding lifecycle UNDER THE LIVE LOOP (the service's --auto-reband
  // path): arrivals push the corpus past the (4,2)→(5,3) derivation
  // threshold, the drift signal fires, reband runs between cycles, and
  // each cycle's landed set equals the construction-correct keep set —
  // wave 0 judged under the founding (4,2) pin, wave 1 under the
  // rebanded (5,3) pin against the post-reband lake.
  // ------------------------------------------------------------------

  /** 20 unique words per doc — near-dups copy a target's words and
    * replace the LAST one (15 of 21 union shingles shared, J≈0.71:
    * real LSH-band material, never byte-identical).
    */
  private def words20(i: Long): IndexedSeq[String] =
    (0 until 20).map(j => s"u${i}_$j")

  private def text(ws: Seq[String]): String = ws.mkString(" ")

  private def nearDupOf(target: Long, self: Long): String =
    text(words20(target).dropRight(1) :+ s"v$self")

  /** Batch truth for one wave: under construction `bd`, a wave doc
    * drops iff an EARLIER doc (all of `earlier`, or a smaller-id wave
    * doc — arrival order is doc_id order) shares a band signature.
    * Independent spelling: explicit minhash aggregate over shingle
    * hashes, not the library's per-row serving path.
    */
  private def waveDrops(earlier: DataFrame, wave: DataFrame, bd: Banding,
      waveFloor: Long): Set[Long] = {
    import spark.implicits._
    import graft.functions.MinHashes60.{P, mhA, mhB}
    val sh = Text.shinglesOf(earlier.unionAll(wave))
      .withColumn("hh", Text.hash60(col("sh")) % P)
    val mhCols = (0 until bd.nMh).map(j =>
      min((lit(mhA(j)) * col("hh") + lit(mhB(j))) % P).as(s"mh$j"))
    val mh = sh.groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
      .select(col("doc_id"), array((0 until bd.nMh).map(j => col(s"mh$j")): _*).as("mhb"))
    Text.bandRows(mh, bd)
      .withColumn("mn", min(col("doc_id")).over(Window.partitionBy("band", "sig")))
      .filter(col("mn") < col("doc_id") && col("doc_id") >= waveFloor)
      .select(col("doc_id")).distinct().as[Long].collect().toSet
  }

  private def landedIds(landRoot: String, cycle: Int): Set[Long] = {
    import spark.implicits._
    spark.read.parquet(s"$landRoot/cycle_$cycle")
      .select(col("doc_id")).as[Long].collect().toSet
  }

  test("banding lifecycle under the live loop: arrivals cross the " +
      "(4,2)→(5,3) threshold, drift fires, reband runs between cycles, " +
      "and every landed set equals its construction's keep set") {
    withRocksDb {
    import spark.implicits._
    val base = tempDir("svc_reband").getAbsolutePath
    val idxRoot = s"$base/index"
    val landRoot = s"$base/landed"

    // base corpus: 6,000 unique docs (ids 0..5999) — derives (4,2)
    val corpus = (0L until 6000L).map(i => (i, text(words20(i))))
      .toDF("doc_id", "text")
    IndexCompaction.init(spark, idxRoot, corpus)
    assert(IndexCompaction.indexBanding(idxRoot) === Banding.Default)

    // wave 0: 7,500 arrivals (ids 10000..17499); every 50th a near-dup
    // of a corpus doc (gate drop), every 50th+25 a near-dup of an
    // EARLIER wave doc (streaming-ownership drop)
    val wave0 = (10000L until 17500L).map { i =>
      val t =
        if (i % 50 == 0) nearDupOf((i - 10000) % 6000, i)
        // target i-1 is a UNIQUE wave doc ((i-1)%50 == 24), so the
        // near-dup really shares its target's live shingles
        else if (i % 50 == 25) nearDupOf(i - 1, i)
        else text(words20(i))
      (i, t)
    }.toDF("doc_id", "text")
    val in0 = s"$base/in0"
    StreamBench.sliceOrdered(wave0, "doc_id", 2, in0)
    val st0 = IngestLoop.runCycle(spark, idxRoot, landRoot, 0, in0,
      wave0.schema, 7500L)
    val drops0 = waveDrops(corpus, wave0, Banding.Default, 10000L)
    assert(drops0.nonEmpty, "fixture must drop wave-0 docs under (4,2)")
    assert(landedIds(landRoot, 0) ===
      (10000L until 17500L).toSet -- drops0,
      "wave-0 landed set must equal the (4,2) keep set")

    // the lake has outgrown the founding pin: 6000 + landed > 12500
    val lakeDocs = 6000L + st0.landed
    assert(lakeDocs > 12500L, s"fixture must cross the threshold ($lakeDocs)")
    assert(IndexCompaction.rebandDrift(idxRoot, lakeDocs),
      "drift signal must fire past the (4,2)→(5,3) threshold")

    // the maintenance window between cycles: reband from the full lake
    val lake = corpus.unionByName(IngestLoop.landedAll(spark, landRoot))
    val newPin = IndexCompaction.reband(spark, idxRoot, lake)
    assert(newPin === Banding(5, 3), s"derived pin for $lakeDocs docs")
    assert(IndexCompaction.indexBanding(idxRoot) === Banding(5, 3))
    assert(!IndexCompaction.rebandDrift(idxRoot, lakeDocs),
      "drift must clear once the pin matches the derivation")

    // wave 1: 500 arrivals (ids 20000..20499) gated under the NEW pin;
    // every 10th near-dups a LANDED unique lake doc, every 10th+5 an
    // earlier wave-1 doc
    val wave1 = (20000L until 20500L).map { i =>
      val t =
        if (i % 10 == 0) nearDupOf((i % 5000) + 1, i) // corpus uniques
        else if (i % 10 == 5) nearDupOf(i - 1, i) // unique wave-1 doc
        else text(words20(i))
      (i, t)
    }.toDF("doc_id", "text")
    val in1 = s"$base/in1"
    StreamBench.sliceOrdered(wave1, "doc_id", 1, in1)
    val st1 = IngestLoop.runCycle(spark, idxRoot, landRoot, 1, in1,
      wave1.schema, 500L)
    val drops1 = waveDrops(lake, wave1, Banding(5, 3), 20000L)
    assert(drops1.nonEmpty, "fixture must drop wave-1 docs under (5,3)")
    assert(landedIds(landRoot, 1) ===
      (20000L until 20500L).toSet -- drops1,
      "wave-1 landed set must equal the (5,3) keep set vs the " +
        "post-reband lake — decisions moved to the new construction")
    assert(st1.landed === 500L - drops1.size)
    }
  }
}

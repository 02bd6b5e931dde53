package graft

import org.apache.spark.sql.functions._
import graft.operators.{Banding, Text}
import graft.streaming.IndexCompaction

/** The corpus-derived LSH banding (Text.scaleRows/scaleBands — the text
  * twin of Vectors.scaleBits/scaleTables): the oracle pin (every driver
  * SF derives the reference-scale 4×2, so all oracle hashes hold), the
  * derivation curve at rehearsal scales, generalized-construction
  * consistency between the per-row (streaming) and explode+groupBy
  * (batch) minhash paths, and the index-manifest pin that keeps a
  * growing lake from splitting one index across two constructions.
  */
class BandingSpec extends SparkSpec {

  /** Reference (band, sig) rows of `docs` under `bd`, spelled
    * independently of the library's minhash bank: one explicit `min`
    * aggregate column per minhash over the shingle hashes, banded
    * through the one band projection.
    */
  private def aggregateBands(docs: org.apache.spark.sql.DataFrame,
      bd: Banding): Set[(Int, String)] = {
    import graft.functions.MinHashes60.{P, mhA, mhB}
    val sh = Text.shinglesOf(docs).withColumn("hh", Text.hash60(col("sh")) % P)
    val mhCols = (0 until bd.nMh).map(j =>
      min((lit(mhA(j)) * col("hh") + lit(mhB(j))) % P).as(s"mh$j"))
    val mh = sh.groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
      .select(col("doc_id"), array((0 until bd.nMh).map(j => col(s"mh$j")): _*).as("mhb"))
    Text.bandRows(mh, bd).collect().map(r => (r.getInt(1), r.getString(2))).toSet
  }

  test("derivation floors at the reference-scale 4x2 for every driver SF") {
    // the driver's sf-series caps at ~6250 docs (sf0.1); the floor
    // holds to double that, so the 150 oracle hashes cannot move
    Seq(0L, 1L, 100L, 6250L, 12500L).foreach { n =>
      assert(Text.bandingFor(n) === Banding.Default, s"n=$n")
    }
    // the driver dirs themselves resolve to the default
    assert(Text.bandingOf(spark, sfDir) === Banding.Default)
  }

  test("derivation adds one row (and one band) per corpus quadrupling, capped") {
    assert(Text.bandingFor(12501L) === Banding(5, 3))
    assert(Text.bandingFor(50000L) === Banding(5, 3)) // GenCorpus sf1
    assert(Text.bandingFor(200000L) === Banding(6, 4))
    assert(Text.bandingFor(500000L) === Banding(7, 5)) // GenCorpus sf10
    assert(Text.bandingFor(5000000L) === Banding(9, 7))
    assert(Text.bandingFor(1L << 40) === Banding(10, 8), "rows cap at 8")
  }

  test("per-row and batch minhash paths agree under a non-default construction") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("band"), col("sig")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
    Seq(Banding.Default, Banding(5, 3)).foreach { bd =>
      val reference = aggregateBands(docs, bd)
      // the landed batch stage (collected shingle hashes → minhash bank)
      val landed = rows(Text.bandRows(Text.minhashAgg(spark, sfDir, bd), bd))
      assert(landed === reference,
        s"the landed minhash stage must agree with the aggregate at $bd")
      // the per-row streaming path from the text
      val perRow = rows(Text.docBands(docs, bd))
      assert(perRow === reference,
        s"streaming per-row banding must agree with the aggregate at $bd")
      assert(rows(Text.bandIndexOf(docs, bd)) === reference)
      assert(reference.forall { case (b, s) =>
        b < bd.bands && s.count(_ == '_') == bd.rows - 1 })
    }
  }

  test("index pins its banding at init and deltas honor the pin") {
    import spark.implicits._
    val root = tempDir("banding_idx").getAbsolutePath + "/index"
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z w v u t s")).toDF("doc_id", "text")
    val delta = Seq((3L, "a b c d e f g q")).toDF("doc_id", "text")
    val bd = Banding(5, 3)
    IndexCompaction.init(spark, root, corpus, banding = bd)
    assert(IndexCompaction.indexBanding(root) === bd)
    IndexCompaction.compact(spark, root, delta)
    val expected = Text.bandIndexOf(corpus.unionAll(delta), bd).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val got = IndexCompaction.bands(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === expected,
      "epoch union must equal the one-shot index under the pinned banding")
    // bands run 0..4 (5 bands), sigs carry 3 minhashes
    assert(got.forall { case (b, s) => b < 5 && s.count(_ == '_') == 2 })
  }

  test("reband rebuilds the index under a new pin; deltas then honor it") {
    import spark.implicits._
    val root = tempDir("banding_reband").getAbsolutePath + "/index"
    val lake = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z w v u t s"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    IndexCompaction.init(spark, root, lake) // empty→derived = default 4x2
    assert(IndexCompaction.indexBanding(root) === Banding.Default)
    // the lake outgrows the pin (simulated by an explicit target)
    val bd = Banding(5, 3)
    assert(IndexCompaction.reband(spark, root, lake, bd) === bd)
    assert(IndexCompaction.indexBanding(root) === bd)
    // the rebuilt index equals a FRESH index pinned at the new banding
    val expected = Text.bandIndexOf(lake, bd).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val got = IndexCompaction.bands(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === expected)
    // a post-reband delta folds under the NEW pin and still matches
    val delta = Seq((4L, "a b c d e f g q")).toDF("doc_id", "text")
    IndexCompaction.compact(spark, root, delta)
    val all = Text.bandIndexOf(lake.unionAll(delta), bd).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val got2 = IndexCompaction.bands(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got2 === all, "delta after reband must band with the new pin")
    // drift signal: fires exactly when the derived rows exceed the pin
    assert(!IndexCompaction.rebandDrift(root, 50000L),
      "50k docs derive (5,3) — no drift against a (5,3) pin")
    assert(IndexCompaction.rebandDrift(root, 500000L),
      "500k docs derive (7,5) — drift against a (5,3) pin")
  }

  test("a pin WIDER than the scaleBands shape never truncates: the bank " +
      "is sized from the full banding, so high bands carry real sigs") {
    import spark.implicits._
    // bands=6 > scaleBands(2)=4: before the bank-sizing fix the per-row
    // path sized the bank at 4*2=8 minhashes while bands 4 and 5 read
    // elements 9..12 — with ANSI off element_at returned null and
    // concat_ws silently collapsed those sigs to "" (every arrival
    // would collide in an all-empty band and the gate dropped all)
    val bd = Banding(6, 2)
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z w v u t s"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val idx = Text.bandIndexOf(docs, bd).collect()
    assert(idx.map(_.getInt(0)).toSet === (0 until 6).toSet,
      "all 6 bands present")
    idx.foreach { r =>
      val sig = r.getString(1)
      assert(sig.count(_ == '_') == 1 && !sig.split("_").exists(_.isEmpty),
        s"band ${r.getInt(0)} sig '$sig' is truncated/empty")
    }
    // and the wide per-row path still agrees with the aggregate spelling
    assert(idx.map(r => (r.getInt(0), r.getString(1))).toSet ===
      aggregateBands(docs, bd))
  }

  test("Banding.parse validates shape and names its source") {
    assert(Banding.parse("4x2") === Banding.Default)
    assert(Banding.parse(" 7x5\n") === Banding(7, 5))
    val e1 = intercept[IllegalArgumentException] {
      Banding.parse("4x", "_banding manifest at /idx/_banding")
    }
    assert(e1.getMessage.contains("/idx/_banding"))
    val e2 = intercept[IllegalArgumentException] { Banding.parse("axb") }
    assert(e2.getMessage.contains("non-numeric"))
    val e3 = intercept[IllegalArgumentException] { Banding.parse("0x2") }
    assert(e3.getMessage.contains("positive"))
    assert(intercept[IllegalArgumentException] { Banding.parse("") }
      .getMessage.contains("expected BxR"))
  }

  test("reband holds a single-writer lease: a stale lock fails loudly, " +
      "a clean run removes its own") {
    import spark.implicits._
    val root = tempDir("banding_lease").getAbsolutePath + "/index"
    val lake = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    IndexCompaction.init(spark, root, lake)
    val lock = new java.io.File(root + ".reband_lock")
    java.nio.file.Files.writeString(lock.toPath, "stale"): Unit
    val e = intercept[IllegalStateException] {
      IndexCompaction.reband(spark, root, lake, Banding(5, 3))
    }
    assert(e.getMessage.contains("reband already in progress"))
    assert(IndexCompaction.indexBanding(root) === Banding.Default,
      "a refused reband must leave the live index untouched")
    lock.delete()
    assert(IndexCompaction.reband(spark, root, lake, Banding(5, 3)) ===
      Banding(5, 3))
    assert(!lock.exists(), "a completed reband releases its lease")
  }

  test("recoverReband repairs every reband crash shape: a lost swap is " +
      "restored, a completed swap's leftover is swept, a stranded lease " +
      "is removed, a clean boot is a no-op") {
    import spark.implicits._
    val root = tempDir("banding_recover").getAbsolutePath + "/index"
    val lake = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    IndexCompaction.init(spark, root, lake)
    val rootF = new java.io.File(root)
    val old = new java.io.File(root + ".reband_old")
    val lock = new java.io.File(root + ".reband_lock")

    // crash BETWEEN the two swap renames: live index gone, pre-reband
    // index stranded at .reband_old, lease still held
    java.nio.file.Files.move(rootF.toPath, old.toPath)
    lock.createNewFile()
    val notes = IndexCompaction.recoverReband(root)
    assert(notes.size === 2, s"expected restore + lease notes, got $notes")
    assert(IndexCompaction.epochs(root) === Seq(0L),
      "the pre-reband index must be restored as the live index")
    assert(!old.exists() && !lock.exists())
    assert(IndexCompaction.bands(spark, root).count() > 0,
      "the restored index must gate again")

    // crash AFTER the swap completed (before the old copy's cleanup):
    // both indexes exist — keep the live one, sweep the stale copy
    old.mkdirs()
    java.nio.file.Files.writeString(
      old.toPath.resolve("leftover"), "stale"): Unit
    assert(IndexCompaction.recoverReband(root).size === 1)
    assert(!old.exists(), "a completed reband's old copy must be swept")
    assert(IndexCompaction.epochs(root) === Seq(0L))

    // clean boot: nothing to repair
    assert(IndexCompaction.recoverReband(root).isEmpty)
  }

  test("an empty-seeded index floors at the default pin") {
    import spark.implicits._
    val root = tempDir("banding_empty").getAbsolutePath + "/index"
    IndexCompaction.init(spark, root,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(IndexCompaction.indexBanding(root) === Banding.Default)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.{Banding, Text}
import graft.streaming.{IndexCompaction, TextStreams}

/** The stream→landed-index compaction contract: folding landed arrivals
  * into the gate index moves bucket ownership from the streaming state
  * store to the stateless gate WITHOUT changing the service's drop set
  * (the batch q123 earlier-doc band rule is the invariant).
  */
class CompactionSpec extends SparkSpec {

  private def docsWithSource: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))

  /** Per-doc (doc_id, band, sig) rows — the same 4×2 banding every
    * operator in the dedup family uses.
    */
  private def bandRows(docs: DataFrame): DataFrame =
    Text.docBands(docs, Banding.Default)

  test("epoch mechanics: init, delta compaction, union reads, merge, races") {
    import spark.implicits._
    val root = tempDir("gate_index").toPath.toString + "/idx"
    val filler = (0 until 30).map(i => s"base$i").mkString(" ")
    val c = Seq((1L, s"one $filler")).toDF("doc_id", "text")
    IndexCompaction.init(spark, root, c)
    assert(IndexCompaction.epochs(root) === Seq(0L))
    // re-init is a no-op, not a second epoch
    IndexCompaction.init(spark, root, c)
    assert(IndexCompaction.epochs(root) === Seq(0L))
    val delta = Seq((2L, s"two $filler x y z")).toDF("doc_id", "text")
    assert(IndexCompaction.compact(spark, root, delta) === 1L)
    assert(IndexCompaction.epochs(root) === Seq(0L, 1L))
    // union view covers both epochs
    val bands = IndexCompaction.bands(spark, root)
    assert(bands.columns.toSeq === Seq("band", "sig", "owner", "m"))
    val expected = Text.bandIndexOf(c.unionAll(delta))
    // distinct over the SIGNATURE key — a (band, sig) landing in two
    // epochs rightly carries each epoch's own owner until a merge or
    // an audit min-folds them
    assert(bands.select(col("band"), col("sig")).distinct().count() ===
      expected.count())
    assert(IndexCompaction.hashes(spark, root).distinct().count() === 2L)
    // ---- MAJOR merge with a CONCURRENT READER: the reader lists the
    // pre-merge epoch set (lazy union), the merge runs, and the
    // reader's scan must still succeed with identical content — the
    // merge TOMBSTONES its sources instead of deleting them ----
    val preMergeBands = IndexCompaction.bands(spark, root) // pre-merge listing
    val merged = IndexCompaction.merge(spark, root)
    assert(IndexCompaction.epochs(root) === Seq(merged),
      "tombstoned epochs must vanish from the live listing")
    assert(preMergeBands.select(col("band"), col("sig")).distinct()
        .count() === expected.count(),
      "a reader holding the pre-merge epoch set must still read it " +
        "(grace-period deletion, not immediate)")
    assert(IndexCompaction.foldedEpochs(root) === Seq(0L, 1L),
      "merged sources are tombstoned, awaiting the next merge's sweep")
    assert(new java.io.File(root, "epoch_00000000").isDirectory &&
      new java.io.File(root, "epoch_00000001").isDirectory,
      "tombstoned epoch dirs must survive until the next merge")
    assert(IndexCompaction.bands(spark, root).count() === expected.count())
    assert(IndexCompaction.hashes(spark, root).count() === 2L)
    // the NEXT merge physically sweeps the tombstoned dirs
    val merged2 = IndexCompaction.merge(spark, root)
    assert(!new java.io.File(root, "epoch_00000000").exists() &&
      !new java.io.File(root, "epoch_00000001").exists(),
      "the next merge sweeps the previous merge's tombstoned sources")
    assert(IndexCompaction.epochs(root) === Seq(merged2))
    assert(IndexCompaction.bands(spark, root).count() === expected.count())
    // a CRASHED compaction's temp dir (this host, owner pid provably
    // dead) is swept by the next publish; a LIVE owner's in-progress
    // temp dir (pid 1 = init, always alive) and a FOREIGN host's temp
    // dir (its pid is meaningless in the local /proc) must survive
    import graft.operators.Materialize
    val crashed = new java.io.File(root,
      s"epoch_99999999.tmp_987654321_${Materialize.hostTag}_1")
    val live = new java.io.File(root,
      s"epoch_99999998.tmp_1_${Materialize.hostTag}_1")
    val foreign = new java.io.File(root,
      "epoch_99999997.tmp_987654321_some-other-host_1")
    crashed.mkdirs(); live.mkdirs(); foreign.mkdirs()
    IndexCompaction.compact(spark, root,
      Seq((3L, s"three $filler p q r")).toDF("doc_id", "text"))
    assert(!crashed.exists(), "stale temp dir must be swept")
    assert(live.exists(), "a live concurrent compaction's temp dir " +
      "must never be deleted from under it")
    assert(foreign.exists(), "a foreign host's temp dir must never be " +
      "swept — its pid is meaningless in the local /proc")
    live.delete(); foreign.delete(): Unit
  }

  test("gate over the compacted index drops near-dups, exact dups and short exact dups of landed arrivals") {
    import spark.implicits._
    val root = tempDir("gate_index2").toPath.toString + "/idx"
    val longA = (0 until 40).map(i => s"alpha$i").mkString(" ")
    IndexCompaction.init(spark, root,
      Seq((100L, longA)).toDF("doc_id", "text"))
    // arrivals land in the lake, then a MINOR compaction folds them in
    val landed = Seq((200L, (0 until 40).map(i => s"beta$i").mkString(" ")),
      (201L, "tiny doc")).toDF("doc_id", "text")
    IndexCompaction.compact(spark, root, landed)
    val probes = Seq(
      (1L, longA),                                        // dup of epoch-0 doc
      (2L, (0 until 40).map(i => s"beta$i").mkString(" ")), // dup of delta doc
      (3L, "beta0 " + (1 until 40).map(i => s"beta$i").mkString(" ")
        .replace("beta39", "changed")),                   // near-dup of delta doc
      (4L, "tiny doc"),                                   // SHORT exact dup: hash layer only
      (5L, (0 until 40).map(i => s"nu$i").mkString(" ")), // novel
      (6L, "wee words"))                                  // short novel
      .toDF("doc_id", "text")
      .withColumn("eventTime", to_timestamp(lit("2025-08-03T13:00:00Z")))
    val passed = IndexCompaction.gate(spark, root, probes)
      .collect().map(_.getLong(0)).toSet
    assert(passed === Set(5L, 6L),
      "dups/near-dups of BOTH epochs drop (incl. the short exact dup via " +
        "the hash layer); novel docs pass")
  }

  test("handoff invariant: identical drop set immediately before and after compaction (q123 rule)") {
    withRocksDb {
      import spark.implicits._
      val all = docsWithSource
      val corpus = all.filter(col("source") === "src0")
        .select(col("doc_id"), col("text"))
      val rest = all.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id")).as[(Long, String)].collect().toSeq
      assert(rest.forall(_._2.split(" ").length >= 3),
        "fixture docs must all band (the exact-hash layer then coincides " +
          "with the band rule, keeping the LSH invariant exact)")
      val (a, b) = rest.splitAt(rest.size / 2)
      val bDf = b.toDF("doc_id", "text")
        .withColumn("eventTime", to_timestamp(lit("2025-08-03T13:00:00Z")))

      // ---- truth: the q123 earlier-doc band rule over arrival order
      // corpus+A (all earlier) then B in doc_id order ----
      val ranked = bandRows(corpus.unionAll(a.toDF("doc_id", "text")))
        .withColumn("rnk", lit(-1L))
        .unionAll(bandRows(b.toDF("doc_id", "text"))
          .withColumn("rnk", col("doc_id")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "sig")
      val expected = ranked
        .withColumn("mn", min(col("rnk")).over(w))
        .filter(col("rnk") > lit(-1L) && col("mn") < col("rnk"))
        .select(col("doc_id")).distinct().as[Long].collect().toSet
      assert(expected.nonEmpty, "fixture must contain cross-phase near-dups")

      def streamColl(feeds: Seq[Seq[(Long, String)]], name: String): Set[Long] = {
        val mem = MemoryStream[(Long, String)](spark)
        val q = TextStreams.streamingLshCollisions(
          spark, mem.toDF().toDF("doc_id", "text"))
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append).start()
        try {
          feeds.foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
          spark.table(name).select(col("docId")).as[Long].collect().toSet
        } finally q.stop()
      }
      def gateDrops(root: String): Set[Long] = {
        val passed = IndexCompaction.gate(spark, root, bDf)
          .collect().map(_.getLong(0)).toSet
        b.map(_._1).toSet -- passed
      }

      // ---- BEFORE compaction: index holds only the corpus; the stream
      // state covers A (it arrived through the same standing query) ----
      val root = tempDir("gate_index3").toPath.toString + "/idx"
      IndexCompaction.init(spark, root, corpus)
      val beforeStream = streamColl(
        Seq(a, b.take(b.size / 2), b.drop(b.size / 2)), "coll_before")
        .filter(b.map(_._1).toSet)
      val dropsBefore = gateDrops(root) ++ beforeStream

      // ---- compaction: A has landed; fold it into the index. The
      // stream forgets A (fresh state = what the TTL horizon ages out) ----
      IndexCompaction.compact(spark, root, a.toDF("doc_id", "text"))
      val afterStream = streamColl(
        Seq(b.take(b.size / 2), b.drop(b.size / 2)), "coll_after")
      val dropsAfter = gateDrops(root) ++ afterStream

      assert(dropsBefore === expected,
        "pre-compaction service (gate vs corpus + stream state over A) " +
          "must drop exactly the q123 rule's set")
      assert(dropsAfter === expected,
        "post-compaction service (gate vs corpus∪A + fresh stream) must " +
          "drop the SAME set — ownership moved, the decision didn't")
    }
  }

  test("arrivalAudit over the landed index: full-corpus audit equals " +
      "q123 row-for-row; a delta audit reads the epochs, costs O(delta), " +
      "and survives a MAJOR merge") {
    import spark.implicits._
    val docs = docsWithSource.select(col("doc_id"), col("text"))
    val root = tempDir("audit_idx").toPath.toString + "/idx"
    IndexCompaction.init(spark, root, docs)

    // ---- full-corpus audit == q123 (owner, n_bands_hit and all) ----
    val expected = Text.arrivalDedup(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSeq
    val got = IndexCompaction.arrivalAudit(spark, root, docs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === expected,
      "index-backed audit must reproduce the q123 decision table exactly")
    assert(expected.nonEmpty, "fixture corpus must contain near-dups")
    // the SELF-audit (landed batch bands + solo-bucket skip) agrees too
    val bd = Text.bandingOf(spark, sfDir)
    val self = IndexCompaction.arrivalSelfAudit(spark, root,
      Text.bandRows(Text.minhashAgg(spark, sfDir, bd), bd))
      .as[(Long, Long, Long)].collect().toSeq
    assert(self === expected,
      "self-audit from the batch aggregate must match the q123 table")

    // ---- O(delta): auditing a doc subset returns exactly the full
    // audit restricted to those docs (decisions vs the WHOLE index,
    // not vs the delta) ----
    val cut = docs.agg(expr("percentile_approx(doc_id, 0.8)")).head().getLong(0)
    val delta = docs.filter(col("doc_id") > cut)
    val deltaGot = IndexCompaction.arrivalAudit(spark, root, delta)
      .as[(Long, Long, Long)].collect().toSeq
    assert(deltaGot === expected.filter(_._1 > cut),
      "delta audit = full audit restricted to the delta docs")

    // ---- the audit decisions are merge-invariant: min-folded owners
    // across epochs equal the single-segment owners ----
    IndexCompaction.compact(spark, root,
      Seq((999999999L, docs.orderBy(col("doc_id")).first().getString(1)))
        .toDF("doc_id", "text"))
    // TWO live epochs: the audit's cross-epoch owners fold (min owner,
    // summed m) must leave every original decision unchanged — the
    // late duplicate owns nothing
    val twoEpochs = IndexCompaction.arrivalAudit(spark, root, docs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(twoEpochs === expected,
      "a delta epoch with a LATER duplicate must not change any decision")
    IndexCompaction.merge(spark, root): Unit
    val afterMerge = IndexCompaction.arrivalAudit(spark, root, docs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(afterMerge === expected,
      "a merged index (owners min-folded) must not change any decision")
  }

  test("crash DURING merge: a merge killed mid-tombstoning (and one " +
      "killed right after publish) leaves unchanged gate decisions, " +
      "and the recovery merge double-folds the stragglers") {
    import spark.implicits._
    val root = tempDir("gate_index4").toPath.toString + "/idx"
    val filler = (0 until 30).map(i => s"crash$i").mkString(" ")
    IndexCompaction.init(spark, root,
      Seq((1L, s"one $filler")).toDF("doc_id", "text"))
    IndexCompaction.compact(spark, root,
      Seq((2L, s"two $filler a b c")).toDF("doc_id", "text"))
    IndexCompaction.compact(spark, root,
      Seq((3L, s"three $filler p q r")).toDF("doc_id", "text"))
    def bandSet(): Set[(Int, String)] =
      IndexCompaction.bands(spark, root)
        .select(col("band"), col("sig")).distinct()
        .as[(Int, String)].collect().toSet
    def hashSet(): Set[String] =
      IndexCompaction.hashes(spark, root).distinct()
        .as[String].collect().toSet
    def gatePassed(): Set[Long] = {
      val probes = Seq(
        (10L, s"one $filler"),          // dup of epoch-0 doc
        (11L, s"two $filler a b c"),    // dup of delta-1 doc
        (12L, s"three $filler p q r"),  // dup of delta-2 doc
        (13L, (0 until 40).map(i => s"novel$i").mkString(" ")))
        .toDF("doc_id", "text")
        .withColumn("eventTime", to_timestamp(lit("2025-08-03T13:00:00Z")))
      IndexCompaction.gate(spark, root, probes)
        .collect().map(_.getLong(0)).toSet
    }
    val cleanBands = bandSet(); val cleanHashes = hashSet()
    assert(gatePassed() === Set(13L))

    // real merge: epoch 3 published, sources 0/1/2 tombstoned …
    val merged = IndexCompaction.merge(spark, root)
    // … then SIMULATE the crash mid-tombstoning by un-tombstoning the
    // LAST source (its marker "never got written"): the exact on-disk
    // state of a merge killed between marker writes
    val marker = new java.io.File(root, "epoch_00000002").listFiles()
      .find(_.getName == "_graft_folded").get
    assert(marker.delete())
    assert(IndexCompaction.epochs(root) === Seq(2L, merged),
      "the un-tombstoned source is live again next to the merged segment")
    // the union now carries epoch-2's rows TWICE (source + merged) —
    // the duplicate-insensitive reads and the gate must not care
    assert(bandSet() === cleanBands && hashSet() === cleanHashes,
      "distinct index content unchanged in the crash state")
    assert(gatePassed() === Set(13L),
      "gate decisions unchanged while a straggler source is live")

    // recovery = simply the NEXT merge: folds {straggler, merged} into
    // one segment (the double-fold path) and sweeps the old tombstones
    val recovered = IndexCompaction.merge(spark, root)
    assert(IndexCompaction.epochs(root) === Seq(recovered))
    assert(IndexCompaction.foldedEpochs(root) === Seq(2L, merged),
      "both the straggler and the first merge's segment are tombstoned")
    assert(!new java.io.File(root, "epoch_00000000").exists() &&
      !new java.io.File(root, "epoch_00000001").exists(),
      "the recovery merge swept the first merge's completed tombstones")
    assert(bandSet() === cleanBands && hashSet() === cleanHashes,
      "recovered index content identical")
    assert(gatePassed() === Set(13L), "gate decisions unchanged after recovery")

    // the OTHER crash window: killed right after publish, BEFORE any
    // tombstoning — every source still live next to the merged segment
    val merged3 = IndexCompaction.merge(spark, root) // clean slate: one epoch
    new java.io.File(root, epochDirName(merged3))
      .listFiles().find(_.getName == "_graft_folded")
      .foreach(f => assert(f.delete())) // (not tombstoned; defensive)
    IndexCompaction.compact(spark, root,
      Seq((4L, s"four $filler x y z")).toDF("doc_id", "text"))
    val withFour = bandSet()
    val merged4 = IndexCompaction.merge(spark, root)
    // un-tombstone EVERY source of merge4: the publish-then-die state
    IndexCompaction.foldedEpochs(root).foreach { e =>
      assert(new java.io.File(new java.io.File(root, epochDirName(e)),
        "_graft_folded").delete())
    }
    assert(IndexCompaction.epochs(root).size === 3,
      "all sources live again next to the merged segment")
    assert(bandSet() === withFour && gatePassed() === Set(13L),
      "decisions unchanged with every row duplicated")
    val recovered2 = IndexCompaction.merge(spark, root)
    assert(IndexCompaction.epochs(root) === Seq(recovered2) &&
      bandSet() === withFour,
      "recovery folds every straggler and the content is unchanged")
    assert(merged4 > merged3 && recovered2 > merged4)
  }

  test("a legacy (band, sig)-only epoch fails compact/merge/audit LOUDLY " +
      "— mixed epoch schemas must never silently null the audit columns") {
    import spark.implicits._
    val root = tempDir("gate_index_legacy").toPath.toString + "/idx"
    val filler = (0 until 30).map(i => s"leg$i").mkString(" ")
    IndexCompaction.init(spark, root,
      Seq((1L, s"one $filler")).toDF("doc_id", "text"))
    IndexCompaction.compact(spark, root,
      Seq((2L, s"two $filler a b c")).toDF("doc_id", "text"))
    // regress epoch 1's bands to the pre-(owner, m) layout — the
    // on-disk state a pre-upgrade index (or a crashed partial upgrade)
    // presents: schema sampling then reads legacy rows' owner/m as
    // null and min(owner) silently skips them
    val bandsDir = new java.io.File(root, s"${epochDirName(1L)}/bands")
    val legacyRows = spark.read.parquet(bandsDir.getPath)
      .select(col("band"), col("sig")).as[(Int, String)].collect().toSeq
    graft.operators.Materialize.deleteRecursively(bandsDir)
    legacyRows.toDF("band", "sig").write.parquet(bandsDir.getPath)

    def mustRefuse(op: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("audit schema") &&
        e.getMessage.contains("reband"),
        s"$op must name the schema problem and the fix, got: ${e.getMessage}")
    }
    mustRefuse("compact")(IndexCompaction.compact(spark, root,
      Seq((3L, s"three $filler p q r")).toDF("doc_id", "text")))
    mustRefuse("merge")(IndexCompaction.merge(spark, root))
    mustRefuse("audit")(IndexCompaction.arrivalAudit(spark, root,
      Seq((9L, s"one $filler")).toDF("doc_id", "text")).collect())
    // the GATE keeps working on the mixed index — its anti-joins
    // project only (band, sig), which every epoch carries
    val probe = Seq(
      (10L, s"two $filler a b c"),
      (13L, (0 until 40).map(i => s"fresh$i").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("eventTime", to_timestamp(lit("2025-08-03T13:00:00Z")))
    assert(IndexCompaction.gate(spark, root, probe)
      .collect().map(_.getLong(0)).toSet === Set(13L),
      "gating never needed the audit columns")
    // reband (the directed fix) heals the index: audits work again
    IndexCompaction.reband(spark, root,
      Seq((1L, s"one $filler"), (2L, s"two $filler a b c"))
        .toDF("doc_id", "text"))
    assert(IndexCompaction.arrivalAudit(spark, root,
      Seq((9L, s"one $filler")).toDF("doc_id", "text")).count() === 1L)
  }

  private def epochDirName(n: Long) = f"epoch_$n%08d"
}

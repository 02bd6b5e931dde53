package graft

import org.apache.spark.sql.functions._
import graft.streaming.{IndexCompaction, IngestLoop}

/** One-command deployment entry point for the dedup ingest service:
  *
  *   runMain graft.DedupService <serviceRoot> <streamDir>
  *       [--corpus <parquet>] [--interval-ms N] [--max-cycles N]
  *       [--files-per-trigger N]
  *
  * Runs the composed ingest loop ([[graft.streaming.IngestLoop]]) as a
  * scheduled service until signalled: every interval it collects the
  * parquet files that ARRIVED in `streamDir` since the last cycle,
  * runs them through gate → admit → exactly-once landing → MINOR
  * compaction, and prints one JSON telemetry line per cycle (the same
  * fields StreamBench's `ingest_loop` stage artifacts). Every 4th
  * cycle it also runs the MAJOR merge (the epoch-fold cadence
  * GateRebuildBench prices). An empty interval is a no-op cycle.
  *
  * Stop by touching `<serviceRoot>/STOP` (or let `--max-cycles` end a
  * bounded run, the smoke/bench mode). State layout under
  * `<serviceRoot>`: `index/` (the epoch-segmented gate index),
  * `landed/cycle_<n>/` (the admitted docs, one batch_id partition per
  * micro-batch), `work/cycle_<n>/` (the cycle's input set as a
  * `_manifest.json` of (name, path, size, mtime) plus zero-copy links
  * — the lake's files are immutable, so no bytes are duplicated).
  *
  * The index starts from `--corpus` (a parquet of (doc_id, text) the
  * dataset already owns) or empty. Restart recovery is two-level: a
  * cycle that FINISHED (its work dir carries the `_cycle_done`
  * marker) lives on in the index, so the restart just skips its
  * files; a cycle killed MID-RUN is finished first, resuming from its
  * per-cycle streaming checkpoint — offsets and band-ownership state
  * restore, the in-flight batch replays into its own batch_id
  * partition (idempotent overwrite), and the compaction then folds
  * the landed set (semantics pinned in IngestLoopSpec's kill-resume
  * test).
  */
object DedupService {

  /** Numeric cycle index of a work dir ("cycle_12" → 12). Sorting by
    * THIS — never by name — is load-bearing: past ten cycles
    * "cycle_10" sorts lexicographically before "cycle_2", so a restart
    * trusting string order would resume the wrong dir (or silently
    * drop the interrupted cycle, whose files are already claimed).
    */
  private[graft] def cycleNum(d: java.io.File): Long =
    d.getName.stripPrefix("cycle_").toLong

  /** The service's work dirs in ascending NUMERIC cycle order. Only
    * exact `cycle_<digits>` names qualify — a stray `cycle_0.bak` or
    * `cycle_tmp` an operator leaves beside the real dirs must not
    * crash the restart scan's numeric parse.
    */
  private[graft] def workDirsOf(root: String): IndexedSeq[java.io.File] =
    Option(new java.io.File(root, "work").listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.matches("cycle_\\d+"))
      .sortBy(cycleNum).toIndexedSeq

  /** Arrival file names already claimed by past cycles: the UNION of
    * each dir's `_manifest.json` names (the zero-copy claim record)
    * and its `*.parquet` listing (symlinks in the zero-copy format,
    * real files in the legacy copy format). The union — not
    * manifest-wins — is deliberate crash hardening: symlinks are
    * created BEFORE the manifest lands (atomically, see
    * [[claimByManifest]]), so a dir killed between the two still
    * claims exactly the files it linked instead of silently releasing
    * them for a double claim.
    */
  private[graft] def claimedNames(dirs: Seq[java.io.File]): Set[String] = {
    val out = scala.collection.mutable.Set[String]()
    dirs.foreach { d =>
      val mf = new java.io.File(d, "_manifest.json")
      if (mf.isFile)
        "\"name\":\"((?:[^\"\\\\]|\\\\.)+)\"".r
          .findAllMatchIn(java.nio.file.Files.readString(mf.toPath))
          .foreach(m => out += m.group(1)
            .replace("\\\"", "\"").replace("\\\\", "\\"))
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => out += f.getName)
    }
    out.toSet
  }

  /** Claim `fresh` arrivals into `workDir` WITHOUT copying bytes:
    * write a `_manifest.json` of (name, path, size, mtime) — the
    * authoritative, restart-deterministic input-set record (the lake's
    * files are immutable) — and symlink each file so the per-cycle
    * streaming source keeps its one-directory contract. At 100 TB a
    * per-cycle byte copy would double ingest I/O; on a real lake the
    * manifest's paths would feed the source directly.
    */
  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private[graft] def claimByManifest(fresh: Seq[java.io.File],
      workDir: java.io.File): Unit = {
    val manifest = fresh.map { f =>
      java.nio.file.Files.createSymbolicLink(
        workDir.toPath.resolve(f.getName), f.toPath.toAbsolutePath): Unit
      // names/paths are JSON-escaped: the manifest is the authoritative
      // claim record, and a quote in a file name must not corrupt it
      s"""{"name":${jstr(f.getName)},"path":${jstr(f.getAbsolutePath)},""" +
        s""""size":${f.length},"mtime":${f.lastModified}}"""
    }.mkString("[", ",", "]")
    // land the manifest ATOMICALLY (tmp name + ATOMIC_MOVE): a crash
    // mid-write must never leave a truncated `_manifest.json` that a
    // restart would read as an authoritative — and smaller — claim set
    val tmp = workDir.toPath.resolve(".manifest.tmp")
    java.nio.file.Files.writeString(tmp, manifest): Unit
    java.nio.file.Files.move(tmp, workDir.toPath.resolve("_manifest.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: DedupService <serviceRoot> <streamDir> [--corpus p] " +
        "[--interval-ms N] [--max-cycles N] [--files-per-trigger N] " +
        "[--auto-reband] [--banding BxR]")
    val root = args(0)
    val streamDir = args(1)
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val intervalMs = opt("--interval-ms").map(_.toLong).getOrElse(5000L)
    val maxCycles = opt("--max-cycles").map(_.toInt).getOrElse(Int.MaxValue)
    // amortizes the ~1 s/micro-batch fixed drain cost at high arrival
    // rates. Admit decisions are trigger-size-invariant (IngestLoopSpec)
    // ONLY while file arrival order matches doc_id order (true of every
    // slicer here): in-batch ties go to MIN doc_id, cross-batch ties to
    // first arrival — see IngestLoop.runCycle. Out-of-order lakes that
    // need the exact fpt=1 survivor set should leave this at 1.
    val filesPerTrigger =
      opt("--files-per-trigger").map(_.toInt).getOrElse(1)
    // close the banding lifecycle loop IN the service: when the lake
    // has outgrown the index's pinned construction, run the reband
    // migration between cycles (the maintenance window the pin's
    // contract demands — no gate construction is in flight here).
    // Off by default: a production operator may prefer to schedule
    // the full-lake rebuild in a quiet window instead.
    val autoReband = args.contains("--auto-reband")
    // size the index for its TARGET corpus, not its seed: a service
    // booted with an empty/small --corpus but a known lake-scale target
    // must band at the target's depth or q123-equivalence breaks (the
    // init doc's "Size a long-lived production index for its TARGET
    // corpus" contract, exposed as the operator knob it implies)
    val banding = opt("--banding")
      .map(operators.Banding.parse(_, "--banding flag"))
      .getOrElse(operators.Banding.Auto)

    val spark = GraftSession.local(appName = "dedup-service")
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.useRocksDbState(spark, changelog = false)

    // pid file for operators (stop scripts, the kill-resume smoke):
    // the forked JVM's cmdline hides the main class behind an @argfile,
    // so pattern-matching process kills are unreliable — kill this pid
    new java.io.File(root).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(root, "service.pid"),
      ProcessHandle.current().pid().toString): Unit

    val idxRoot = s"$root/index"
    val landRoot = s"$root/landed"
    val corpus = opt("--corpus") match {
      case Some(p) => spark.read.parquet(p).select(col("doc_id"), col("text"))
      case None =>
        import spark.implicits._
        Seq.empty[(Long, String)].toDF("doc_id", "text")
    }
    // a crashed auto-reband must be repaired BEFORE init: a crash
    // between reband's two swap renames leaves no live index, and a
    // bare init would silently rebuild epoch 0 from the base corpus
    // alone — landed docs vanish from the gate and their near-dups get
    // re-admitted; a stranded reband lease would crash-loop every
    // later drift-triggered reband
    IndexCompaction.recoverReband(idxRoot).foreach(note =>
      println(s"""{"service":"dedup","reband_recovery":${jstr(note)}}"""))
    // belt-and-braces for a genuinely lost index (recovery found
    // nothing to restore): seed the rebuild from corpus ∪ landed — the
    // lake the index is supposed to gate — never the base corpus alone
    val seed =
      if (IndexCompaction.epochs(idxRoot).isEmpty &&
          IngestLoop.hasLanded(landRoot))
        corpus.unionByName(IngestLoop.landedAll(spark, landRoot))
      else corpus
    IndexCompaction.init(spark, idxRoot, seed, banding)

    // resume: files already claimed by a previous incarnation's cycle
    // are recorded in that cycle's _manifest.json — the authoritative
    // input-set record (the lake's files are immutable, so the
    // manifest alone pins the cycle's input without copying a byte).
    // Cycle order is NUMERIC (see cycleNum) so a restart past cycle 10
    // resumes the true latest dir, not the lexicographic maximum.
    val workDirs = workDirsOf(root)
    val processed = scala.collection.mutable.Set[String]()
    processed ++= claimedNames(workDirs)
    var cycle = workDirs.lastOption.map(cycleNum(_) + 1).getOrElse(0L).toInt
    // a cycle killed mid-run left its work dir without the done
    // marker: FINISH it first (resume from its per-cycle checkpoint —
    // offsets + ownership state restore, replayed batches overwrite
    // their own batch_id partitions, then the compaction folds the
    // landed set; IngestLoopSpec pins the semantics)
    workDirs.lastOption
      .filterNot(d => new java.io.File(d, "_cycle_done").isFile)
      .foreach { d =>
        val c = cycleNum(d)
        val hasData = Option(d.listFiles()).getOrElse(Array.empty)
          .exists(_.getName.endsWith(".parquet"))
        if (!hasData) {
          // a kill between mkdirs and the first claim left an empty
          // shell: nothing was claimed, the arrivals are still
          // unclaimed in streamDir — mark the shell done (an empty
          // cycle) instead of poisoning every restart with an
          // unreadable parquet read (the landed-dir twin of the
          // zero-admit fix in IngestLoop)
          java.nio.file.Files.writeString(
            d.toPath.resolve("_cycle_done"), "empty"): Unit
          println(s"""{"service":"dedup","resumed_cycle":$c,""" +
            s""""landed":0,"folded":0,"note":"empty claim shell"}""")
        } else {
          val cycDf = spark.read.parquet(d.getAbsolutePath)
          val st = IngestLoop.runCycle(spark, idxRoot, landRoot, c.toInt,
            d.getAbsolutePath, cycDf.schema, cycDf.count(),
            Some(s"$root/ckpt/cycle_$c"), filesPerTrigger)
          java.nio.file.Files.writeString(
            d.toPath.resolve("_cycle_done"), "done"): Unit
          println(s"""{"service":"dedup","resumed_cycle":$c,""" +
            s""""landed":${st.landed},"folded":${st.folded}}""")
        }
      }
    // index-size running total for the reband-drift signal: the index
    // owns the base corpus plus everything landed since. Seeded AFTER
    // the crashed-cycle resume — the resumed cycle's landings are on
    // disk by now, so the total counts them (seeding before the resume
    // undercounted the lake by the resumed cycle's docs, muting the
    // drift signal until the next restart). Only the nothing-landed-yet
    // case reads as 0 — a real read failure propagates (swallowing it
    // would silently under-count and suppress reband_drift)
    var indexDocs = corpus.count() +
      (if (IngestLoop.hasLanded(landRoot))
        IngestLoop.landedAll(spark, landRoot).count()
      else 0L)
    val stopFile = new java.io.File(root, "STOP")
    while (!stopFile.exists() && cycle < maxCycles) {
      val t0 = System.currentTimeMillis()
      val fresh = Option(new java.io.File(streamDir).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
          !processed.contains(f.getName))
        .sortBy(_.getName)
      if (fresh.nonEmpty) {
        val workDir = new java.io.File(root, s"work/cycle_$cycle")
        workDir.mkdirs()
        claimByManifest(fresh.toIndexedSeq, workDir)
        fresh.foreach(f => processed += f.getName)
        val cycDf = spark.read.parquet(workDir.getAbsolutePath)
        val st = IngestLoop.runCycle(spark, idxRoot, landRoot, cycle,
          workDir.getAbsolutePath, cycDf.schema, cycDf.count(),
          Some(s"$root/ckpt/cycle_$cycle"), filesPerTrigger)
        java.nio.file.Files.writeString(
          workDir.toPath.resolve("_cycle_done"), "done"): Unit
        indexDocs += st.landed
        // reband drift: correctness-neutral (the pin keeps gating
        // consistently) but the occupancy bound erodes as the lake
        // outgrows the founding construction — surface it per cycle so
        // an operator schedules IndexCompaction.reband in a window
        val drift = IndexCompaction.rebandDrift(idxRoot, indexDocs)
        val mergeS =
          if (cycle % 4 == 3) {
            val tM = System.nanoTime()
            IndexCompaction.merge(spark, idxRoot)
            (System.nanoTime() - tM) / 1e9
          } else -1.0
        println(
          s"""{"service":"dedup","cycle":$cycle,"files":${fresh.length},""" +
          s""""arrivals":${st.arrivals},"gate_admitted":${st.gateAdmitted},""" +
          s""""admitted":${st.admitted},"landed":${st.landed},""" +
          s""""folded":${st.folded},"epochs":${st.epochsAfter},""" +
          f""""gate_build_s":${st.gateBuildS}%.2f,""" +
          f""""drain_s":${st.drainWallS}%.2f,""" +
          f""""compact_s":${st.compactS}%.2f,""" +
          (if (mergeS < 0) """"merge_s":-1,"""
           else f""""merge_s":$mergeS%.2f,""") +
          s""""index_docs":$indexDocs,"reband_drift":$drift}""")
        // BETWEEN cycles (the single-writer maintenance window): the
        // drift signal just fired and no gate is under construction —
        // rebuild the index from the full lake under the corpus-derived
        // construction. Later cycles gate and band under the new pin;
        // the landed set is unchanged (reband rewrites signatures, not
        // docs), so landed_total == q123 keep still holds across it.
        if (autoReband && drift) {
          val tR = System.nanoTime()
          val lake =
            if (IngestLoop.hasLanded(landRoot))
              corpus.unionByName(IngestLoop.landedAll(spark, landRoot))
            else corpus
          // a held lease (another maintenance job, or an operator who
          // forgot one) is a SKIP, not a death: drift is re-signalled
          // every cycle, so the reband retries next interval instead of
          // crash-looping the whole ingest service on a lock file
          try {
            val bd = IndexCompaction.reband(spark, idxRoot, lake)
            println(s"""{"service":"dedup","cycle":$cycle,""" +
              s""""rebanded":"$bd","lake_docs":$indexDocs,""" +
              f""""reband_s":${(System.nanoTime() - tR) / 1e9}%.2f}""")
          } catch {
            case e: IllegalStateException =>
              println(s"""{"service":"dedup","cycle":$cycle,""" +
                s""""reband_skipped":${jstr(e.getMessage)}}""")
          }
        }
        cycle += 1
      }
      val elapsed = System.currentTimeMillis() - t0
      if (!stopFile.exists() && cycle < maxCycles && elapsed < intervalMs)
        Thread.sleep(intervalMs - elapsed)
    }
    if (stopFile.exists())
      println(s"""{"service":"dedup","stopped":"STOP file","cycles":$cycle}""")
    spark.stop()
  }
}

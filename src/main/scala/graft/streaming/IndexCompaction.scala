package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Banding, Materialize, Text}

/** Stream→landed-index COMPACTION: the batch job that closes the dedup
  * service's lifecycle loop. A continuously-running near-dup service is
  * two operators plus this handoff:
  *
  *  - [[gate]] drops arrivals colliding with the LANDED corpus
  *    (stateless stream-static anti-joins on this index);
  *  - [[TextStreams.streamingLshCollisions]] flags arrivals colliding
  *    with EARLIER ARRIVALS (first-arrival bucket ownership in the
  *    state store, TTL'd to the compaction interval);
  *  - this job, run per compaction interval, folds the docs that have
  *    LANDED in the lake since the last run into the gate's index — at
  *    which point the gate owns their buckets and the stream's TTL can
  *    forget them. Drop-set equality across the handoff (an arrival
  *    drops iff it shares a band signature with the landed corpus OR an
  *    earlier arrival — the batch q123 rule) is spec-pinned in
  *    CompactionSpec: the service drops the SAME docs immediately
  *    before and after a compaction.
  *
  * Index layout (one root dir = one gate index):
  * {{{
  *   root/epoch_00000000/bands/   (band, sig, owner BIGINT, m BIGINT)
  *   root/epoch_00000000/hashes/  (h STRING)               parquet
  *   root/epoch_00000001/...                               (delta)
  * }}}
  * `owner` is the arrival-order bucket owner (minimum doc_id per band
  * signature within the epoch; MIN across epochs = the corpus bucket
  * owner) and `m` the bucket size (SUM across epochs). The gate's
  * anti-joins project `sig` and never read them; they exist so the
  * landed index doubles as the arrival-order audit oracle
  * ([[arrivalAudit]] / [[arrivalSelfAudit]]) — a re-audit reads the
  * epochs instead of re-deriving a corpus-sized banded aggregate.
  *
  * Spark-first scale story: a MINOR compaction appends a delta epoch
  * holding ONLY the newly-landed docs' bands/hashes — O(new docs), not
  * O(corpus), per interval. Readers union all published epochs; the
  * gate's left-anti joins are insensitive to duplicate rows across
  * epochs, so deltas never need dedup against history. A MAJOR
  * compaction (run rarely, when the segment count hurts scan planning)
  * folds every epoch into one distinct segment. At 100 TB the index is
  * O(4·docs) 8-byte-signature rows — lake-table-sized metadata, not
  * corpus-sized data — and every operation here is a scan + distinct,
  * no joins.
  *
  * Publish is ATOMIC per epoch (temp dir + rename, the
  * [[graft.operators.Materialize]] contract): a gate constructed
  * mid-compaction reads the old epoch set; the next gate restart reads
  * the new one. A crashed compaction leaves only a `.tmp_` dir that the
  * next run sweeps (only when the temp's embedded host matches this
  * machine and its owner pid is provably dead — shared storage).
  *
  * MAJOR-merge vs concurrent-reader safety: a merge never deletes the
  * epochs it folded — it TOMBSTONES them (a `_folded` marker; readers
  * listing afterwards skip them) and the NEXT merge physically sweeps
  * them. A reader that listed the pre-merge epoch set therefore keeps
  * a full merge interval (the run-rarely cadence) to finish its reads
  * against dirs that still exist; a reader listing after the tombstone
  * sees only the merged segment — identical content either way.
  * Belt-and-braces, [[union]] also re-lists and retries once if its
  * read trips on a path a (doubly-delayed) sweep removed.
  */
object IndexCompaction {

  private def epochName(n: Long) = f"epoch_$n%08d"

  /** Marker dropped into an epoch dir by the merge that folded it:
    * readers skip the epoch (its content lives on in the merged
    * segment) but the dir survives until the NEXT merge's sweep — the
    * grace period that lets an in-flight reader of the old epoch set
    * finish.
    */
  private val Folded = "_graft_folded"

  /** Published epoch numbers under `root` whose `Folded` marker is
    * present iff `folded`, ascending. A dir counts only once fully
    * renamed into place (atomic publish), so a reader never sees a
    * half-written epoch.
    */
  private def epochsWhere(root: String, folded: Boolean): Seq[Long] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("epoch_") &&
        !f.getName.contains(".tmp_") &&
        new java.io.File(f, Folded).isFile == folded)
      .flatMap(f => f.getName.stripPrefix("epoch_").toLongOption)
      .sorted.toSeq

  /** LIVE epoch numbers under `root`, ascending; epochs tombstoned by a
    * merge are excluded (their content is in the merged segment).
    */
  def epochs(root: String): Seq[Long] = epochsWhere(root, folded = false)

  /** Epoch numbers tombstoned by a previous merge and awaiting the next
    * merge's physical sweep (grace-period dirs).
    */
  private[graft] def foldedEpochs(root: String): Seq[Long] =
    epochsWhere(root, folded = true)

  /** Write `(bands, hashes)` as epoch `n` under `root`, atomically.
    * Returns true if OUR rename published the epoch, false if another
    * publisher already holds that epoch number (our copy is discarded —
    * the CALLER decides whether to retry under a fresh number; unlike
    * Materialize's same-key races, two compactions' deltas are NOT
    * interchangeable content).
    */
  private def publish(root: String, n: Long, bands: DataFrame,
      hashes: DataFrame): Boolean = {
    val rootF = new java.io.File(root)
    rootF.mkdirs()
    // sweep temp dirs from CRASHED compactions only (the Materialize
    // fail-safe contract: our naming pattern AND an owner pid that is
    // provably dead — a live concurrent compaction's in-progress temp
    // dir must never be deleted from under it)
    Option(rootF.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains(".tmp_") &&
        Materialize.isStaleShared(f))
      .foreach(Materialize.deleteRecursively)
    val tmp = new java.io.File(rootF, Materialize.tmpName(epochName(n)))
    bands.write.mode("overwrite").parquet(s"$tmp/bands")
    hashes.write.mode("overwrite").parquet(s"$tmp/hashes")
    try {
      java.nio.file.Files.move(tmp.toPath,
        new java.io.File(rootF, epochName(n)).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      // lost the rename race for this epoch number — discard our copy
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException |
           _: java.nio.file.FileSystemException
          if new java.io.File(rootF, epochName(n)).isDirectory =>
        Materialize.deleteRecursively(tmp)
        false
    }
  }

  /** Publish under the first free epoch number at or above `from`. */
  private def publishRetrying(root: String, from: Long, bands: DataFrame,
      hashes: DataFrame): Long = {
    var n = from
    while (!publish(root, n, bands, hashes))
      n = math.max(n + 1, epochs(root).lastOption.getOrElse(n) + 1L)
    n
  }

  /** The banding manifest: the index's LSH construction, pinned at
    * [[init]] and read by every later delta/gate — a lake that grows
    * across the corpus-derived threshold must NOT silently split one
    * index across two constructions (a delta banded (5,3) matches
    * nothing in a (4,2) epoch, and the gate would stop dropping). Old
    * indexes without the file read as the pre-derivation default (what
    * they were built with).
    */
  private val BandingFile = "_banding"

  def indexBanding(root: String): Banding = {
    val f = new java.io.File(root, BandingFile)
    if (f.isFile) Banding.parse(java.nio.file.Files.readString(f.toPath),
      s"_banding manifest at ${f.getPath}")
    else Banding.Default
  }

  private def pinBanding(root: String, bd: Banding): Unit = {
    val tmp = new java.io.File(root, s".$BandingFile.tmp")
    java.nio.file.Files.writeString(tmp.toPath, bd.toString): Unit
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(root, BandingFile).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Initialize the index at `root` as epoch 0 over the base `corpus`
    * (doc_id, text). No-op if the index already has epochs. `banding`
    * ([[Banding.Auto]] = derive from the base corpus size; an empty
    * corpus floors at the default) is pinned in the index manifest —
    * the construction every delta, merge and gate over this index uses
    * for its lifetime, however large the lake grows. Size a long-lived
    * production index for its TARGET corpus (pass
    * `Text.bandingFor(expectedDocs)`), not its seed.
    */
  def init(spark: SparkSession, root: String, corpus: DataFrame,
      banding: Banding = Banding.Auto): Unit =
    if (epochs(root).isEmpty) {
      val bd = Text.resolveBanding(banding, corpus.count())
      new java.io.File(root).mkdirs()
      pinBanding(root, bd)
      // a lost init race means another process published epoch 0 over
      // the SAME base corpus — identical by construction, keep theirs
      // (both writers also pin the same derived banding)
      publish(root, 0L, Text.bandIndexOf(corpus, bd),
        Text.contentHashesOf(corpus)): Unit
    }

  /** REBAND migration — the maintenance job for a lake that has
    * OUTGROWN its index's founding construction. The banding pin is
    * deliberate (a delta banded differently matches nothing in older
    * epochs), which means a long-lived index keeps its init-time depth
    * however large the lake grows; when the corpus-derived banding has
    * moved past the pin (see [[rebandDrift]]), the migration is a full
    * rebuild from the LAKE — the index stores signatures, not text, so
    * there is nothing to re-derive in place. Builds the new index
    * (epoch 0 over `corpus`, new pin) beside the live one, then swaps
    * directories. Returns the new pinned banding.
    *
    * Concurrency contract: single-writer MAINTENANCE WINDOW, like
    * [[merge]]'s run-rarely cadence but stricter — a reader that lists
    * epochs between the two swap renames sees no index at all. Run it
    * where the dedup service runs its merges (between cycles, no gate
    * construction in flight). Crash safety: a crash before the first
    * rename leaves the live index untouched (the half-built `.tmp`
    * sibling is swept by the next reband); a crash between renames
    * leaves the old index at `<root>.reband_old` — operator-restorable
    * by hand, and the next reband sweeps it.
    */
  def reband(spark: SparkSession, root: String, corpus: DataFrame,
      banding: Banding = Banding.Auto): Banding = {
    // single-writer lease: the maintenance-window contract is enforced,
    // not just documented — a second reband (or a crashed one's stale
    // lease) fails loudly instead of racing the directory swap.
    val lease = new java.io.File(root + ".reband_lock")
    if (!lease.createNewFile())
      throw new IllegalStateException(
        s"reband already in progress (lease ${lease.getPath} exists; " +
          "remove it only if the prior reband crashed)")
    try {
      val bd = Text.resolveBanding(banding, corpus.count())
      val tmp = new java.io.File(root + ".reband_tmp")
      val old = new java.io.File(root + ".reband_old")
      Materialize.deleteRecursively(tmp)
      Materialize.deleteRecursively(old)
      init(spark, tmp.getPath, corpus, bd)
      java.nio.file.Files.move(new java.io.File(root).toPath, old.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      java.nio.file.Files.move(tmp.toPath, new java.io.File(root).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
      // fail loudly if the swap somehow left no live index (a reader in
      // the rename window would see an empty index and gate nothing)
      if (epochs(root).isEmpty)
        throw new IllegalStateException(
          s"reband swap left no live epochs at $root " +
            s"(old index preserved at ${old.getPath})")
      Materialize.deleteRecursively(old)
      bd
    } finally {
      lease.delete(): Unit
    }
  }

  /** True when the lake has grown past the index's pinned construction:
    * the corpus-derived banding for `lakeDocs` documents is deeper than
    * the pin. The signal an operator (or a service's cycle loop) reads
    * to schedule a [[reband]] — drift does NOT break correctness (the
    * pinned construction keeps gating consistently), it erodes the
    * collision join's occupancy bound, which is a cost problem the
    * next batch rehearsal would surface as a superlinear q35 slope.
    */
  def rebandDrift(root: String, lakeDocs: Long): Boolean =
    Text.bandingFor(lakeDocs).rows > indexBanding(root).rows

  /** STARTUP recovery from a crashed [[reband]] — call it where a
    * single process owns the index (a service boot, before [[init]]).
    * A reband crash has exactly three observable leftovers, each
    * repaired here:
    *
    *  - crash BETWEEN the two swap renames: the live index is gone and
    *    the old one sits at `<root>.reband_old` — restore it (move it
    *    back). Without this, a restart's `init` would silently rebuild
    *    epoch 0 from the BASE corpus only: every doc landed since
    *    vanishes from the gate and its near-dups get re-admitted.
    *  - crash AFTER the swap completed (before the old copy's
    *    cleanup): both indexes exist — the live one is the new pin;
    *    sweep the stale old copy.
    *  - a stranded `.reband_lock` lease: at a single-owner boot no
    *    reband can be in flight, so the lease is provably stale —
    *    remove it (leaving it would crash-loop every later
    *    drift-triggered reband on IllegalStateException).
    *
    * Returns a short note per repair (empty = clean boot). The
    * half-built `.reband_tmp` sibling needs no handling here: the next
    * reband sweeps it.
    */
  def recoverReband(root: String): Seq[String] = {
    val notes = scala.collection.mutable.ArrayBuffer[String]()
    val old = new java.io.File(root + ".reband_old")
    if (old.isDirectory) {
      if (epochs(root).isEmpty) {
        Materialize.deleteRecursively(new java.io.File(root))
        java.nio.file.Files.move(old.toPath,
          new java.io.File(root).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
        notes += s"restored pre-reband index from ${old.getPath}"
      } else {
        Materialize.deleteRecursively(old)
        notes += s"swept stale ${old.getPath} (reband had completed)"
      }
    }
    val lease = new java.io.File(root + ".reband_lock")
    if (lease.isFile && lease.delete())
      notes += s"removed stale reband lease ${lease.getPath}"
    notes.toSeq
  }

  /** Fail loudly when any live epoch's bands segment predates the
    * (owner, m) audit schema. Mixing schemas inside one index is the
    * silent-wrong-answer case: the multi-path parquet read samples ONE
    * file's schema, so when it samples a new-format file the legacy
    * rows read owner/m as NULL — min(owner) skips them, a merge bakes
    * wrong owners into the merged segment, and audits miss drops while
    * a whole-index columns check still passes. One footer read per
    * epoch (epoch counts are merge-bounded), so the guard is cheap.
    */
  private def requireAuditSchema(spark: SparkSession, root: String,
      doing: String): Unit = {
    val legacy = epochs(root).filter { e =>
      val cols = spark.read.parquet(s"$root/${epochName(e)}/bands")
        .schema.fieldNames.toSet
      !(cols.contains("owner") && cols.contains("m"))
    }
    require(legacy.isEmpty,
      s"cannot $doing: epoch(s) ${legacy.mkString(", ")} at $root predate " +
        "the (owner, m) audit schema — rebuild the index " +
        "(IndexCompaction.reband) first")
  }

  /** MINOR compaction: fold `landedDocs` (doc_id, text — the docs that
    * landed in the lake since the last compaction) into the index as a
    * new delta epoch, banded with the INDEX's pinned construction —
    * never the delta's own size. Returns the published epoch number.
    * O(new docs). A lost epoch-number race (another compaction landed
    * first) retries under the next free number — deltas are never
    * interchangeable, so ours must still land. Refuses to append a
    * new-format delta beside legacy (band, sig)-only epochs — that
    * would plant the mixed-schema landmine [[requireAuditSchema]]
    * exists to catch.
    */
  def compact(spark: SparkSession, root: String, landedDocs: DataFrame): Long = {
    requireAuditSchema(spark, root, "compact a delta into this index")
    publishRetrying(root, epochs(root).lastOption.getOrElse(-1L) + 1L,
      Text.bandIndexOf(landedDocs, indexBanding(root)),
      Text.contentHashesOf(landedDocs))
  }

  /** MAJOR compaction: merge every live epoch into one distinct
    * segment (published as the next epoch number) and TOMBSTONE the
    * merged ones — their dirs are physically swept by the NEXT merge,
    * so a reader that listed the pre-merge epoch set has a full merge
    * interval to finish reading them (the grace period; see object
    * doc). Run when the delta count hurts scan planning; the gate's
    * anti-joins never require it for correctness.
    *
    * Race safety: the merged segment covers exactly the epoch set
    * captured at entry, and ONLY those epochs are tombstoned, only
    * after our publish succeeded — a delta published concurrently
    * keeps its own epoch dir and stays in every union read. A crash
    * mid-tombstoning leaves some sources live: the union then carries
    * their rows twice (merged + source), which the duplicate-
    * insensitive anti-joins ignore, and the next merge folds them
    * again. Concurrent merges of the same root are the caller's
    * responsibility (it is the run-rarely job); everything here still
    * fails safe — at worst both merged segments publish and the
    * sources are tombstoned once.
    */
  def merge(spark: SparkSession, root: String): Long = {
    // physically sweep epochs tombstoned by the PREVIOUS merge — their
    // grace period (one merge interval) is over
    foldedEpochs(root).foreach(e =>
      Materialize.deleteRecursively(new java.io.File(root, epochName(e))))
    val es = epochs(root)
    require(es.nonEmpty, s"no index at $root to merge")
    requireAuditSchema(spark, root, "merge this index")
    // fold the arrival-order audit columns: a (band, sig) present in
    // two epochs keeps the EARLIEST owner and the SUMMED bucket size,
    // so the merged segment stays an exact audit oracle (distinct()
    // would keep both rows and break the one-row-per-signature
    // contract)
    val mergedBands = spark.read
      .parquet(es.map(e => s"$root/${epochName(e)}/bands"): _*)
      .groupBy(col("band"), col("sig"))
      .agg(min(col("owner")).as("owner"), sum(col("m")).as("m"))
    val mergedHashes = spark.read
      .parquet(es.map(e => s"$root/${epochName(e)}/hashes"): _*).distinct()
    val next = publishRetrying(root, es.last + 1L, mergedBands, mergedHashes)
    es.foreach { e =>
      val marker = new java.io.File(
        new java.io.File(root, epochName(e)), Folded)
      try java.nio.file.Files.writeString(marker.toPath, epochName(next)): Unit
      catch { case _: java.io.IOException => () } // dir already swept: fine
    }
    next
  }

  /** Union read over the live epoch set, with one re-list-and-retry if
    * the read trips on a dir a concurrent merge's sweep removed
    * between our listing and ANALYSIS-time file listing (possible only
    * when a reader straddles TWO merges — the tombstone grace period
    * covers one; see object doc).
    *
    * The retry covers analysis time only: forcing `df.schema` resolves
    * the paths now, but Spark may re-list files when the plan later
    * EXECUTES, so a DataFrame held across a straddled second merge can
    * still die with a FileNotFoundException at action time, outside
    * this catch. Callers must not cache a union DataFrame across merge
    * boundaries — rebuild it per cycle (as the dedup-service gate
    * does) or wrap the ACTION in [[readRetrying]].
    */
  private def union(spark: SparkSession, root: String, sub: String): DataFrame = {
    def read(): DataFrame = {
      val paths = epochs(root).map(e => s"$root/${epochName(e)}/$sub")
      require(paths.nonEmpty, s"no index at $root")
      val df = spark.read.parquet(paths: _*)
      df.schema // resolve (analysis-time file listing) inside the retry
      df
    }
    try read()
    catch { case _: org.apache.spark.sql.AnalysisException => read() }
  }

  /** Run an ACTION over index-reading DataFrames, retrying once with
    * freshly-built frames if execution-time file listing trips on a
    * concurrently merged-away epoch dir (FileNotFoundException
    * surfaces wrapped in a SparkException from the task). `fresh` must
    * re-derive its frames from [[bands]]/[[hashes]] so the retry sees
    * the post-merge epoch listing.
    */
  def readRetrying[A](fresh: () => A): A =
    try fresh()
    catch {
      case e: org.apache.spark.SparkException
          if fileGone(e) => fresh()
      case _: java.io.FileNotFoundException => fresh()
    }

  private def fileGone(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      c = c.getCause
    }
    false
  }

  /** The index's (band, sig) table — union of all published epochs (may
    * carry cross-epoch duplicates; the gate's anti-join doesn't care).
    */
  def bands(spark: SparkSession, root: String): DataFrame =
    union(spark, root, "bands")

  /** The index's content-hash table (column `h`). */
  def hashes(spark: SparkSession, root: String): DataFrame =
    union(spark, root, "hashes")

  /** The landed index of a lake's corpus: `corpus` (doc_id, text —
    * the docs of the lake at `dir`, or a subset of them such as one
    * source) indexed once under `banding` at a
    * [[Materialize.artifactRoot]] named `name`, so it is keyed on the
    * lake's fingerprint and the engine build and swept like a landed
    * stage. Returns the index root; a later call (in this process or
    * another) reads the published epoch instead of re-deriving it.
    */
  def lakeIndex(spark: SparkSession, dir: String, name: String,
      corpus: DataFrame, banding: Banding): String = {
    val root = Materialize.artifactRoot(s"${name}_${dir}_$banding", dir).getPath
    init(spark, root, corpus, banding)
    root
  }

  /** Stream-static NEAR-DUP GATE over this landed index — the
    * streaming twin of batch q63 (incremental dedup vs an existing
    * corpus), built after each compaction and after every restart
    * (O(read), no derivation). Each arriving doc (doc_id, text,
    * eventTime) is admitted only if it is (a) not byte-identical to any
    * indexed doc (anti-join on the content hash) and (b) shares no band
    * signature with the index under its pinned banding (one anti-join
    * per band). Both layers are STATELESS stream-static anti-joins — no
    * state store, so state never grows with the corpus; the static side
    * is the O(bands·docs) signature index, not the corpus text, and each
    * arrival's band keys are per-row array expressions (no streaming
    * aggregation). Duplicate rows across epochs are harmless (left-anti
    * semantics), so append-only delta epochs never need a rewrite.
    *
    * Conservative by construction: a band collision drops the doc
    * without exact verification — precision traded for a stateless
    * plan (batch q63's fingerprint layer makes the same trade); docs
    * under 3 words have no bands and always pass the LSH layer.
    * `keepText` keeps the text for a downstream consumer that
    * re-derives shingles (the gate→admit ingest-loop chain).
    */
  def gate(spark: SparkSession, root: String, stream: DataFrame,
      keepText: Boolean = false): DataFrame = {
    val banding = indexBanding(root)
    // both static sides land ONCE at gate construction: a stream-static
    // join re-evaluates the static plan EVERY micro-batch, and the band
    // fold joins the index once per band per batch
    val bandIdx = bands(spark, root).localCheckpoint(true)
    val hashIdx = hashes(spark, root).localCheckpoint(true)
    // exact content-hash anti-join FIRST: rows the cheap byte-identical
    // layer eliminates never pay the shingle pipeline or the nMh-deep
    // minhash bank — at the derived (7,5)+ depths the bank projection
    // is the dominant per-row cost, and the LSH fold is its only
    // consumer.
    val afterExact = stream
      .withColumn("h", md5(col("text").cast("binary")))
      .join(hashIdx, Seq("h"), "left_anti")
    val withSig = afterExact
      .withColumn("w", split(col("text"), " "))
      .withColumn("hs", Text.shingleHashesOnce)
      // one minhash-bank evaluation per row, shared by every band's
      // anti-join step (Text.minHashBankOnce — the barrier keeps the
      // fold's per-step projections from re-deriving it)
      .withColumn("mhb", Text.minHashBankOnce(banding))
    val gated = (0 until banding.bands).foldLeft(withSig) { (df, b) =>
      df.withColumn("sig", Text.bandSigFromBank(b, banding.rows))
        .join(bandIdx.filter(col("band") === b).select(col("sig")),
          Seq("sig"), "left_anti")
        .drop("sig")
    }
    if (keepText) gated.select(col("doc_id"), col("text"), col("eventTime"))
    else gated.select(col("doc_id"), col("eventTime"))
  }

  /** Arrival-order dedup AUDIT of `docs` (doc_id, text) against this
    * landed index: a doc drops iff any of its band signatures carries
    * an index owner EARLIER than it; output (doc_id, owner,
    * n_bands_hit) — per dropped doc the earliest such owner and the
    * number of its bands hit, exactly q123's shape and rule. The index
    * side is READ (epochs min-folded per signature), never re-derived,
    * so the audit costs O(docs being audited): a re-audit after a
    * compaction pays only the delta, where the previous full-corpus
    * spelling re-paid the bands×corpus aggregate every run (27.6 s and
    * the only slope>1.0 cell at 5M docs in the r14 rehearsal).
    * Auditing an index's own full corpus reproduces q123 exactly —
    * the epoch owners min-fold to the corpus bucket minimum, which is
    * the Window spelling's `min(doc_id) over (partition by band, sig)`
    * (CompactionSpec pins the equality; q152 oracle-pins it per driver
    * SF with an independently-spelled DuckDB twin).
    */
  def arrivalAudit(spark: SparkSession, root: String,
      docs: DataFrame): DataFrame =
    auditJoin(indexOwners(spark, root),
      Text.docBands(docs, indexBanding(root)))

  /** Full-corpus SELF-audit: the arrival-order decision table for the
    * index's OWN corpus, from band rows the caller already has (e.g.
    * the landed batch minhash stage — one landed-stage read, no
    * per-row re-banding of the whole corpus). Solo buckets (m = 1)
    * are skipped before the join — their only member is their owner,
    * so they can't produce a drop; at the LSH occupancy floor that
    * removes ~95% of the index side. ONLY valid when `bandRows` are
    * exactly the index corpus's bands — a delta audited this way would
    * wrongly skip the size-1 buckets its docs collide with (use
    * [[arrivalAudit]] for deltas).
    */
  def arrivalSelfAudit(spark: SparkSession, root: String,
      bandRows: DataFrame): DataFrame =
    auditJoin(indexOwners(spark, root).filter(col("m") >= 2), bandRows)

  /** The index's per-signature (owner, m), min/sum-folded across live
    * epochs — with a no-aggregation fast path for the single-segment
    * index a MAJOR merge (or a fresh [[init]]) leaves, where each
    * (band, sig) already appears exactly once.
    */
  private def indexOwners(spark: SparkSession, root: String): DataFrame = {
    // loud legacy check, PER EPOCH: an index built (or partially built)
    // before the audit columns existed cannot answer audit queries —
    // a whole-index columns check would pass on a mixed index while
    // the legacy epochs' rows read owner/m as null and silently
    // disappear from min(owner)
    requireAuditSchema(spark, root, "audit against this index")
    val b = bands(spark, root)
    if (epochs(root).size <= 1) b
    else b.groupBy(col("band"), col("sig"))
      .agg(min(col("owner")).as("owner"), sum(col("m")).as("m"))
  }

  private def auditJoin(owners: DataFrame, bandRows: DataFrame): DataFrame =
    Text.hitDecisions(Text.earlierOwnerHits(bandRows, owners))
}

package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared-stage materialization: build an intermediate table once and
  * land it as parquet; every later consumer — in this process or a
  * LATER one over the same data — reads the landed table instead of
  * replaying the pipeline that produced it.
  *
  * This mirrors how a production curation DAG is actually wired: the
  * near-dup stage (shingle → MinHash → LSH join → verify → connected
  * components) writes its cluster-label table to the lake ONCE, and the
  * retention manifest, dedup funnel, and cluster-size report all read
  * that table — nobody re-derives MinHash signatures per report. At
  * 100 TB re-derivation is not a style problem but the difference
  * between one corpus-sized pass and four.
  *
  * Cross-run reuse & staleness: landed tables live under one shared
  * scratch root, and each stage's directory name carries a FINGERPRINT
  * of its source data dir (relative file names + sizes + mtimes) and
  * the [[buildTag]] of the engine build that landed it. A second JVM
  * of the same build over the same inputs computes the same name and
  * reads the landed stage (a test run followed by a bench run pays the
  * stage graph once, like a warm lake); any in-place change to the
  * source data changes the fingerprint, and any rebuild of the engine
  * changes the tag, so the new run builds fresh — a stage landed by
  * another build of a pipeline is never served. Keys are additionally
  * namespaced by source dir and every semantic parameter (threshold,
  * table counts, …).
  *
  * Publish is ATOMIC: each build writes to a process-private temp dir
  * and renames it into place (same filesystem), so a reader can never
  * observe a half-written stage; if two processes race, the loser's
  * rename fails, it discards its copy and reads the winner's —
  * identical by construction (same key + same fingerprint ⇒ same
  * deterministic build).
  *
  * Sweeping (all fail-safe — a disk leak beats deleting a live run's
  * tables): at startup, published stages whose recorded source dir now
  * fingerprints differently (data changed or deleted) are removed, as
  * are stages of another engine build left untouched for
  * [[LegacyTmpGraceMs]] (a run touches every stage it uses, so a live
  * run of another build keeps its stages), and crashed builds' temp
  * dirs whose embedded host matches this
  * machine AND whose owner pid is provably dead (a foreign host's pid
  * is meaningless in the local /proc, so its temp dirs are never
  * touched). Legacy per-process scratch dirs from older layouts are
  * removed under the same host-and-pid rule.
  *
  * Concurrency (in-process): per-key monitors make the build
  * single-flight — parallel test suites touching the same stage block
  * on one writer, then all read the same files. Monitors nest safely
  * (one stage's build may materialize another); stage dependencies are
  * acyclic.
  */
object Materialize {
  private val runtime = java.lang.management.ManagementFactory.getRuntimeMXBean
  private[graft] val pid = runtime.getName.takeWhile(_ != '@')
  private val localHost = runtime.getName.dropWhile(_ != '@').drop(1)
  /** Host segment safe to embed in dir names (hostnames are already
    * [A-Za-z0-9.-]; anything else maps to '-'); used by every temp-dir
    * name so the sweeps can refuse to touch a FOREIGN host's live
    * temp dir on shared storage (a remote pid is meaningless in the
    * local /proc).
    */
  private[graft] val hostTag =
    localHost.map(c => if (c.isLetterOrDigit || c == '.' || c == '-') c else '-')
  private val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
  private val base = new java.io.File(tmpRoot, "graft_mat_v2")

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Fingerprint of a source data dir: MD5 over the sorted relative
    * (path, size, mtime-millis) of every regular file under it —
    * cheap (no content reads), and any regeneration, append, or
    * deletion changes it. A missing/non-directory source yields the
    * sentinel "nosrc", which never equals a real fingerprint, so
    * stages whose source vanished (e.g. a test's temp corpus) are
    * swept at the next startup.
    */
  private[graft] def fingerprint(srcDir: String): String = {
    val root = java.nio.file.Paths.get(srcDir)
    if (!java.nio.file.Files.isDirectory(root)) "nosrc"
    else {
      import scala.jdk.CollectionConverters._
      val md = java.security.MessageDigest.getInstance("MD5")
      val walk = java.nio.file.Files.walk(root)
      try {
        walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(p => s"${root.relativize(p)}:" +
            s"${java.nio.file.Files.size(p)}:" +
            s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
          .toSeq.sorted
          .foreach(line => md.update((line + "\n").getBytes("UTF-8")))
      } finally walk.close()
      md.digest().take(8).map(b => f"$b%02x").mkString
    }
  }

  /** Fingerprint of the engine build this class was loaded from: the
    * code source of `graft.operators.Materialize` — a classes directory
    * through the [[fingerprint]] walk, a jar by its size and mtime (an
    * unknown source yields "nobuild"). Computed once per JVM; every
    * stage name carries it.
    */
  private[graft] lazy val buildTag: String = {
    val src = Option(getClass.getProtectionDomain.getCodeSource)
      .map(cs => java.nio.file.Paths.get(cs.getLocation.toURI))
    src match {
      case Some(p) if java.nio.file.Files.isDirectory(p) => fingerprint(p.toString)
      case Some(p) if java.nio.file.Files.isRegularFile(p) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"${java.nio.file.Files.size(p)}:${p.toFile.lastModified}"
            .getBytes("UTF-8"))
          .take(8).map(b => f"$b%02x").mkString
      case _ => "nobuild"
    }
  }

  // fingerprints are computed once per (process, source dir): stages are
  // keyed for a consistent view within one run even if data changes
  // mid-run (which the test suites never do), and the walk isn't re-paid
  // per stage
  private val fps = new ConcurrentHashMap[String, String]()
  private def fpOf(srcDir: String): String =
    fps.computeIfAbsent(srcDir, fingerprint)

  /** Drop the process-cached fingerprint for `srcDir`: the next stage
    * access re-walks the dir, so a mid-process regeneration of the
    * source data is picked up and every dependent stage rebuilds under
    * the new fingerprint. Called by the streaming model-rebuild path
    * when it observes a changed corpus fingerprint; batch runs never
    * need it (data is immutable within a run).
    */
  private[graft] def invalidate(srcDir: String): Unit = {
    fps.remove(srcDir): Unit
  }

  /** Name of the marker file inside a published stage dir recording its
    * source dir (underscore prefix: ignored by parquet readers, like
    * _SUCCESS). The startup sweep reads it to re-fingerprint.
    */
  private val SrcMarker = "_graft_src"

  /** Fail-SAFE staleness test for a LEGACY per-process scratch dir name
    * (graft_mat_<pid>_<host>_<startms>): delete only when the name
    * parses to an owner pid, the embedded host segment matches THIS
    * machine, /proc liveness semantics exist, AND /proc/<pid> is
    * absent. An unparseable name, a foreign host (shared NFS scratch:
    * a remote run's pid is meaningless in the local /proc), or a
    * missing /proc keeps the dir.
    */
  private[graft] def isStale(name: String,
      procRoot: java.io.File = new java.io.File("/proc"),
      host: String = localHost): Boolean = {
    if (!name.startsWith("graft_mat_") || name.startsWith("graft_mat_v2") ||
        !procRoot.isDirectory) false
    else {
      val rest = name.drop("graft_mat_".length)
      val pidPart = rest.takeWhile(_.isDigit)
      val hostPart = rest.drop(pidPart.length).stripPrefix("_")
        .reverse.dropWhile(_.isDigit).stripPrefix("_").reverse
      pidPart.toLongOption.exists(p =>
        hostPart == host && !new java.io.File(procRoot, p.toString).exists())
    }
  }

  /** Name a temp dir for an atomic publish under any shared root:
    * `<base>.tmp_<pid>_<host>_<nanos>`. The embedded host lets
    * [[isStaleShared]] refuse to sweep a foreign host's live temp dir.
    */
  private[graft] def tmpName(base: String): String =
    s"$base.tmp_${pid}_${hostTag}_${System.nanoTime()}"

  /** Name of `key`'s stage dir for engine build `tag` and source-data
    * fingerprint `fp`: `<key>__<tag>_<fp>` (the key with every
    * non-alphanumeric character mapped to '_').
    */
  private[graft] def stageName(key: String, tag: String, fp: String): String =
    key.map(c => if (c.isLetterOrDigit) c else '_') + s"__${tag}_$fp"

  /** Fail-SAFE staleness test for an entry under the shared root.
    * Published stage dirs (name `<key>__<tag>_<fp>`, marker present):
    * stale iff the recorded source dir now fingerprints differently,
    * or the stage belongs to another engine build (a tag other than
    * `tag`, or none: the pre-tag `<key>__<fp>` layout) and its dir has
    * sat untouched past [[LegacyTmpGraceMs]] — a run touches every
    * stage it uses, so a live run of another build keeps its own.
    * Abandoned temp dirs (name `…​.tmp_<pid>_<host>_<nanos>`): stale iff
    * the embedded host matches THIS machine AND the owner pid is
    * provably dead — on shared storage a remote run's pid is
    * meaningless in the local /proc, so a foreign temp dir is always
    * kept. A HOST-LESS temp name (`.tmp_<pid>_<nanos>`, the pre-host
    * legacy format) can't prove locality from the name alone, so it
    * gets a one-time migration rule: stale only when the dir has sat
    * untouched past [[LegacyTmpGraceMs]] (a publish lasts seconds, so
    * any live writer — local or remote — is far inside the grace
    * window) AND, when local /proc semantics exist, the embedded pid
    * is absent. Without the age fence those pre-upgrade crash
    * leftovers would leak forever. Anything unrecognizable is kept.
    */
  private[graft] val LegacyTmpGraceMs: Long = 24L * 3600 * 1000

  private[graft] def isStaleShared(dir: java.io.File,
      procRoot: java.io.File = new java.io.File("/proc"),
      host: String = hostTag,
      nowMs: Long = System.currentTimeMillis(),
      tag: String = buildTag): Boolean = {
    val name = dir.getName
    val tmpIdx = name.indexOf(".tmp_")
    if (tmpIdx >= 0) {
      val rest = name.drop(tmpIdx + ".tmp_".length)
      val pidPart = rest.takeWhile(_.isDigit)
      val hostPart = rest.drop(pidPart.length).stripPrefix("_")
        .reverse.dropWhile(_.isDigit).stripPrefix("_").reverse
      if (hostPart.nonEmpty)
        hostPart == host && procRoot.isDirectory &&
          pidPart.toLongOption.exists(p =>
            !new java.io.File(procRoot, p.toString).exists())
      else {
        // legacy host-less format: age fence, plus the pid check
        // wherever local /proc semantics exist
        val mtime = dir.lastModified()
        val pidOk = !procRoot.isDirectory || pidPart.toLongOption.exists(p =>
          !new java.io.File(procRoot, p.toString).exists())
        pidPart.nonEmpty && mtime > 0L &&
          nowMs - mtime > LegacyTmpGraceMs && pidOk
      }
    } else {
      val marker = new java.io.File(dir, SrcMarker)
      val fpIdx = name.lastIndexOf("__")
      if (fpIdx < 0) false
      else if (!marker.isFile) {
        // published-shape name but no marker: a crash inside
        // artifactRoot's mkdirs→marker window. isStale() can never
        // retire it (nothing records its source), so without an age
        // fence it leaks forever once the source data changes (a new
        // fingerprint mints a new root name). Any LIVE root is
        // far inside the grace window — its marker lands milliseconds
        // after mkdirs.
        val mtime = dir.lastModified()
        mtime > 0L && nowMs - mtime > LegacyTmpGraceMs
      } else {
        val named = name.drop(fpIdx + 2)
        val sep = named.lastIndexOf('_')
        val (stageTag, fp) =
          if (sep < 0) ("", named) else (named.take(sep), named.drop(sep + 1))
        val src = try java.nio.file.Files.readString(marker.toPath).trim
                  catch { case _: Throwable => return false }
        val mtime = dir.lastModified()
        fingerprint(src) != fp || stageTag != tag && mtime > 0L &&
          nowMs - mtime > LegacyTmpGraceMs
      }
    }
  }

  locally {
    // legacy per-process dirs from older layouts
    Option(tmpRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => isStale(f.getName))
      .foreach(deleteRecursively)
    // shared-root entries whose data changed/vanished or whose builder
    // died mid-write
    Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && isStaleShared(f))
      .foreach(deleteRecursively)
  }

  // per-key monitors rather than computeIfAbsent(build): one stage's
  // build may materialize another stage (labels build reads the pairs
  // table), and recursive computeIfAbsent on one ConcurrentHashMap is
  // undefined; plain monitors nest safely because stage dependencies
  // are acyclic
  private val locks = new ConcurrentHashMap[String, Object]()
  private val built = ConcurrentHashMap.newKeySet[String]()
  private val buildSecs = new ConcurrentHashMap[String, Double]()
  private val reused = ConcurrentHashMap.newKeySet[String]()

  /** Wall seconds spent BUILDING each landed stage in this process (key
    * → sec). Bench reports these next to the warm per-query numbers so
    * the one-time pipeline cost of the stage graph is auditable rather
    * than hidden inside whichever query happened to trigger the build.
    */
  def buildSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.toMap
  }

  /** Keys whose landed table was REUSED from a previous process over
    * identical source data (fingerprint match) instead of built here.
    * Bench reports these: a cold pass with reused stages measures a
    * warm lake, and the artifact should say so.
    */
  def reusedKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    reused.asScala.toSet
  }

  /** On-disk bytes of every PUBLISHED landed stage under the shared
    * root (stage dir name → bytes). Bench reports this next to the
    * build seconds: the stage graph trades disk for repeated corpus
    * passes, and the artifact should show the price of that trade.
    */
  def stageBytes: Map[String, Long] = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(sz).sum
      else f.length()
    Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.contains(".tmp_"))
      .map(d => d.getName -> sz(d)).toMap
  }

  /** A stable landed-ARTIFACT root (not a single parquet table) keyed
    * like [[table]] — for stages with their own multi-dir layout, e.g.
    * an IndexCompaction epoch index. The caller owns the layout and
    * its idempotence/atomicity (IndexCompaction publishes epochs
    * atomically and init is a no-op on a populated root); this method
    * only names the dir, creates it, and records the source marker so
    * the startup sweep retires it when the source data changes —
    * exactly the staleness discipline every landed table gets.
    */
  def artifactRoot(key: String, srcDir: String): java.io.File = {
    val dir = new java.io.File(base, stageName(key, buildTag, fpOf(srcDir)))
    if (dir.mkdirs() || dir.isDirectory) {
      dir.setLastModified(System.currentTimeMillis()): Unit
      val marker = dir.toPath.resolve(SrcMarker)
      if (!java.nio.file.Files.exists(marker)) {
        // marker lands ATOMICALLY (tmp + move), like table()'s publish:
        // a crash mid-write must never leave a half-written marker that
        // isStale() would read as a bogus source path and keep forever.
        // A lost move race means a concurrent caller of the same
        // (key, srcDir) landed the identical marker — keep theirs.
        val tmp = dir.toPath.resolve(s".$SrcMarker.tmp_${pid}")
        java.nio.file.Files.writeString(tmp, srcDir): Unit
        try java.nio.file.Files.move(tmp, marker,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.FileSystemException
              if java.nio.file.Files.exists(marker) =>
            java.nio.file.Files.deleteIfExists(tmp): Unit
        }
      }
    }
    dir
  }

  /** Return `key`'s materialized table for source data `srcDir`,
    * building and landing it on first use in any process of the same
    * engine build (`tag`, the [[buildTag]] outside tests). `build` must
    * be deterministic for (key, source data, build) — all semantic
    * parameters encoded in the key — which every graft pipeline stage
    * is by construction. A process's first use of a landed stage
    * touches its dir (see [[isStaleShared]]).
    */
  def table(s: SparkSession, key: String, srcDir: String,
      build: => DataFrame, tag: String = buildTag): DataFrame = {
    val safe = stageName(key, tag, fpOf(srcDir))
    val path = new java.io.File(base, safe)
    val lock = locks.computeIfAbsent(safe, _ => new Object)
    lock.synchronized {
      if (!built.contains(safe)) {
        if (path.isDirectory) {
          // the use that keeps another build's sweep off this stage
          path.setLastModified(System.currentTimeMillis()): Unit
          reused.add(safe): Unit
        } else {
          val t0 = System.nanoTime()
          base.mkdirs()
          val tmp = new java.io.File(base, tmpName(safe))
          build.write.mode("overwrite").parquet(tmp.toString)
          java.nio.file.Files.writeString(
            tmp.toPath.resolve(SrcMarker), srcDir)
          try java.nio.file.Files.move(tmp.toPath, path.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            // lost the publish race (or a concurrent run landed it
            // first): the winner's table is identical by construction
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException |
                 _: java.nio.file.FileSystemException
                if path.isDirectory => deleteRecursively(tmp)
          }
          buildSecs.put(safe, (System.nanoTime() - t0) / 1e9)
        }
        built.add(safe)
      }
    }
    // schema-cached read (guide §1: the artifact is immutable once
    // published, so the footer-inference job only ever needs to run once
    // per path; Tables keys the cache on path+mtime)
    graft.sources.Tables.parquetCached(s, path.toString)
  }
}

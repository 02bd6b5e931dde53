package graft

import java.nio.file.Files

import graft.operators.{Materialize, Text}

/** Contracts for the shared-stage materializer: cross-run reuse keyed
  * by a source-data fingerprint (reuse on identical data, rebuild on
  * any change), the fail-safe stale-dir sweeps (never delete a live or
  * unidentifiable dir), and the key discipline (every semantic
  * parameter of a build is encoded in its key, so a parameter change
  * can never serve a stale landed stage).
  */
class MaterializeSpec extends SparkSpec {

  private def tmpDirWith(content: String): java.io.File = {
    val d = tempDir("mat_src_")
    Files.writeString(d.toPath.resolve("data.txt"), content)
    d
  }

  /** The stage dir name this engine build lands `key` under. */
  private def safeKey(key: String, fp: String): String =
    Materialize.stageName(key, Materialize.buildTag, fp)

  private val sharedBase = new java.io.File(
    new java.io.File(System.getProperty("java.io.tmpdir")), "graft_mat_v2")

  // ------------------------------------------------------------------
  // source-data fingerprint
  // ------------------------------------------------------------------

  test("fingerprint: stable on identical data, changes on any file change") {
    val d = tmpDirWith("hello")
    val fp1 = Materialize.fingerprint(d.toString)
    assert(fp1 == Materialize.fingerprint(d.toString), "must be deterministic")
    Files.writeString(d.toPath.resolve("data.txt"), "hello2")
    assert(Materialize.fingerprint(d.toString) != fp1,
      "a size change must change the fingerprint")
    Files.writeString(d.toPath.resolve("extra.txt"), "x")
    val fp3 = Materialize.fingerprint(d.toString)
    Files.delete(d.toPath.resolve("extra.txt"))
    assert(Materialize.fingerprint(d.toString) != fp3,
      "adding/removing a file must change the fingerprint")
  }

  test("fingerprint: missing source dir yields the nosrc sentinel") {
    assert(Materialize.fingerprint("/definitely/not/a/dir") == "nosrc")
  }

  // ------------------------------------------------------------------
  // cross-run reuse: a stage landed by a "previous process" is read,
  // not rebuilt; changed data never serves the old stage
  // ------------------------------------------------------------------

  test("a stage landed by a previous process is reused, not rebuilt") {
    val src = tmpDirWith("corpus-v1")
    val key = s"spec_reuse_${System.nanoTime}"
    val safe = safeKey(key, Materialize.fingerprint(src.toString))
    // emulate the previous process's atomic publish
    val landed = new java.io.File(sharedBase, safe)
    spark.range(1).toDF("x").write.parquet(landed.toString)
    Files.writeString(landed.toPath.resolve("_graft_src"), src.toString)
    // the build must NOT run — reuse means reading the landed table
    val out = Materialize.table(spark, key, src.toString,
      sys.error("build must not run: stage is landed for identical data"))
    assert(out.count() == 1)
    assert(Materialize.reusedKeys.contains(safe),
      s"reused stage must be reported; reused=${Materialize.reusedKeys}")
  }

  test("fingerprint invalidation: changed source data rebuilds the stage") {
    val src = tmpDirWith("corpus-v1")
    val key = s"spec_invalid_${System.nanoTime}"
    // previous process landed a 1-row stage over v1 data...
    val landed = new java.io.File(sharedBase,
      safeKey(key, Materialize.fingerprint(src.toString)))
    spark.range(1).toDF("x").write.parquet(landed.toString)
    Files.writeString(landed.toPath.resolve("_graft_src"), src.toString)
    // ...then the data changed in place BEFORE this process first saw it
    Files.writeString(src.toPath.resolve("data.txt"), "corpus-v2-regenerated")
    val out = Materialize.table(spark, key, src.toString,
      spark.range(2).toDF("x"))
    assert(out.count() == 2,
      "a regeneration must build fresh, never serve the old landed stage")
  }

  test("a stage landed under build tag A is rebuilt, not read, under tag B") {
    val src = tmpDirWith("corpus-v1")
    val key = s"spec_build_${System.nanoTime}"
    val fp = Materialize.fingerprint(src.toString)
    // a previous process of build A landed a 1-row stage over this data
    val landed = new java.io.File(sharedBase, Materialize.stageName(key, "a0a0", fp))
    spark.range(1).toDF("x").write.parquet(landed.toString)
    Files.writeString(landed.toPath.resolve("_graft_src"), src.toString)
    assert(Materialize.table(spark, key, src.toString,
      sys.error("build A must reuse its own stage"), tag = "a0a0").count() == 1)
    // build B over the same data must build its own stage
    val out = Materialize.table(spark, key, src.toString,
      spark.range(2).toDF("x"), tag = "b1b1")
    assert(out.count() == 2, "another build's stage must never be served")
    assert(Materialize.buildSeconds.contains(Materialize.stageName(key, "b1b1", fp)))
    // the sweep keeps another build's stage while it is in use and
    // retires it once untouched past the grace window
    val later = System.currentTimeMillis() + Materialize.LegacyTmpGraceMs + 60000L
    assert(!Materialize.isStaleShared(landed, tag = "b1b1"),
      "a recently used stage of another build is kept")
    assert(Materialize.isStaleShared(landed, nowMs = later, tag = "b1b1"),
      "an untouched stage of another build is swept after the grace window")
    assert(!Materialize.isStaleShared(landed, nowMs = later, tag = "a0a0"),
      "a build's own stage over unchanged data is never aged out")
  }

  // ------------------------------------------------------------------
  // shared-root sweep: fail-safe in every ambiguous case
  // ------------------------------------------------------------------

  test("shared sweep: published stage over unchanged data is kept") {
    val src = tmpDirWith("keep-me")
    val d = new java.io.File(sharedBase,
      safeKey("spec_sweep_keep", Materialize.fingerprint(src.toString)))
    d.mkdirs()
    Files.writeString(d.toPath.resolve("_graft_src"), src.toString)
    assert(!Materialize.isStaleShared(d))
  }

  test("shared sweep: published stage over changed or deleted data is stale") {
    val src = tmpDirWith("v1")
    val fp = Materialize.fingerprint(src.toString)
    val d = new java.io.File(sharedBase, safeKey("spec_sweep_stale", fp))
    d.mkdirs()
    Files.writeString(d.toPath.resolve("_graft_src"), src.toString)
    Files.writeString(src.toPath.resolve("data.txt"), "v2")
    assert(Materialize.isStaleShared(d), "changed data must sweep the stage")
    Files.delete(src.toPath.resolve("data.txt"))
    Files.delete(src.toPath)
    assert(Materialize.isStaleShared(d), "deleted source must sweep the stage")
  }

  test("shared sweep: dir without a readable marker is kept (fail safe)") {
    val d = new java.io.File(sharedBase, "spec_sweep_nomarker__deadbeef")
    d.mkdirs()
    assert(!Materialize.isStaleShared(d))
  }

  test("shared sweep: a marker-less published-shape dir ages out — kept " +
      "while young (a live artifactRoot's marker lands ms after mkdirs), " +
      "swept past the grace window (the mkdirs→marker crash leftover " +
      "nothing else can ever retire)") {
    val d = new java.io.File(sharedBase, "spec_sweep_agedroot__deadbeef")
    d.mkdirs()
    assert(!Materialize.isStaleShared(d), "young marker-less root is kept")
    val later = System.currentTimeMillis() +
      Materialize.LegacyTmpGraceMs + 60000L
    assert(Materialize.isStaleShared(d, nowMs = later),
      "aged marker-less root must be swept")
    // with a marker present, age is irrelevant — staleness is the
    // fingerprint's job
    val src = tmpDirWith("aged-but-live")
    val live = new java.io.File(sharedBase,
      safeKey("spec_sweep_agedlive", Materialize.fingerprint(src.toString)))
    live.mkdirs()
    java.nio.file.Files.writeString(
      live.toPath.resolve("_graft_src"), src.toString)
    assert(!Materialize.isStaleShared(live, nowMs = later))
  }

  test("shared sweep: abandoned temp dir of a dead pid on THIS host is stale; live pid, foreign host, and legacy host-less names are kept") {
    val proc = tempDir("fake_proc_")
    Files.createDirectory(proc.toPath.resolve("4242"))
    val host = Materialize.hostTag
    val dead = new java.io.File(sharedBase, s"spec_x__ab.tmp_9999999_${host}_1")
    val live = new java.io.File(sharedBase, s"spec_x__ab.tmp_4242_${host}_1")
    // a FOREIGN host's temp dir: its pid is meaningless in the local
    // /proc, so it must never be swept (shared-NFS contract)
    val foreign = new java.io.File(sharedBase,
      "spec_x__ab.tmp_9999999_another-host_1")
    // legacy host-less format: ambiguous origin, kept while fresh
    val legacy = new java.io.File(sharedBase, "spec_x__ab.tmp_9999999_1")
    dead.mkdirs(); live.mkdirs(); foreign.mkdirs(); legacy.mkdirs()
    assert(Materialize.isStaleShared(dead, proc))
    assert(!Materialize.isStaleShared(live, proc))
    assert(!Materialize.isStaleShared(foreign, proc))
    assert(!Materialize.isStaleShared(legacy, proc))
  }

  test("shared sweep: legacy host-less temp dir migrates — stale once aged past the grace window with a dead pid, kept while young or while the pid lives") {
    val proc = tempDir("fake_proc_")
    Files.createDirectory(proc.toPath.resolve("4242"))
    val agedDead = new java.io.File(sharedBase, "spec_y__ab.tmp_9999999_1")
    val agedLive = new java.io.File(sharedBase, "spec_y__ab.tmp_4242_1")
    agedDead.mkdirs(); agedLive.mkdirs()
    val later = System.currentTimeMillis() + Materialize.LegacyTmpGraceMs + 60000L
    // aged past grace + provably dead pid: the one-time migration sweeps it
    assert(Materialize.isStaleShared(agedDead, proc, nowMs = later))
    // aged but the pid is alive locally: kept
    assert(!Materialize.isStaleShared(agedLive, proc, nowMs = later))
    // young (same dirs, real clock): kept regardless of pid
    assert(!Materialize.isStaleShared(agedDead, proc))
    // host-CARRYING foreign temp dirs never age out — the migration rule
    // is only for the host-less legacy format
    val foreignAged = new java.io.File(sharedBase,
      "spec_y__ab.tmp_9999999_another-host_1")
    foreignAged.mkdirs()
    assert(!Materialize.isStaleShared(foreignAged, proc, nowMs = later))
  }

  // ------------------------------------------------------------------
  // legacy per-process scratch sweep
  // ------------------------------------------------------------------

  test("legacy sweep: dir with live owner pid is NOT stale") {
    val proc = tempDir("fake_proc_")
    Files.createDirectory(proc.toPath.resolve("4242"))
    assert(!Materialize.isStale("graft_mat_4242_host_123", proc, host = "host"))
  }

  test("legacy sweep: dir with dead owner pid on THIS host IS stale") {
    val proc = tempDir("fake_proc_")
    assert(Materialize.isStale("graft_mat_4242_host_123", proc, host = "host"))
  }

  test("legacy sweep: dir from ANOTHER host is kept (shared scratch)") {
    // on NFS-shared scratch a remote run's pid is meaningless in the
    // local /proc — absence there must not delete a live remote run
    val proc = tempDir("fake_proc_")
    assert(!Materialize.isStale("graft_mat_4242_otherhost_123", proc,
      host = "thishost"))
  }

  test("legacy sweep: unparseable pid prefix is kept (fail safe), not deleted") {
    val proc = tempDir("fake_proc_")
    assert(!Materialize.isStale("graft_mat_nopid_host_123", proc, host = "host"))
    assert(!Materialize.isStale("graft_mat_", proc, host = "host"))
  }

  test("legacy sweep: missing /proc (non-Linux) keeps every dir") {
    val gone = new java.io.File("/definitely/not/proc")
    assert(!Materialize.isStale("graft_mat_4242_host_123", gone, host = "host"))
  }

  test("legacy sweep: non-graft names and the shared root are never candidates") {
    val proc = tempDir("fake_proc_")
    assert(!Materialize.isStale("other_scratch_4242", proc, host = "host"))
    assert(!Materialize.isStale("graft_mat_v2", proc, host = "host"))
  }

  // ------------------------------------------------------------------
  // key discipline
  // ------------------------------------------------------------------

  test("keys encode semantic parameters: distinct thresholds land distinct stages") {
    // two different thresholds on the same corpus must build two
    // different landed tables — if the key dropped the threshold, the
    // second call would silently serve the first call's pairs
    Text.minhashLshPairs(spark, sfDir, threshold = 0.5).count()
    Text.minhashLshPairs(spark, sfDir, threshold = 0.7).count()
    val keys = (Materialize.buildSeconds.keySet ++ Materialize.reusedKeys)
      .filter(_.startsWith("text_pairs_"))
    assert(keys.exists(_.contains("_0_5__")) && keys.exists(_.contains("_0_7__")),
      s"threshold must be part of the stage key; built: $keys")
  }

  test("landed stage is built once and re-served: second call adds no build") {
    Text.minhashLshPairs(spark, sfDir, threshold = 0.5).count()
    val before = Materialize.buildSeconds
    Text.minhashLshPairs(spark, sfDir, threshold = 0.5).count()
    assert(Materialize.buildSeconds == before,
      "a second call with identical parameters must read the landed table")
  }

  test("every Materialize.table key template is dir-scoped and stage-unique") {
    // static source scan: each call site's key literal must interpolate
    // the source dir (two corpora can never share a landed stage) and
    // carry a distinct stage prefix (two stages can never collide)
    import scala.jdk.CollectionConverters._
    val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")
    val keyRe = """Materialize\.table\(s,\s*s"([^"]+)"""".r
    val keys = Files.walk(srcRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => keyRe.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toList
    assert(keys.nonEmpty, "expected Materialize.table call sites in src/main")
    keys.foreach { k =>
      assert(k.contains("$dir") || k.contains("${dir}"),
        s"key template '$k' must scope by source dir")
    }
    val prefixes = keys.map(_.takeWhile(_ != '$'))
    assert(prefixes.distinct.size == prefixes.size,
      s"stage prefixes must be unique across call sites: $prefixes")
  }
}

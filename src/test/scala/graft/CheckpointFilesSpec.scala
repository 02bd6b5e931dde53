package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** `streaming.LocalCheckpointFiles`, the session's streaming checkpoint
  * file manager: a local checkpoint is written without forking a
  * process, keeps the atomic-write contract Spark's logs rely on, reads
  * checkpoints Spark's default manager wrote, and leaves every other
  * scheme to that default.
  */
class CheckpointFilesSpec extends SparkSpec {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val sparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

  private def manager(dir: java.io.File): CheckpointFileManager =
    new streaming.LocalCheckpointFiles(new Path(dir.toURI), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: java.io.File): Set[String] = dir.list().toSet

  /** The frames (`Class.method`) of every process spawned while `body` ran. */
  private def spawnStacks(body: => Unit): Seq[Seq[String]] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val f = Files.createTempFile("spawns", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(fr => s"${fr.getMethod.getType.getName}.${fr.getMethod.getName}"))
    } finally { rec.close(); Files.deleteIfExists(f): Unit }
  }

  /** A spawn made to write a checkpoint: through a `CheckpointFileManager`
    * or RocksDB's checkpoint code. Spark's recursive delete, which forks
    * `rm -rf` when RocksDB clears its local working directory, writes no
    * checkpoint and no conf reaches it, so it does not count.
    */
  private def checkpointWrite(stack: Seq[String]): Boolean =
    stack.exists(_.startsWith("org.apache.spark.sql.execution.streaming.checkpointing.")) ||
      (stack.exists(_.contains(".RocksDBFileManager.")) &&
        !stack.exists(_.startsWith("org.apache.spark.network.util.JavaUtils.deleteRecursively")))

  private def input(): MemoryStream[Int] = {
    import spark.implicits._
    MemoryStream[Int](spark)
  }

  /** A stateful count over `mem`, one micro-batch per element of
    * `batches`, on the RocksDB changelog store checkpointed at `ckpt`:
    * the per-key counts after the last batch.
    */
  private def countBatches(ckpt: String, mem: MemoryStream[Int],
      batches: Seq[Seq[Int]]): Map[Int, Long] = {
    import spark.implicits._
    val sink = s"ckpt_counts_${System.nanoTime()}"
    withChangelogRocksDb {
      val q = mem.toDF().groupBy((col("value") % 3).as("k")).count()
        .writeStream.format("memory").queryName(sink).outputMode(OutputMode.Complete)
        .option("checkpointLocation", ckpt).start()
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      q.exception.foreach(e => throw e)
    }
    try spark.table(sink).as[(Int, Long)].collect().toMap
    finally spark.catalog.dropTempView(sink)
  }

  private val threeBatches = Seq(Seq(1, 2, 3), Seq(4, 5), Seq(6, 7, 8, 9))

  test("a 3-batch RocksDB-changelog query spawns no process from checkpoint writes") {
    val stacks = spawnStacks {
      assert(countBatches(tempDir("ckpt_spawn").getPath, input(), threeBatches) ===
        Map(0 -> 3L, 1 -> 3L, 2 -> 3L))
    }
    val offending = stacks.filter(checkpointWrite)
    assert(offending.isEmpty,
      s"${offending.size} of ${stacks.size} spawns came from checkpoint writes:\n" +
        offending.headOption.fold("")(_.take(40).mkString("\n")))
    // the probe sees what it is looking for: without the native Hadoop
    // library, Spark's default manager forks for the same checkpoint
    if (!NativeCodeLoader.isNativeCodeLoaded) {
      val before = spawnStacks {
        GraftSession.withConf(spark, Seq(managerKey -> sparkDefault)) {
          countBatches(tempDir("ckpt_spawn_default").getPath, input(), threeBatches): Unit
        }
      }
      info(s"spawns from checkpoint writes: default manager " +
        s"${before.count(checkpointWrite)} of ${before.size}, this manager 0 of ${stacks.size}")
      assert(before.count(checkpointWrite) > 0)
    }
  }

  test("a no-overwrite createAtomic onto an existing file throws and keeps the old bytes") {
    val dir = tempDir("ckpt_noover")
    val fm = manager(dir)
    val p = new Path(dir.toURI.toString + "0")
    write(fm, p, "old", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
    assert(read(fm, p) === "old")
    assert(names(dir) === Set("0"), "the failed write left its temp file")
  }

  test("cancel() leaves neither the temp file nor the target") {
    val dir = tempDir("ckpt_cancel")
    val fm = manager(dir)
    val p = new Path(dir.toURI.toString + "1")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
  }

  test("overwriting a file with a .crc sidecar reads back the new bytes through LocalFileSystem") {
    val dir = tempDir("ckpt_crc")
    val p = new Path(dir.toURI.toString + "metadata")
    val local = FileSystem.getLocal(new Configuration())
    val out = local.create(p, true)
    try out.write("old bytes".getBytes(UTF_8)) finally out.close()
    assert(names(dir) === Set("metadata", ".metadata.crc"))
    write(manager(dir), p, "the new, longer bytes", overwrite = true)
    val in = local.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) === "the new, longer bytes")
    finally in.close()
  }

  test("a checkpoint written under Spark's default manager restores under this one") {
    assert(spark.conf.get(managerKey) === classOf[streaming.LocalCheckpointFiles].getName)
    val ckpt = tempDir("ckpt_restore").getPath
    val mem = input()
    GraftSession.withConf(spark, Seq(managerKey -> sparkDefault)) {
      assert(countBatches(ckpt, mem, threeBatches.take(2)) === Map(0 -> 1L, 1 -> 2L, 2 -> 2L))
    }
    assert(countBatches(ckpt, mem, Seq(threeBatches(2))) === Map(0 -> 3L, 1 -> 3L, 2 -> 3L))
  }

  test("a non-file: path goes to FileContextBasedCheckpointFileManager") {
    def underlying(p: String) =
      new streaming.LocalCheckpointFiles(new Path(p), new Configuration()).underlying
    assert(underlying("hdfs://localhost:1/ckpt").isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(!underlying(tempDir("ckpt_local").toURI.toString)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(underlying(tempDir("ckpt_bare").getPath).isLocal)
  }
}

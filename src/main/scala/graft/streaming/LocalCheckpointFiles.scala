package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint's file manager
  * (`spark.sql.streaming.checkpointFileManagerClass`, set in
  * `GraftSession`): the offset, commit, source and schema logs on the
  * driver and the RocksDB changelog and checkpoint zips on the executors
  * all write through it.
  *
  * Spark's default, `FileContextBasedCheckpointFileManager`, goes through
  * Hadoop's local `FileContext`, which without the native Hadoop library
  * forks a process per file: `chmod` to create the temp file and two
  * `readlink`s to rename it into place. Each micro-batch writes several
  * such files, so `walCommit`, `commitOffsets` and `latestOffset` each
  * took ~40 ms at p50 for a few hundred bytes. Here a `file:` path
  * creates and renames with `java.nio.file.Files` instead (no process),
  * and open, list, exists and delete stay on Hadoop's local FileSystem,
  * which forks nothing for them. Every other scheme goes to Spark's
  * default manager unchanged.
  */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new LocalCheckpointFiles.Nio(path, hadoopConf)
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFiles {

  /** The `file:` manager. A write goes to a hidden temp file next to the
    * target and is renamed into place on close.
    */
  private final class Nio(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

    private val fs = path.getFileSystem(hadoopConf)

    private def nio(p: Path): NioPath = Paths.get(fs.makeQualified(p).toUri)

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = nio(p)
      Files.createDirectories(target.getParent)
      new AtomicFile(target,
        target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"),
        overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p)): Unit
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true): Unit
    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      val q = fs.makeQualified(path)
      Files.createDirectories(nio(q))
      q
    }
  }

  /** Writes `temp`; `close` renames it onto `target`, `cancel` drops it.
    * With `overwrite` the rename is an atomic replace. Without it, a
    * hard link creates `target` only if it does not exist, and the temp
    * name is unlinked; an existing target keeps its bytes and the close
    * throws Hadoop's `FileAlreadyExistsException`, the type
    * `HDFSMetadataLog` turns into its concurrent-writer error. A replaced
    * target loses its `.<name>.crc` sidecar first, else `LocalFileSystem`
    * would check the new bytes against the old checksum. A failed close
    * removes the temp file too.
    */
  private final class AtomicFile(target: NioPath, temp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(temp))) {

    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          val crc = target.resolveSibling(s".${target.getFileName}.crc")
          if (overwrite) {
            Files.deleteIfExists(crc)
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
          } else {
            try Files.createLink(target, temp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
            Files.deleteIfExists(crc)
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close() catch { case NonFatal(_) => } // the bytes are abandoned
        Files.deleteIfExists(temp)
      }
    }
  }
}

package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Streaming [[org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager]]
  * that drops Hadoop's client-side CRC mirror for `file:` checkpoints.
  *
  * Structured Streaming writes its WAL (offsets/commits), the file-source
  * log and every HDFSBackedStateStore delta/snapshot through a
  * CheckpointFileManager; the default FileContext binding for `file:` is
  * `LocalFs`, a [[org.apache.hadoop.fs.ChecksumFs]] that shadows every
  * checkpoint file with a `.crc` sibling — doubling the create+rename
  * count and re-reading data on open to verify. That CRC mirror emulates
  * HDFS's integrity layer for plain local disks, so on `file:` it is pure
  * per-micro-batch overhead: 2 file ops per WAL entry and 2 per state
  * store partition per batch.
  *
  * Scheme-aware: only a `file:` checkpoint (or a scheme-less one on a
  * `file:` default filesystem) gets the checksum-free
  * [[org.apache.hadoop.fs.local.RawLocalFs]] binding. Every other path
  * goes to Spark's own `CheckpointFileManager.create`, which picks the
  * FileContext manager and falls back to the FileSystem-based one for a
  * scheme with no AbstractFileSystem binding (s3a, gs in many setups).
  * The `file:` route falls back the same way.
  *
  * Wiring: `spark.sql.streaming.checkpointFileManagerClass` (set in
  * [[Sessions.tune]]); Spark constructs one manager per checkpoint path.
  * Rename-based atomic create semantics are unchanged:
  * [[FileContextBasedCheckpointFileManager]] does the temp-file + rename
  * dance, and `RawLocalFs.rename` is the same POSIX rename(2) that
  * `LocalFs` ultimately issues.
  */
class RawLocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val delegate: CheckpointFileManager =
    RawLocalCheckpointFileManager.managerFor(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = delegate.open(p)
  override def list(p: Path, filter: PathFilter) = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object RawLocalCheckpointFileManager {

  private val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager that does the work for `path`: checksum-free
    * FileContext for `file:`, Spark's default choice otherwise. */
  private[core] def managerFor(path: Path, conf: Configuration)
      : CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") {
      // without this class's own name in the conf, `create` makes
      // Spark's default choice instead of constructing us again
      val c = new Configuration(conf)
      c.unset(ClassKey)
      CheckpointFileManager.create(path, c)
    } else {
      try new FileContextBasedCheckpointFileManager(path, withRawLocalFs(conf))
      catch {
        case _: UnsupportedFileSystemException =>
          new FileSystemBasedCheckpointFileManager(path, conf)
      }
    }
  }

  /** A copy of `conf` whose `file:` AbstractFileSystem binding is the
    * checksum-free [[org.apache.hadoop.fs.local.RawLocalFs]]. Copying
    * keeps the override out of the session-wide Configuration (parquet
    * and store I/O keep their defaults). */
  private def withRawLocalFs(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.RawLocalFs")
    c
  }
}

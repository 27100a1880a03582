package graft.store

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of the store's Hadoop configurations
  * ([[StoreIO.hadoopConf]]): Hadoop's `RawLocalFileSystem` with
  * `setPermission` done in-process.
  *
  * Without native Hadoop, `RawLocalFileSystem` sets a permission by
  * forking a `chmod` process, and it sets one on every file it creates
  * and every directory it makes: two forks per staged parquet file (its
  * `snap-*` directory and the file). Here the same user/group/other
  * bits go through `Files.setPosixFilePermissions`. A
  * sticky bit, which that call cannot express, or a filesystem without
  * POSIX attributes falls back to Hadoop's own `setPermission`.
  *
  * Non-final: a fault-injecting filesystem for tests can extend it. */
class PosixLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
}

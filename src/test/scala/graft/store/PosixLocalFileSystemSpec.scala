package graft.store

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSuite

/** The store's `file:` filesystem sets permissions in-process with the
  * bits Hadoop's forking `chmod` sets, and the files and directories the
  * store stages keep their usual modes. */
class PosixLocalFileSystemSpec extends SparkSuite {

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission sets the bits chmod sets, for files and " +
    "directories") {
    val dir = Files.createTempDirectory("graft_posix")
    val conf = new org.apache.hadoop.conf.Configuration(false)
    val ours = new PosixLocalFileSystem
    ours.initialize(java.net.URI.create("file:///"), conf)
    val hadoops = new RawLocalFileSystem
    hadoops.initialize(java.net.URI.create("file:///"), conf)
    for ((m, want) <- Seq(0x1a4 -> "rw-r--r--", 0x1ed -> "rwxr-xr-x",
        0x180 -> "rw-------", 0x1c0 -> "rwx------");
        isDir <- Seq(false, true)) {
      val (a, b) = (dir.resolve(s"a-$m-$isDir"), dir.resolve(s"b-$m-$isDir"))
      Seq(a, b).foreach(p =>
        if (isDir) Files.createDirectory(p) else Files.createFile(p))
      val perm = new FsPermission(m.toShort)
      ours.setPermission(new Path(a.toUri), perm)
      hadoops.setPermission(new Path(b.toUri), perm)
      assert(mode(a) == want, s"mode $m")
      assert(mode(a) == mode(b), s"mode $m")
    }
  }

  test("a staged file and its directory get rw-r--r-- and rwxr-xr-x " +
    "under the default umask 022, through the store's filesystem") {
    import spark.implicits._
    val cat = new Catalog(spark,
      Files.createTempDirectory("graft_posix").toString)
    assert(new Path(cat.root).getFileSystem(cat.io.hadoopConf)
      .isInstanceOf[PosixLocalFileSystem])
    cat.append("users", Seq(("A", "L", "", "a@x.c", "h", "user",
      new java.sql.Timestamp(0L))).toDF("first_name", "last_name", "phone",
      "email", "password_hash", "user_role", "created_at"))
    val staged = Files.walk(java.nio.file.Paths.get(cat.root, "users"))
      .iterator().asScala.toSeq
    val files = staged.filter(_.toString.endsWith(".parquet"))
    val dirs = staged.filter(p => p.getFileName.toString.startsWith("snap-"))
    assert(files.size == 1 && dirs.size == 1)
    assert(files.map(mode) == Seq("rw-r--r--"))
    assert(dirs.map(mode) == Seq("rwxr-xr-x"))
  }
}

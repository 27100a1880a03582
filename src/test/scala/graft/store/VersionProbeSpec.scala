package graft.store

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite

/** [[Catalog.version]] on a warm instance probes forward from the last
  * version it saw instead of listing the commit log, and still sees
  * every other instance's commits, across a vacuum that retires the
  * deltas it last saw. */
class VersionProbeSpec extends SparkSuite {
  import spark.implicits._

  private def user(i: Int) =
    Seq((s"U$i", "L", "", s"u$i@x.c", "h", "user",
      new java.sql.Timestamp(0L)))
      .toDF("first_name", "last_name", "phone", "email", "password_hash",
        "user_role", "created_at")

  /** A local store IO counting listings of the commit-log directory. */
  private final class Counting extends LocalStoreIO {
    val logListings = new AtomicInteger(0)
    override def list(dir: String): Vector[StoreIO.Entry] = {
      if (dir.endsWith("_log")) logListings.incrementAndGet()
      super.list(dir)
    }
  }

  test("two instances on one root see each other's commits; a warm " +
    "instance does not list the log") {
    val root = Files.createTempDirectory("graft_version").toString
    val io = new Counting
    val a = new Catalog(spark, root, io)
    val b = new Catalog(spark, root)
    a.append("users", user(1))
    assert(b.version == a.version && b.read("users").count() == 1L)
    b.append("users", user(2))
    assert(a.version == 2L && a.read("users").count() == 2L)
    val listed = io.logListings.get
    (3 to 6).foreach { i =>
      a.append("users", user(i))
      assert(a.read("users").count() == i.toLong)
    }
    assert(io.logListings.get == listed,
      "a warm instance's version probes, it does not list _log/")
    (7 to 9).foreach(i => b.append("users", user(i)))
    assert(a.version == 9L && a.read("users").count() == 9L)
  }

  test("after a vacuum retires the deltas an instance last saw, it still " +
    "sees the newest version") {
    val root = Files.createTempDirectory("graft_version").toString
    val a = new Catalog(spark, root)
    val b = new Catalog(spark, root)
    a.append("users", user(1))
    assert(b.version == 1L && b.read("users").count() == 1L)
    // past two checkpoints, then retire every delta a checkpoint covers
    val n = 2 * Catalog.CheckpointInterval.toInt + 3
    (2 to n).foreach(i => a.append("users", user(i)))
    a.vacuum("users", retainMillis = 0L)
    val log = java.nio.file.Paths.get(root, "_log")
    assert(!Files.exists(log.resolve("v1.json")))
    assert(b.version == n.toLong && b.read("users").count() == n.toLong)
    a.append("users", user(n + 1))
    assert(b.version == n + 1L && b.read("users").count() == n + 1L)
    b.append("users", user(n + 2))
    assert(a.version == n + 2L && a.read("users").count() == n + 2L)
  }
}

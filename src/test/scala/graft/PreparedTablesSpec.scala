package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSuite

/** Cross-process-shaped memo for the fixture stager (round 17): two
  * catalogs/instances staging the SAME fixture concurrently serialize
  * under the per-warehouse stage lock, the second ADOPTS the on-disk
  * marker instead of destructively restaging (the `sbt test` +
  * `graft.Verify` shared-warehouse race), and a source-content change
  * invalidates the marker. */
class PreparedTablesSpec extends SparkSuite {

  private def fixtureDir(): String = {
    val d = Files.createTempDirectory("graft-prep-src")
    Files.write(d.resolve("src.parquet"), "notreallyparquet".getBytes)
    d.toString
  }

  private def warehouse: java.nio.file.Path =
    Paths.get(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath)

  test("two instances staging one fixture concurrently: the writer " +
    "runs ONCE, the second adopts the marker, both serve") {
    val d = fixtureDir()
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    def mkPrepared() = new graft.ext.PreparedTables(
      Seq("src.parquet"), Seq("graft_prep_spec_t"),
      (s, _) => {
        writes.incrementAndGet()
        val dir = warehouse.resolve("graft_prep_spec_t")
        Files.createDirectories(dir)
        Thread.sleep(300) // widen the race window mid-stage
        Files.write(dir.resolve("data.bin"), "payload".getBytes)
      })
    // two instances = two processes' worth of memo state (each starts
    // with an empty in-JVM key, exactly like a fresh JVM)
    val a = mkPrepared()
    val b = mkPrepared()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    Seq(a, b).foreach { p =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try p.ensurePrepared(spark, d)
          catch { case t: Throwable => errs.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "stagers hung")
    assert(errs.isEmpty, s"stager threw: ${errs.peek()}")
    assert(writes.get() == 1,
      s"the second staging must ADOPT, not rewrite: ${writes.get()} writes")
    assert(Files.exists(
      warehouse.resolve("graft_prep_spec_t").resolve("data.bin")))
    assert(Files.exists(
      warehouse.resolve("_graft_staged_graft_prep_spec_t.marker")))
    // idempotent re-entry stays on the fast path (no further writes)
    a.ensurePrepared(spark, d)
    b.ensurePrepared(spark, d)
    assert(writes.get() == 1)
    // a FRESH instance (new process) also adopts off the marker alone
    mkPrepared().ensurePrepared(spark, d)
    assert(writes.get() == 1, "a fresh instance restaged despite marker")
  }

  test("saveAsTable fixture adopts across processes (round 18): a " +
    "fresh instance whose session catalog lacks the registration " +
    "re-registers the staged parquet dir instead of restaging") {
    import spark.implicits._
    val d = fixtureDir()
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    def mkPrepared() = new graft.ext.PreparedTables(
      Seq("src.parquet"), Seq("graft_prep_spec_sat"),
      (s, _) => {
        writes.incrementAndGet()
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
          .write.mode("overwrite").format("parquet")
          .saveAsTable("graft_prep_spec_sat")
      })
    mkPrepared().ensurePrepared(spark, d)
    assert(writes.get() == 1)
    assert(spark.table("graft_prep_spec_sat").count() == 2)
    // simulate a FRESH PROCESS: new instance (empty in-JVM memo) AND a
    // session catalog without the registration — the pre-round-18
    // behavior was a full destructive restage here. DROP TABLE on a
    // managed table deletes its directory (a real fresh process keeps
    // both dir and marker, just not the in-memory entry), so park the
    // staged files aside and restore them after the drop.
    val dir = warehouse.resolve("graft_prep_spec_sat")
    val parked = Files.createTempDirectory("graft-sat-park")
    import scala.jdk.CollectionConverters._
    val staged = Files.list(dir).iterator().asScala.toVector
    staged.foreach(f => Files.copy(f, parked.resolve(f.getFileName)))
    spark.sql("DROP TABLE graft_prep_spec_sat")
    Files.createDirectories(dir)
    staged.foreach(f =>
      Files.copy(parked.resolve(f.getFileName), f))
    val dataBefore = Files.list(dir).count()
    mkPrepared().ensurePrepared(spark, d)
    assert(writes.get() == 1,
      "a fresh process restaged a saveAsTable fixture despite the marker")
    assert(spark.catalog.tableExists("graft_prep_spec_sat"),
      "adoption must re-register the staged directory")
    assert(spark.table("graft_prep_spec_sat")
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")),
      "adopted registration must serve the staged rows")
    assert(Files.list(warehouse.resolve("graft_prep_spec_sat")).count()
      == dataBefore, "adoption must not touch the staged files")
    // and a content change still restages through the adopted state
    Files.write(Paths.get(d, "src.parquet"), "changedcontent".getBytes)
    Files.setLastModifiedTime(Paths.get(d, "src.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 2000))
    mkPrepared().ensurePrepared(spark, d)
    assert(writes.get() == 2)
  }

  test("writer version participates in the memo key (round 18): a " +
    "version bump restages an already-staged warehouse instead of " +
    "serving content the old writer produced") {
    val d = fixtureDir()
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    def mkPrepared(ver: String) = new graft.ext.PreparedTables(
      Seq("src.parquet"), Seq("graft_prep_spec_v"),
      (s, _) => {
        writes.incrementAndGet()
        val dir = warehouse.resolve("graft_prep_spec_v")
        Files.createDirectories(dir)
        Files.write(dir.resolve("data.bin"), s"payload-$ver".getBytes)
      }, version = ver)
    mkPrepared("v1").ensurePrepared(spark, d)
    assert(writes.get() == 1)
    mkPrepared("v1").ensurePrepared(spark, d) // same version: adopt
    assert(writes.get() == 1)
    mkPrepared("v2").ensurePrepared(spark, d) // bumped: restage
    assert(writes.get() == 2)
    assert(new String(Files.readAllBytes(warehouse
      .resolve("graft_prep_spec_v").resolve("data.bin"))) == "payload-v2")
  }

  test("changed fixture content invalidates the marker: a fresh " +
    "instance restages instead of adopting stale copies") {
    val d = fixtureDir()
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    def mkPrepared() = new graft.ext.PreparedTables(
      Seq("src.parquet"), Seq("graft_prep_spec_u"),
      (s, _) => {
        writes.incrementAndGet()
        val dir = warehouse.resolve("graft_prep_spec_u")
        Files.createDirectories(dir)
        Files.write(dir.resolve("data.bin"), "payload".getBytes)
      })
    mkPrepared().ensurePrepared(spark, d)
    assert(writes.get() == 1)
    // rewrite the source with different size + mtime -> new memo key
    Files.write(Paths.get(d, "src.parquet"),
      "differentbytesnowlonger".getBytes)
    Files.setLastModifiedTime(Paths.get(d, "src.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 2000))
    mkPrepared().ensurePrepared(spark, d)
    assert(writes.get() == 2, "stale marker adopted after content change")
  }

  test("a warehouse path containing a space resolves to the same store " +
    "root with and without the file: scheme") {
    import graft.ext.PreparedTables.{storeRoot, warehousePath}
    val dir = "/tmp/graft wh/with space"
    // Spark does not percent-encode this conf, so a java.net.URI parse
    // of the schemed form throws
    intercept[java.net.URISyntaxException](new java.net.URI(s"file:$dir"))
    val want = Paths.get(dir, "graft_dv_root")
    Seq(dir, s"file:$dir", s"file://$dir").foreach { raw =>
      assert(warehousePath(raw).resolve("graft_dv_root") == want, raw)
    }
    assert(storeRoot(spark, "graft_dv_root") ==
      warehousePath(spark.conf.get("spark.sql.warehouse.dir"))
        .resolve("graft_dv_root").toString)
  }
}

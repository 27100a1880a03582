package graft.store

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.service.Portal

/** The driver route of the store's id-pinned merge-on-read updates and
  * deletes, and the write-through that seeds [[DriverReads]]' cache
  * with the rows a driver-staged write has just written. Pins that the
  * driver and scan routes commit the same patch stats, the same dead ids
  * per file and the same rows (DV-carrying hit files, renamed and added
  * columns, a store root that needs percent-encoding, an over-cap hit
  * set); that a seeded file equals a fresh decode of it and is never
  * served once its transaction is gone; that the seeds respect the cap;
  * and the job counts of Portal's payment path. */
class DriverWriteSpec extends SparkSuite {

  private def freshCat(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft_dwrite").toString)

  private val dataSchema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("n", IntegerType),
    StructField("name", StringType),
    StructField("amount", DecimalType(10, 2)),
    StructField("ratio", DoubleType)))

  private def withTable(cat: Catalog): Catalog = {
    cat.createTable("parity",
      StructType(StructField("row_id", LongType, nullable = false) +:
        dataSchema.fields), "row_id", statsColumns = Seq("n", "name"))
    cat
  }

  private val rows: Seq[Row] = Seq(
    Row(new Timestamp(1700000000123L), 7, "Zoë", BigDecimal("12.34")
      .bigDecimal, 0.5),
    Row(null, -3, "日本語", BigDecimal("-0.01").bigDecimal, null),
    Row(new Timestamp(1600000000000L), null, null, null, Double.NaN),
    Row(new Timestamp(1800000000999L), Int.MaxValue, "😀 emoji",
      BigDecimal("99999999.99").bigDecimal, -0.0),
    Row(new Timestamp(0L), 0, "ü" * 40, BigDecimal("0.00").bigDecimal,
      1e300))

  private def local(rs: Seq[Row], schema: StructType = dataSchema)
      : DataFrame = spark.createDataFrame(rs.asJava, schema)

  /** A `parity` table of one file holding `rows` (ids 1-5) and one
    * holding the first two again (ids 6-7). */
  private def twoFiles(cat: Catalog): Unit = {
    withTable(cat)
    cat.append("parity", local(rows))
    cat.append("parity", local(rows.take(2)))
  }

  /** What the snapshot records of each file but its path: id range,
    * value and string stats, row and null counts, the DV's dead ids. */
  private def shapes(cat: Catalog, table: String) =
    cat.sqlSnapshot(table, None).get._1.map(f => (f.minId, f.maxId, f.cols,
      f.scols, f.dv.map(d => DvIO.read(cat.io, cat.root, d._1).toSeq), f.rows,
      f.nulls))

  private def contents(df: DataFrame, idCol: String): Seq[Row] =
    df.orderBy(idCol).collect().toSeq

  /** Build two stores alike with `build`, run `op` with pinned updates
    * and deletes on the driver route in one and on the scan route in
    * the other, and assert the two commit the same file stats and DV ids
    * and read the same rows on both read routes. The driver route must
    * run no Spark job and the scan route at least one. Returns the
    * driver-route store and both results. */
  private def routesAgree[A](build: Catalog => Unit, table: String,
      idCol: String, mk: () => Catalog = () => freshCat())(
      op: Catalog#Tx => A): (Catalog, A, A) = {
    val drv = mk()
    val scan = mk()
    build(drv)
    build(scan)
    var a: Option[A] = None
    var b: Option[A] = None
    val nDrv = jobsIn { a = Some(drv.transaction(op)) }
    val nScan = jobsIn { b = Some(scan.scanPinned(op)) }
    assert(nDrv == 0, s"driver route ran $nDrv jobs")
    assert(nScan >= 1, "the scan route ran no job")
    assert(shapes(drv, table) == shapes(scan, table))
    val rs = contents(drv.read(table), idCol)
    assert(rs == contents(scan.read(table), idCol))
    assert(rs == contents(drv.scanRead(table), idCol))
    (drv, a.get, b.get)
  }

  private def nameOf(cat: Catalog, id: Long, column: String = "name")
      : Seq[String] =
    cat.read("parity").filter(col("row_id") === id).select(column)
      .collect().map(_.getString(0)).toSeq

  test("pinned update and delete see the transaction's own schema: a " +
    "predicate may name a column added or renamed earlier in it") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows))
    cat.transaction { tx =>
      tx.addColumn("parity", StructField("note", StringType))
      tx.update("parity", col("row_id") === 2L && col("note").isNull,
        Map("note" -> lit("added")))
    }
    val nullName = cat.read("parity").filter(col("name").isNull)
      .select("row_id").head().getLong(0)
    val deleted = cat.transaction { tx =>
      tx.renameColumn("parity", "name", "label")
      tx.update("parity", col("row_id") === nullName &&
        col("label").isNull, Map("label" -> lit("was null")))
      tx.delete("parity", col("row_id") === 5L && col("label").isNotNull)
    }
    assert(deleted == 1L)
    assert(nameOf(cat, 2L, "note") == Seq("added"))
    assert(nameOf(cat, nullName, "label") == Seq("was null"))
    assert(cat.read("parity").count() == 4L)
    // all three landed as merge-on-read: one DV'd file and two patches
    val fs = cat.sqlSnapshot("parity", None).get._1
    assert(fs.size == 3 && fs.flatMap(_.dv)
      .map(d => DvIO.read(cat.io, cat.root, d._1).toSeq.sorted) ==
      Seq(Seq(2L, nullName, 5L).sorted))
  }

  test("parity: a pinned update and delete commit the same patch stats, " +
    "DV ids and rows on the driver and scan routes") {
    val (cat, _, _) = routesAgree(twoFiles, "parity", "row_id")(
      _.update("parity", col("row_id") === 2L,
        Map("name" -> lit("patched"), "n" -> lit(42))))
    assert(nameOf(cat, 2L) == Seq("patched"))
    assert(cat.read("parity").count() == 7L)
    // assignments that read columns apply in order, each seeing the
    // ones before it: ratio takes the already incremented n
    val (chained, _, _) = routesAgree(twoFiles, "parity", "row_id")(
      _.update("parity", col("row_id") === 2L,
        Map("name" -> concat(col("name"), lit("!")), "n" -> (col("n") + 1),
          "ratio" -> col("n").cast("double"))))
    assert(chained.read("parity").filter(col("row_id") === 2L)
      .select("name", "n", "ratio").collect().toSeq ==
      Seq(Row("ü" * 40 + "!", 1, 1.0)))
    val (_, d, s) = routesAgree(twoFiles, "parity", "row_id")(
      _.delete("parity", col("row_id") === 7L))
    assert(d == 1L && s == 1L)
    // a pinned predicate that matches nothing stages nothing
    val (none, _, _) = routesAgree(twoFiles, "parity", "row_id") { tx =>
      tx.update("parity", col("row_id") === 2L && col("n") === 12345,
        Map("n" -> lit(0)))
      tx.delete("parity", col("row_id") === 6L && col("n") === 12345)
    }
    assert(none.sqlSnapshot("parity", None).get._1.forall(_.dv.isEmpty))
  }

  test("parity: a second update of a row hits the file whose DV already " +
    "masks it and the patch holding its live image") {
    val build: Catalog => Unit = { c =>
      twoFiles(c)
      c.update("parity", col("row_id") === 2L, Map("n" -> lit(1)))
    }
    val (cat, _, _) = routesAgree(build, "parity", "row_id")(
      _.update("parity", col("row_id") === 2L, Map("n" -> lit(2))))
    val r2 = cat.read("parity").filter(col("row_id") === 2L).collect()
    assert(r2.map(_.getAs[Int]("n")).toSeq == Seq(2))
    // both hit files now mask id 2; only the newest patch holds it
    val fs = cat.sqlSnapshot("parity", None).get._1
    assert(fs.count(_.dv.exists(d =>
      DvIO.read(cat.io, cat.root, d._1).contains(2L))) == 2 && fs.size == 4)
    val (gone, _, _) = routesAgree(build, "parity", "row_id")(
      _.delete("parity", col("row_id") === 2L))
    assert(gone.read("parity").filter(col("row_id") === 2L).isEmpty)
  }

  test("parity: a renamed and an added column in the hit file") {
    val build: Catalog => Unit = { c =>
      withTable(c)
      c.append("parity", local(rows))
      c.renameColumn("parity", "name", "label")
      c.addColumn("parity", StructField("note", StringType))
      c.append("parity", local(Seq(Row(null, 1, "new", null, 2.0, "ñ")),
        StructType(dataSchema.fields.map(f =>
          if (f.name == "name") f.copy(name = "label") else f) :+
          StructField("note", StringType))))
    }
    val (cat, _, _) = routesAgree(build, "parity", "row_id")(
      _.update("parity", col("row_id") === 2L,
        Map("label" -> lit("relabelled"), "note" -> lit("noted"))))
    assert(nameOf(cat, 2L, "label") == Seq("relabelled"))
    assert(nameOf(cat, 2L, "note") == Seq("noted"))
    routesAgree(build, "parity", "row_id")(
      _.update("parity", col("row_id") === 6L,
        Map("label" -> concat(col("label"), lit("!")))))
    routesAgree(build, "parity", "row_id")(
      _.delete("parity", col("row_id") === 1L))
  }

  test("parity: a store root with a space and a percent sign") {
    val mk = () => {
      val root = Paths.get(Files.createTempDirectory("graft_dwrite")
        .toString, "my store %41")
      Files.createDirectories(root)
      new Catalog(spark, root.toString)
    }
    val (cat, _, _) = routesAgree(twoFiles, "parity", "row_id", mk) { tx =>
      tx.update("parity", col("row_id") === 3L, Map("n" -> lit(3)))
      tx.delete("parity", col("row_id") === 6L)
    }
    assert(cat.root.contains("my store %41"))
    assert(cat.read("parity").filter(col("row_id") === 3L)
      .select("n").head().getInt(0) == 3)
    assert(cat.read("parity").count() == 6L)
  }

  test("an over-cap hit set keeps the scan route and gives the same " +
    "result") {
    def build(c: Catalog): Unit = {
      c.createTable("big", StructType(Seq(
        StructField("b_id", LongType, nullable = false),
        StructField("v", LongType))), "b_id")
      graft.core.Sessions.withShufflePartitions(spark, 1) {
        c.append("big", spark.range(0, DriverReads.MaxRows, 1, 1).toDF("v"))
      }
    }
    val drv = freshCat()
    val scan = freshCat()
    build(drv)
    build(scan)
    assert(drv.sqlSnapshot("big", None).get._1.map(_.rows) ==
      Seq(DriverReads.MaxRows.toLong))
    val op: Catalog#Tx => Unit = { tx =>
      tx.update("big", col("b_id") === 7L, Map("v" -> lit(-7L)))
      tx.delete("big", col("b_id") === 9L)
    }
    assert(jobsIn(drv.transaction(op)) >= 1)
    scan.scanPinned(op)
    assert(shapes(drv, "big") == shapes(scan, "big"))
    assert(contents(drv.read("big"), "b_id") ==
      contents(scan.read("big"), "b_id"))
    assert(drv.read("big").filter(col("b_id") === 7L).head().getLong(1) ==
      -7L)
    assert(drv.read("big").count() == DriverReads.MaxRows - 1L)
    assert(drv.driverReads.cached("big").isEmpty)
  }

  test("write-through: a driver-staged file's seeded rows equal a fresh " +
    "Catalog's decode of it and are served without a decode") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows))
    cat.update("parity", col("row_id") === 2L,
      Map("name" -> lit("Ω patched"), "ratio" -> lit(-0.0)))
    val seeded = cat.driverReads.cached("parity")
    assert(seeded.size == 2, "the appended file and the patch")
    val fresh = new Catalog(spark, cat.root)
    assert(fresh.read("parity").count() == 5L)
    val decoded = fresh.driverReads.cached("parity")
    assert(seeded.keySet == decoded.keySet)
    seeded.foreach { case (k, rs) => assert(rs.toSeq == decoded(k).toSeq) }
    assert(contents(cat.read("parity"), "row_id") ==
      contents(cat.scanRead("parity"), "row_id"))
    // the read above served the seeded arrays as they are
    cat.driverReads.cached("parity").foreach { case (k, rs) =>
      assert(rs eq seeded(k))
    }
  }

  test("a pinned update decodes only its hit set and keeps the rest of " +
    "the cached snapshot") {
    val cat = freshCat()
    twoFiles(cat)
    val fresh = new Catalog(spark, cat.root)
    assert(fresh.read("parity").count() == 7L)
    val before = fresh.driverReads.cached("parity")
    assert(before.size == 2)
    fresh.update("parity", col("row_id") === 6L, Map("n" -> lit(6)))
    val after = fresh.driverReads.cached("parity")
    // both files are still cached as decoded, plus the seeded patch
    assert(after.size == 3)
    before.foreach { case (k, rs) => assert(after(k) eq rs) }
    // a fresh instance's pinned update decodes the hit file only
    val cold = new Catalog(spark, cat.root)
    cold.update("parity", col("row_id") === 1L, Map("n" -> lit(1)))
    assert(cold.driverReads.cached("parity").size == 2,
      "the hit file and the patch")
    assert(contents(cold.read("parity"), "row_id") ==
      contents(cold.scanRead("parity"), "row_id"))
  }

  test("a seeded file of an aborted or rebased transaction is never " +
    "served") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows.take(2)))
    intercept[IllegalStateException](cat.transaction { tx =>
      tx.append("parity", local(rows.drop(2)))
      assert(cat.driverReads.cached("parity").size == 2)
      throw new IllegalStateException("abort")
    })
    assert(cat.read("parity").count() == 2L)
    assert(cat.driverReads.cached("parity").size == 1)
    // a concurrent append makes the commit rebase this one's ids into a
    // new file; the seeded file it staged first is orphaned
    val other = new Catalog(spark, cat.root)
    val last = cat.retried { tx =>
      val id = tx.append("parity", local(rows.take(1)))
      if (other.read("parity").count() == 2L)
        other.append("parity", local(rows.drop(4)))
      () => id + tx.shiftOf("parity")
    }()
    assert(last == 4L)
    val ids = cat.read("parity").select("row_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L))
    val live = cat.sqlSnapshot("parity", None).get._1.map(_.path).toSet
    assert(cat.driverReads.cached("parity").keySet.map(_._1) == live)
    assert(contents(cat.read("parity"), "row_id") ==
      contents(cat.scanRead("parity"), "row_id"))
  }

  test("a write-only table over the cap leaves no cache entry") {
    val cat = freshCat()
    cat.createTable("wo", StructType(Seq(
      StructField("w_id", LongType, nullable = false),
      StructField("v", LongType))), "w_id")
    def batch(lo: Int, n: Int): DataFrame = spark.createDataFrame(
      (lo until lo + n).map(i => Row(i.toLong)).asJava,
      StructType(Seq(StructField("v", LongType))))
    cat.append("wo", batch(0, 3000))
    assert(cat.driverReads.cached("wo").size == 1)
    cat.append("wo", batch(3000, 1500))
    assert(cat.driverReads.cached("wo").isEmpty)
    cat.append("wo", batch(4500, 10))
    assert(cat.driverReads.cached("wo").isEmpty)
    assert(cat.read("wo").count() == 4510L)
  }

  test("job counts: a paid recordPayment and a free registerAndPay run " +
    "no job") {
    val root = Files.createTempDirectory("graft_dwrite").toString
    val p = Portal(spark, root)
    val org = p.createUser("Org", "O", "", "o@x.com", "s3cret1", "organizer")
    val paid = p.addEvent("Gala", "d", new Timestamp(1700000000000L), 64800,
      "Hall", "Music", org, BigDecimal(25))
    val free = p.addEvent("Fair", "d", new Timestamp(1700000000000L), 64800,
      "Park", "Music", org, BigDecimal(0))
    val user = p.createUser("Ada", "L", "", "a@x.com", "s3cret1")
    val reg = p.registerUserForEvent(user, paid)
    assert(jobsIn(p.recordPayment(user, reg, None, BigDecimal(25), "Card"))
      == 0)
    var out: (Long, Option[Long]) = null
    assert(jobsIn { out = p.registerAndPay(user, free) } == 0)
    assert(out._2.isDefined)
    val cat = new Catalog(spark, root)
    val status = cat.read("registrations").select("registration_id",
      "payment_status").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(status == Map(reg -> "Success", out._1 -> "Success"))
    assert(cat.read("payments").count() == 2L)
  }
}

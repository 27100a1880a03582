package graft.store

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.service.Portal
import graft.store.sql.GraftTable

/** The two read routes of the store: a snapshot whose known row count
  * is under [[DriverReads.MaxRows]] is served from driver memory as a
  * `LocalRelation`, any other is scanned. Pins that both routes give
  * the same rows and schema (nullability included) across NULLs,
  * decimals, timestamps, non-ASCII strings, deletion vectors, schema
  * evolution and renames; that the driver route sees other instances'
  * commits and never serves a file a restore or vacuum dropped; and the
  * job counts that make it worth having. */
class DriverReadSpec extends SparkSuite {

  private def freshCat(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft_dread").toString)

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

  private def served(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def scanned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] => r
    }.nonEmpty

  /** The driver-served read equals the scan of the same snapshot: same
    * schema (field order, types, nullability, metadata) and the same
    * rows in id order. */
  private def assertParity(cat: Catalog, table: String,
      idCol: String): Unit = {
    val drv = cat.read(table)
    val scan = cat.scanRead(table)
    assert(served(drv), drv.queryExecution.analyzed)
    assert(scanned(scan), scan.queryExecution.analyzed)
    assert(drv.schema == scan.schema,
      s"driver ${drv.schema.treeString} vs scan ${scan.schema.treeString}")
    assert(drv.orderBy(idCol).collect().toSeq ==
      scan.orderBy(idCol).collect().toSeq)
  }

  test("parity: NULLs, decimals, timestamps, NaN, -0.0 and non-ASCII " +
    "strings read the same on both routes") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows))
    cat.append("parity", local(rows.take(2)).repartition(1))
    assertParity(cat, "parity", "row_id")
    assert(cat.read("parity").count() == 7L)
  }

  test("parity: a DV-masked merge-on-read file serves only its live " +
    "rows and the patch's new image") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows))
    cat.update("parity", col("row_id") === 2L,
      Map("name" -> lit("patched"), "n" -> lit(42)))
    cat.delete("parity", col("row_id") === 4L)
    val fs = cat.sqlSnapshot("parity", None).get._1
    assert(fs.exists(_.dv.nonEmpty), "expected a deletion vector")
    assertParity(cat, "parity", "row_id")
    val live = cat.read("parity").collect()
    assert(live.map(_.getAs[Long]("row_id")).sorted.toSeq ==
      Seq(1L, 2L, 3L, 5L))
    assert(live.find(_.getAs[Long]("row_id") == 2L).get
      .getAs[String]("name") == "patched")
  }

  test("parity: a pre-evolution file reads through the widened schema " +
    "with the added column NULL") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows))
    assert(cat.read("parity").count() == 5L) // decoded under the old schema
    cat.addColumn("parity", StructField("note", StringType))
    cat.append("parity", local(Seq(Row(null, 1, "x", null, 2.0, "ñote")),
      StructType(dataSchema.fields :+ StructField("note", StringType))))
    assertParity(cat, "parity", "row_id")
    val notes = cat.read("parity").orderBy("row_id")
      .select("note").collect().map(r => Option(r.getString(0))).toSeq
    assert(notes == Seq.fill(5)(None) :+ Some("ñote"))
  }

  test("parity: a renamed column coalesces old- and new-epoch files") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows))
    assert(cat.read("parity").count() == 5L) // decoded under the old name
    cat.renameColumn("parity", "name", "label")
    cat.append("parity", local(Seq(Row(null, 1, "new-epoch", null, 2.0)),
      StructType(dataSchema.fields.map(f =>
        if (f.name == "name") f.copy(name = "label") else f))))
    assertParity(cat, "parity", "row_id")
    assert(cat.read("parity").select("label").collect()
      .map(r => Option(r.getString(0))).toSet ==
      (rows.map(r => Option(r.getString(2))) :+ Some("new-epoch")).toSet)
  }

  test("an empty snapshot is an empty in-memory relation") {
    val cat = withTable(freshCat())
    val df = cat.read("parity")
    assert(served(df) && df.collect().isEmpty)
    assert(df.schema.forall(_.nullable))
  }

  test("job counts: Portal's login, event lookup and event list run no " +
    "job") {
    val p = Portal(spark, Files.createTempDirectory("graft_dread").toString)
    val org = p.createUser("Org", "O", "", "o@x.com", "s3cret1", "organizer")
    val evs = (1 to 3).map(i => p.addEvent(s"Gala $i", "d",
      new Timestamp(1700000000000L - i * 86400000L), 64800, "Hall",
      "Music", org, BigDecimal(i)))
    p.createUser("Ada", "L", "", "a@x.com", "s3cret1")
    var user: Option[Row] = None
    var event: Option[Row] = None
    var list: Seq[Row] = Nil
    assert(jobsIn { user = p.authenticateUser("a@x.com", "s3cret1") } == 0)
    assert(jobsIn { event = p.getEvent(evs(1)) } == 0)
    assert(jobsIn { list = p.listEvents().collect().toSeq } == 0)
    assert(user.map(_.getAs[String]("first_name")).contains("Ada"))
    assert(event.map(_.getAs[String]("event_name")).contains("Gala 2"))
    assert(list.map(_.getAs[Long]("id")) == evs.reverse)
  }

  test("job counts: Portal's registrations page and admin dashboard run " +
    "no job") {
    val p = Portal(spark, Files.createTempDirectory("graft_dread").toString)
    val org = p.createUser("Org", "O", "", "o@x.com", "s3cret1", "organizer")
    val gala = p.addEvent("Gala", "d", new Timestamp(1700000000000L), 64800,
      "Hall", "Music", org, BigDecimal(25))
    val fair = p.addEvent("Fair", "d", new Timestamp(1600000000000L), 36000,
      "Park", "Expo", org, BigDecimal(10))
    val u = p.createUser("Ada", "L", "", "a@x.com", "s3cret1")
    // J4: two registrations of one user for one event keep the newest
    p.registerUserForEvent(u, gala)
    val newest = p.registerUserForEvent(u, gala)
    // J3: a registration paid twice shows its latest payment's status
    val twice = p.registerUserForEvent(u, fair)
    p.recordPayment(u, twice, amount = BigDecimal(10), paymentType = "OneTime",
      paymentStatus = "Failed")
    p.recordPayment(u, twice, amount = BigDecimal(10), paymentType = "OneTime")
    var regs: Seq[Row] = Nil
    var stats: Seq[Row] = Nil
    assert(jobsIn { regs = p.getUserRegistrations(u).collect().toSeq } == 0)
    assert(jobsIn { stats = p.eventStats().collect().toSeq } == 0)
    assert(regs.map(r => (r.getAs[Long]("registration_id"),
      r.getAs[String]("registration_status"),
      r.getAs[String]("latest_payment_status"))) ==
      Seq((twice, "Success", "Success"), (newest, "Pending", null)))
    assert(stats.map(r => (r.getAs[Long]("event_id"),
      r.getAs[Long]("registrations"), r.getAs[Double]("revenue"))).toSet ==
      Set((gala, 2L, 0.0), (fair, 1L, 10.0)))
  }

  test("an over-cap table plans a file scan") {
    val cat = freshCat()
    cat.createTable("big", StructType(Seq(
      StructField("b_id", LongType, nullable = false),
      StructField("v", LongType))), "b_id")
    cat.append("big", spark.range(0, DriverReads.MaxRows - 1, 1, 2)
      .toDF("v"))
    assert(served(cat.read("big")))
    cat.append("big", spark.range(0, 1, 1, 1).toDF("v"))
    val df = cat.read("big")
    assert(scanned(df) &&
      GraftTable.scannedFiles(df.queryExecution.optimizedPlan).nonEmpty)
    assert(df.count() == DriverReads.MaxRows.toLong)
  }

  test("a commit by another Catalog instance is seen") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows.take(2)))
    assert(cat.read("parity").count() == 2L)
    new Catalog(spark, cat.root).append("parity", local(rows.drop(2)))
    assert(cat.read("parity").count() == 5L)
    assertParity(cat, "parity", "row_id")
  }

  test("restoreTo and vacuum: no dropped file is served") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows.take(2)))
    val v = cat.version
    cat.append("parity", local(rows.drop(2)))
    assert(cat.read("parity").count() == 5L) // decodes both files
    cat.restoreTo(v)
    assertParity(cat, "parity", "row_id")
    assert(cat.read("parity").count() == 2L)
    cat.update("parity", col("row_id") === 1L, Map("n" -> lit(9)))
    cat.compact("parity")
    assert(cat.vacuum("parity", retainMillis = 0L) > 0)
    val left = Files.walk(Paths.get(cat.root, "parity")).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    assert(left == 1, s"expected only the compacted file, found $left")
    assertParity(cat, "parity", "row_id")
    assert(cat.read("parity").orderBy("row_id").select("n").collect()
      .map(_.get(0)).toSeq == Seq(9, 7))
  }
}

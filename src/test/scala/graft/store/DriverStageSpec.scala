package graft.store

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.service.Portal

/** The two staging routes of the store: an in-memory batch (a
  * `LocalRelation` after optimization) is staged on the driver with no
  * Spark job, anything else by one write job that also builds the
  * stats. Pins that both routes record the same file stats and ids, that
  * the driver route keeps every check the job route has (CHECKs,
  * nullability, merge-on-read masking, fsck, vacuum), and the job counts
  * that make it worth having. */
class DriverStageSpec extends SparkSuite {

  private def freshCat(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft_dstage").toString)

  private val dataSchema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("n", IntegerType),
    StructField("big", LongType),
    StructField("name", StringType),
    StructField("amount", DecimalType(10, 2)),
    StructField("flag", BooleanType)))

  private val tableSchema =
    StructType(StructField("row_id", LongType, nullable = false) +:
      dataSchema.fields)

  /** A `parity` table with value stats on every stats-able column. */
  private def withTable(cat: Catalog): Catalog = {
    cat.createTable("parity", tableSchema, "row_id",
      statsColumns = Seq("ts", "n", "big", "name"))
    cat
  }

  private val longName = "ü" * 40 + "tail" // past the string-stat prefix
  private val rows: Seq[Row] = Seq(
    Row(new Timestamp(1700000000123L), 7, 10L, "Zoë", BigDecimal("12.34")
      .bigDecimal, true),
    Row(null, -3, null, "日本語", BigDecimal("-0.01").bigDecimal, false),
    Row(new Timestamp(1600000000000L), null, Long.MaxValue, null, null,
      null),
    Row(new Timestamp(1800000000999L), Int.MaxValue, -5L, "😀 emoji",
      BigDecimal("99999999.99").bigDecimal, true),
    Row(new Timestamp(0L), 0, 0L, longName, BigDecimal("0.00").bigDecimal,
      null))

  private def local(rs: Seq[Row], schema: StructType = dataSchema)
      : DataFrame = spark.createDataFrame(rs.asJava, schema)

  private def files(cat: Catalog, table: String): Vector[FileEntry] =
    cat.sqlSnapshot(table, None).get._1

  private def parquetUnder(cat: Catalog, table: String): Seq[String] = {
    val dir = Paths.get(cat.root, table)
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
  }

  test("stats parity: the driver route records the job route's stats " +
    "(ids, rows, value/string bounds, null counts) for the same rows") {
    val viaDriver = withTable(freshCat())
    val viaJob = withTable(freshCat())
    viaDriver.append("parity", local(rows), orderBy = Seq("big"))
    // one shuffle partition: the job route's id sort then writes one file
    graft.core.Sessions.withShufflePartitions(spark, 1) {
      viaJob.append("parity", local(rows).repartition(1),
        orderBy = Seq("big"))
    }
    val Seq(d) = files(viaDriver, "parity")
    val Seq(j) = files(viaJob, "parity")
    assert(d.copy(path = "") == j.copy(path = ""))
    // and the fields the comparison rests on are really populated
    assert(d.rows == 5L && d.minId == 1L && d.maxId == 5L)
    assert(d.cols.keySet == Set("ts", "n", "big"))
    assert(d.scols.contains("name"))
    assert(d.nulls == Map("row_id" -> 0L, "ts" -> 1L, "n" -> 1L,
      "big" -> 1L, "name" -> 1L, "amount" -> 1L, "flag" -> 2L))
    // the driver-written file reads back to the same table
    val cols = tableSchema.fieldNames.map(col).toSeq
    assert(viaDriver.read("parity").select(cols: _*).orderBy("row_id")
      .collect().toSeq ==
      viaJob.read("parity").select(cols: _*).orderBy("row_id")
        .collect().toSeq)
    // one file, no .crc sidecar, no _SUCCESS marker
    val Seq(f) = parquetUnder(viaDriver, "parity")
    val siblings = Files.list(Paths.get(f).getParent).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(siblings == Seq(Paths.get(f).getFileName.toString))
    // the same footer metadata (Spark version, row schema) and codec as a
    // write task's file
    val Seq(g) = parquetUnder(viaJob, "parity")
    def footer(p: String) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p),
          new org.apache.hadoop.conf.Configuration()))
      try {
        val m = r.getFooter
        (m.getFileMetaData.getKeyValueMetaData.asScala.toMap,
          m.getBlocks.asScala.flatMap(_.getColumns.asScala)
            .map(_.getCodec).toSet)
      } finally r.close()
    }
    assert(footer(f) == footer(g))
    assert(f.endsWith(".snappy.parquet") &&
      Paths.get(f).getFileName.toString.startsWith("part-00000-"))
  }

  test("ids: a multi-row driver append honours orderBy and assigns the " +
    "job route's ids") {
    val viaDriver = withTable(freshCat())
    val viaJob = withTable(freshCat())
    for (ord <- Seq(Seq("name"), Seq("n"), Seq("ts"), Nil)) {
      val a = viaDriver.append("parity", local(rows), orderBy = ord)
      val b = viaJob.append("parity", local(rows).repartition(2),
        orderBy = ord)
      assert(a == b)
    }
    def ids(cat: Catalog) = cat.read("parity")
      .select("row_id", "big", "n", "name").orderBy("row_id").collect()
      .toSeq
    assert(ids(viaDriver) == ids(viaJob))
    // within the orderBy = name batch, ids follow name order (NULL first)
    val byName = viaDriver.read("parity").filter(col("row_id") <= 5)
      .orderBy("row_id").collect().map(r => Option(r.getAs[String]("name")))
    assert(byName.toSeq == rows.map(r => Option(r.getString(3)))
      .sortBy(_.map(s => new String(s.getBytes("UTF-8"), "ISO-8859-1"))))
  }

  test("empty driver append stages no file and returns the last id") {
    val cat = withTable(freshCat())
    assert(cat.append("parity", local(rows.take(2))) == 2L)
    val before = parquetUnder(cat, "parity")
    assert(cat.append("parity", local(Nil)) == 2L)
    assert(parquetUnder(cat, "parity") == before)
    assert(files(cat, "parity").size == 1)
    assert(cat.read("parity").count() == 2L)
  }

  test("constraints: CHECK and nullability violations fail on the " +
    "driver route as on the job route, and nothing lands") {
    val cat = withTable(freshCat())
    cat.addCheck("parity", "n_small", "n < 1000")
    val bad = Seq(Row(null, 5000, 1L, "x", null, null))
    for (df <- Seq(local(bad), local(bad).repartition(1))) {
      val e = intercept[IllegalArgumentException](cat.append("parity", df))
      assert(e.getMessage.contains("n_small"))
    }
    assert(cat.append("parity", local(rows.take(1))) == 1L)
    // a non-nullable data column
    cat.createTable("strict", StructType(Seq(
      StructField("s_id", LongType, nullable = false),
      StructField("code", StringType, nullable = false))), "s_id")
    val nul = StructType(Seq(StructField("code", StringType)))
    for (df <- Seq(local(Seq(Row("a"), Row(null)), nul),
        local(Seq(Row("a"), Row(null)), nul).repartition(1)))
      intercept[Exception](cat.append("strict", df))
    assert(cat.read("strict").count() == 0L)
    assert(cat.read("parity").count() == 1L)
  }

  test("pinned merge-on-read update on driver-staged files: old image " +
    "masked, new image visible, changefeed pairs them") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows), orderBy = Seq("big"))
    val v0 = cat.version
    cat.update("parity", col("row_id") === 2L,
      Map("name" -> lit("renamed"), "n" -> lit(42)))
    val v1 = cat.version
    val live = cat.read("parity")
    assert(live.count() == 5L)
    val r2 = live.filter(col("row_id") === 2L).collect()
    assert(r2.length == 1 && r2.head.getAs[String]("name") == "renamed" &&
      r2.head.getAs[Int]("n") == 42)
    val fs = files(cat, "parity")
    assert(fs.size == 2 && fs.exists(_.dv.exists(d =>
      DvIO.read(cat.io, cat.root, d._1).toSeq == Seq(2L))))
    val ch = cat.changesBetween("parity", v0, v1).collect()
    assert(ch.length == 2)
    // ids follow `big` ascending, NULL first: id 2 is big = -5
    assert(ch.map(r => (r.getAs[Long]("row_id"),
        r.getAs[String]("_change_type"), r.getAs[String]("name"))).toSet ==
      Set((2L, "insert", "renamed"), (2L, "delete", "😀 emoji")))
  }

  test("fsck is clean over driver-staged groups (no _SUCCESS needed)") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows))
    cat.append("parity", local(rows.take(2)).repartition(1))
    cat.update("parity", col("row_id") === 1L, Map("n" -> lit(1)))
    val report = cat.fsck("parity").collect()
    assert(report.nonEmpty && report.forall(_.getAs[Boolean]("ok")),
      report.filterNot(_.getAs[Boolean]("ok")).mkString("; "))
  }

  test("vacuum reclaims dead driver-staged files") {
    val cat = withTable(freshCat())
    cat.append("parity", local(rows.take(2)))
    cat.append("parity", local(rows.drop(2)))
    val staged = parquetUnder(cat, "parity").toSet
    assert(staged.size == 2)
    cat.compact("parity")
    assert(cat.vacuum("parity", retainMillis = 0L) == 2)
    assert(parquetUnder(cat, "parity").toSet.intersect(staged).isEmpty)
    assert(cat.read("parity").count() == 5L)
  }

  test("job counts: a Portal-shaped append runs no job, a pinned update " +
    "one") {
    val root = Files.createTempDirectory("graft_dstage").toString
    val p = Portal(spark, root)
    val org = p.createUser("Org", "O", "", "o@x.com", "s3cret1", "organizer")
    val ev = p.addEvent("Gala", "d", new Timestamp(1700000000000L), 64800,
      "Hall", "Music", org, BigDecimal(25))
    val reg = p.registerUserForEvent(org, ev)
    assert(jobsIn(p.createUser("Ada", "L", "", "a@x.com", "s3cret1")) == 0)
    assert(jobsIn(p.registerUserForEvent(org, ev)) == 0)
    val cat = new Catalog(spark, root)
    // the pinned update reads its hit file from driver memory: no job
    assert(jobsIn(cat.update("registrations",
      col("registration_id") === reg,
      Map("payment_status" -> lit("Success")))) == 0)
    assert(cat.read("registrations").filter(col("registration_id") === reg)
      .select("payment_status").head().getString(0) == "Success")
  }

  test("fallback: a non-local batch takes the job route") {
    val cat = freshCat()
    cat.createTable("ranged", StructType(Seq(
      StructField("r_id", LongType, nullable = false),
      StructField("v", LongType))), "r_id", statsColumns = Seq("v"))
    val n = jobsIn(cat.append("ranged", spark.range(0, 10, 1, 1).toDF("v")))
    // the input is one sorted partition: no id-assignment job, and the
    // write job builds the stats
    assert(n == 1, s"expected one write job, saw $n")
    val Seq(f) = files(cat, "ranged")
    assert(f.rows == 10L && f.cols("v") == ((0L, 9L)))
  }
}

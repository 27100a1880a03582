package graft.store

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.plans.SkewSalt
import graft.store.sql.GraftTable

/** The store's one scan route: every read of a snapshot over the driver
  * cap is a DSv2 relation over [[GraftTable]], the relation the SQL
  * door reads. Pins that each reader plans that scan (no file-source
  * relation, no anti-join mask), that a DataFrame filter prunes the
  * scan's files by manifest stats, that DML over deletion vectors and
  * renamed columns lands the rows it must with every file auditing
  * clean, that a DV-masked or rename-coalesced scan reports its size,
  * and that the skew census key follows the scanned files. */
class ScanRouteSpec extends SparkSuite {

  private val Files8 = 8
  private val PerFile = 640 // 8 x 640 = 5,120 rows: over the driver cap

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private val schema = StructType(Seq(
    StructField("row_id", LongType, nullable = false),
    StructField("k", LongType),
    StructField("name", StringType),
    StructField("v", LongType),
    StructField("note", StringType)))

  /** `t`: 8 files of 640 rows, k = 0..5119 in file order (disjoint k
    * ranges), `note` NULL outside the first file. */
  private def seeded(): Catalog = {
    val cat = new Catalog(spark,
      Files.createTempDirectory("graft_scanroute").toString)
    cat.createTable("t", schema, "row_id",
      statsColumns = Seq("k", "name", "v"))
    (0 until Files8).foreach { f =>
      cat.append("t", spark.range(f * PerFile, (f + 1) * PerFile, 1, 1)
        .select(col("id").as("k"), concat(lit("n"), col("id")).as("name"),
          (col("id") % 7).as("v"),
          when(col("id") < PerFile, lit("first")).as("note")))
    }
    cat
  }

  /** Pinned deletes of k = 5 + 640 i, one row per file: each file then
    * carries a deletion vector. */
  private def maskOnePerFile(cat: Catalog): Unit = {
    val ids = cat.read("t").filter(col("k") % PerFile === 5L)
      .select("row_id").collect().map(_.getLong(0))
    cat.transaction(tx =>
      ids.foreach(id => tx.delete("t", col("row_id") === id)))
  }

  private def deepCollect[T](p: SparkPlan)(
      f: PartialFunction[SparkPlan, T]): Seq[T] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    f.lift(p).toSeq ++ kids.flatMap(deepCollect(_)(f))
  }

  private def storeScans(df: DataFrame): Seq[BatchScanExec] =
    deepCollect(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.table.isInstanceOf[GraftTable] => b
    }

  /** Files the executed store scans of `df` read. */
  private def filesRead(df: DataFrame): Int =
    storeScans(df).map(b => fileScanOf(b.scan)).collect {
      case Some(fs) => fs.fileIndex.inputFiles.length
    }.sum

  private def fileScanOf(s: org.apache.spark.sql.connector.read.Scan)
      : Option[FileScan] = s match {
    case w: graft.store.sql.WrappingScan => fileScanOf(w.inner)
    case fs: FileScan => Some(fs)
    case _ => None
  }

  private def assertScanRoute(what: String, df: DataFrame): Unit = {
    val opt = df.queryExecution.optimizedPlan
    assert(storeScans(df).nonEmpty, s"$what: no store scan\n$opt")
    assert(opt.collectFirst { case l: LogicalRelation => l }.isEmpty,
      s"$what: a file-source relation\n$opt")
    assert(opt.collectFirst {
      case j: Join if j.joinType == LeftAnti => j
    }.isEmpty, s"$what: an anti-join\n$opt")
  }

  test("over the cap, read, Tx.read, readAt, changesBetween, readRange " +
    "and readWhereNull plan the store's DSv2 scan, with no anti-join " +
    "mask") {
    val cat = seeded()
    val v0 = cat.version
    maskOnePerFile(cat)
    val v1 = cat.version
    assert(cat.sqlSnapshot("t", None).get._1.forall(_.dv.isDefined))
    val dead = Files8
    val live = Files8 * PerFile - dead
    Seq[(String, DataFrame, Long)](
      ("read", cat.read("t"), live.toLong),
      ("readAt", cat.readAt("t", v0), (Files8 * PerFile).toLong),
      ("changesBetween", cat.changesBetween("t", v0, v1), dead.toLong),
      ("readRange", cat.readRange("t", "k", 650L, 1249L), 600L),
      // n4000..n4010 and n401, in binary string order
      ("readRange(string)", cat.readRange("t", "name", "n4000", "n4010"),
        12L),
      ("readWhereNull", cat.readWhereNull("t", "note", isNull = false),
        PerFile - 1L)).foreach { case (what, df, n) =>
      assert(df.count() == n, what)
      assertScanRoute(what, df)
    }
    cat.transaction { tx =>
      val df = tx.read("t")
      assert(df.count() == live.toLong)
      assertScanRoute("Tx.read", df)
    }
    // the range and null probes open only the files that can match
    assert(filesRead(cat.readRange("t", "k", 650L, 1249L)) == 1)
    assert(filesRead(cat.readWhereNull("t", "note", isNull = false)) == 1)
    assert(cat.rangeFiles("t", "k", 650L, 1249L)._1.size == 1)
    assert(cat.nullProbeFiles("t", "note", isNull = false)._1.size == 1)
  }

  test("a DataFrame filter on Catalog.read prunes the scan's files") {
    val cat = seeded()
    val df = cat.read("t").filter(col("k") >= 3 * PerFile &&
      col("k") <= 4 * PerFile - 1)
    assert(df.count() == PerFile.toLong)
    assert(filesRead(df) == 1, df.queryExecution.executedPlan)
    val kept = GraftTable.scannedFiles(df.queryExecution.optimizedPlan)
    val third = cat.sqlSnapshot("t", None).get._1
      .find(_.cols.get("k").exists(_._1 == 3L * PerFile)).get.path
    assert(kept == Seq(third))
    // an unfiltered read scans every file
    assert(filesRead(cat.read("t")) == Files8)
  }

  test("pinned and predicate updates and a merge over deletion vectors, " +
    "a renamed column and many files land the expected rows, and fsck " +
    "finds every file ok") {
    val cat = seeded()
    maskOnePerFile(cat)
    cat.delete("t", col("k") % 100 === 0L)
    cat.renameColumn("t", "v", "w")
    cat.append("t", spark.range(Files8 * PerFile, (Files8 + 1) * PerFile,
      1, 1).select(col("id").as("k"), concat(lit("n"), col("id")).as("name"),
      (col("id") % 7).as("w"), lit(null).cast("string").as("note")))
    // a pinned update on the scan route, a predicate update on the
    // renamed column, and a merge updating one key and inserting two
    val id6 = cat.read("t").filter(col("k") === 6L).select("row_id")
      .head().getLong(0)
    cat.scanPinned(_.update("t", col("row_id") === id6,
      Map("name" -> lit("pinned"))))
    cat.update("t", col("k").between(1000L, 1010L),
      Map("w" -> lit(-1L)))
    val src = spark.createDataFrame(java.util.Arrays.asList(
      Row(3L, "merged", 30L, "m"), Row(2000L, "reborn", 20L, null),
      Row(999999L, "fresh", 9L, null)),
      StructType(schema.fields.tail.map(f =>
        if (f.name == "v") f.copy(name = "w") else f)))
    assert(cat.merge("t", src, "k") == ((1L, 2L)))

    val all = (0L until (Files8 + 1L) * PerFile)
      .filterNot(k => k < Files8 * PerFile &&
        (k % 100 == 0 || k % PerFile == 5))
    val expected = (all.map { k =>
      val name = if (k == 6L) "pinned" else s"n$k"
      val w = if (k >= 1000L && k <= 1010L) -1L else k % 7
      (k, name, w, if (k < PerFile) "first" else null)
    }.filterNot(_._1 == 3L) ++ Seq((3L, "merged", 30L, "m"),
      (2000L, "reborn", 20L, null), (999999L, "fresh", 9L, null)))
      .sortBy(_._1)
    val df = cat.read("t")
    assertScanRoute("read after DML", df)
    val got = df.orderBy("k").collect().map(r => (r.getLong(1),
      r.getString(2), r.getLong(3), r.getString(4))).toSeq
    assert(got == expected)
    val ids = df.select("row_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length)

    val report = cat.fsck("t").collect()
    val live = cat.liveFiles("t").map(_._1)
    val mine = report.filter(r =>
      live.exists(p => r.getAs[String]("file").endsWith(p)))
    assert(mine.length == live.size)
    assert(mine.forall(_.getAs[Boolean]("ok")),
      mine.filterNot(_.getAs[Boolean]("ok")).mkString("; "))
  }

  test("a DV-masked or rename-coalesced SQL scan reports its size, and " +
    "a join against a small DV-masked table broadcasts it") {
    val root = Files.createTempDirectory("graft_scanstats").toString
    val cat = new Catalog(spark, root)
    Seq("clean", "masked", "renamed").foreach { t =>
      cat.createTable(t, schema, "row_id", statsColumns = Seq("k"))
      (0 until 2).foreach(f => cat.append(t,
        spark.range(f * 100, (f + 1) * 100, 1, 1).select(col("id").as("k"),
          concat(lit("n"), col("id")).as("name"), col("id").as("v"),
          lit("x").as("note"))))
    }
    cat.transaction(tx => Seq(1L, 50L, 150L).foreach(id =>
      tx.delete("masked", col("row_id") === id)))
    assert(cat.sqlSnapshot("masked", None).get._1.forall(_.dv.isDefined))
    cat.renameColumn("renamed", "v", "w")
    withConf("spark.sql.catalog.scanstats" ->
        classOf[graft.store.sql.GraftTableCatalog].getName,
      "spark.sql.catalog.scanstats.root" -> root) {
      def size(t: String): BigInt = spark.sql(s"SELECT * FROM scanstats.$t")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val clean = size("clean")
      Seq("masked", "renamed").foreach { t =>
        val s = size(t)
        assert(s < BigInt(Long.MaxValue), s"$t: no size estimate")
        assert(s * 2 >= clean && s <= clean * 2, s"$t: $s vs clean $clean")
      }
      val joined = spark.range(0, 100000000).toDF("k")
        .join(spark.sql("SELECT k, name FROM scanstats.masked"), "k")
      assert(joined.queryExecution.sparkPlan.collectFirst {
        case b: BroadcastHashJoinExec if b.buildSide == BuildRight => b
      }.nonEmpty, joined.queryExecution.sparkPlan)
    }
  }

  test("the skew census key follows a store scan's files") {
    val cat = seeded()
    withConf(SkewSalt.AutoMinLeftBytesKey -> "1") {
      spark.conf.unset(SkewSalt.ConfKey)
      SkewSalt.clearCensusCache()
      SkewSalt.resolve(None, cat.read("t"), Seq("k"))
      assert(SkewSalt.censusCacheSize == 1)
      // a re-read of the same snapshot is the same census
      SkewSalt.resolve(None, cat.read("t"), Seq("k"))
      assert(SkewSalt.censusCacheSize == 1)
      cat.append("t", spark.range(0, 10, 1, 1).select(col("id").as("k"),
        lit("x").as("name"), col("id").as("v"), lit(null).cast("string")
          .as("note")))
      SkewSalt.resolve(None, cat.read("t"), Seq("k"))
      assert(SkewSalt.censusCacheSize == 2)
    }
  }
}

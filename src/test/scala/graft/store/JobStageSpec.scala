package graft.store

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** The job route of the store's staging ([[Catalog]]'s `stageFiles`):
  * one Spark job whose tasks write the files, build their entries and
  * count CHECK violations. Pins that each file's entry is the driver
  * route's over the same rows, that `fsck` (which recomputes the stats
  * with its own aggregate) finds every writer's files exact, and that a
  * failed write lands nothing. */
class JobStageSpec extends SparkSuite {

  private def freshCat(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft_jstage").toString)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** The id sort of a job-route append yields exactly 4 partitions. */
  private def fourWay[T](body: => T): T =
    withConf("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  private val dataSchema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("ts", TimestampType),
    StructField("n", IntegerType),
    StructField("big", LongType),
    StructField("name", StringType),
    StructField("none", StringType),
    StructField("d", DoubleType),
    StructField("amount", DecimalType(10, 2))))

  private val tableSchema =
    StructType(StructField("row_id", LongType, nullable = false) +:
      dataSchema.fields)

  private val statsCols = Seq("ts", "n", "big", "name", "none")

  private def withTable(cat: Catalog, table: String = "t"): Catalog = {
    cat.createTable(table, tableSchema, "row_id", statsColumns = statsCols)
    cat
  }

  // U+FF61 sorts after a surrogate pair in UTF-16 and before it in UTF-8;
  // the longest value is the maximum, and its 32-char stat prefix would
  // end inside a surrogate pair
  private val names = Seq("Zoë", "日本語", "😀 emoji", "｡", "a", "",
    null, "ü" * 40 + "tail", "😀x" + "x😀😀" * 10, "｡" * 3)
  private val doubles = Seq[java.lang.Double](Double.NaN, -0.0, 0.0, null,
    1.5, Double.NegativeInfinity)
  private val longs = Seq[java.lang.Long](Long.MinValue, Long.MaxValue,
    null, 0L, -7L, 42L, 1L << 40)

  /** `n` rows covering NULLs, NaN/-0.0, non-ASCII and surrogate-pair
    * strings, an all-NULL designated column and far-apart timestamps. */
  private def rows(n: Int, from: Int = 0): Seq[Row] = (from until from + n)
    .map { i =>
      Row(i,
        if (i % 7 == 3) null
        else new Timestamp(-30000000000000L + i * 997000000123L),
        if (i % 5 == 2) null else Integer.valueOf((i * 37) % 101 - 50),
        longs(i % longs.size), names(i % names.size), null,
        doubles(i % doubles.size),
        if (i % 6 == 5) null
        else new java.math.BigDecimal(i * 13).movePointLeft(2))
    }

  /** A frame of `rs` that is not an in-memory batch: it takes the job
    * route. */
  private def nonLocal(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 4), dataSchema)

  private def local(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(rs.asJava, dataSchema)

  private def entries(cat: Catalog, table: String = "t")
      : Vector[FileEntry] = cat.sqlSnapshot(table, None).get._1

  /** Every path under the table's directory. */
  private def tree(cat: Catalog, table: String = "t"): Set[String] = {
    val dir = Paths.get(cat.root, table)
    if (!Files.exists(dir)) Set.empty
    else Files.walk(dir).iterator().asScala.map(_.toString).toSet
  }

  private def contents(cat: Catalog, table: String = "t"): Seq[Row] =
    cat.read(table).orderBy("row_id").collect().toSeq

  /** Fsck over `table`: one report row per live file, each ok, and no
    * other finding but (when `orphans`) unreferenced files. */
  private def assertFsckClean(cat: Catalog, table: String = "t",
      orphans: Boolean = false): Unit = {
    val report = cat.fsck(table).collect()
    val live = entries(cat, table).map(_.path).toSet
    val (mine, other) = report.partition(r => live.exists(p =>
      r.getAs[String]("file").endsWith(p)))
    assert(mine.length == live.size)
    assert(mine.forall(_.getAs[Boolean]("ok")),
      mine.filterNot(_.getAs[Boolean]("ok")).mkString("; "))
    assert(other.forall(r => r.getAs[Boolean]("ok") || (orphans &&
      r.getAs[String]("problem").startsWith("orphan"))), other.mkString("; "))
  }

  test("stats parity: each file of a 4-partition job-route append " +
    "records the driver route's stats over that file's rows") {
    val cat = withTable(freshCat())
    fourWay(cat.append("t", nonLocal(rows(240)), orderBy = Seq("k")))
    val files = entries(cat)
    assert(files.size == 4 && files.map(_.rows).sum == 240L)
    files.foreach { f =>
      val decoded = spark.read.schema(tableSchema)
        .parquet(s"${cat.root}/${f.path}").collect().toSeq
      // the same rows staged by the driver route of a fresh table
      val viaDriver = withTable(freshCat())
      viaDriver.append("t", local(decoded.map(r => Row(r.toSeq.tail: _*))),
        orderBy = Seq("k"))
      val Seq(d) = entries(viaDriver)
      val ids = decoded.map(_.getLong(0))
      assert(f.minId == ids.min && f.maxId == ids.max &&
        f.maxId - f.minId + 1 == f.rows)
      assert(d.copy(path = "", minId = 0, maxId = 0) ==
        f.copy(path = "", minId = 0, maxId = 0))
      // the fields the comparison rests on are really populated
      assert(f.cols.keySet == Set("ts", "n", "big"))
      assert(f.scols.keySet == Set("name"))
      assert(f.nulls("none") == f.rows && f.nulls("row_id") == 0L &&
        f.nulls("d") > 0L)
    }
    assertFsckClean(cat)
  }

  test("oracle: fsck finds every live file exact after job-route " +
    "append, compact, compactSmall, merge, a COW update and a rebase") {
    val cat = withTable(freshCat())
    fourWay(cat.append("t", nonLocal(rows(120)), orderBy = Seq("k")))
    assertFsckClean(cat)
    cat.compact("t", 2)
    assert(entries(cat).size == 2)
    assertFsckClean(cat)
    (0 until 3).foreach(i =>
      cat.append("t", nonLocal(rows(10, 1000 + 10 * i)), orderBy = Seq("k")))
    assert(cat.compactSmall("t", smallRows = 20, targetRows = 40) >= 3)
    assertFsckClean(cat)
    // merge: matched keys rewrite rows, new keys append
    val src = nonLocal(rows(30, 100).map(r =>
      Row(r.toSeq.updated(4, "merged"): _*)))
    cat.merge("t", src, "k")
    assertFsckClean(cat)
    withConf("spark.graft.store.mergeOnRead" -> "off") {
      cat.merge("t", nonLocal(rows(5, 10)), "k")
      cat.update("t", col("n") > 10, Map("name" -> lit("ｕｐｄａｔｅｄ"),
        "big" -> (col("big") / 2).cast("long")))
    }
    assertFsckClean(cat)
    // rebase: a commit lands on the table mid-transaction, so the
    // transaction's staged job-route file is rewritten with shifted ids
    // and the provisional file is removed once the commit lands
    val before = cat.maxId("t")
    cat.transaction { tx =>
      tx.append("t", nonLocal(rows(8, 2000)), orderBy = Seq("k"))
      cat.append("t", local(rows(2, 3000)))
    }
    assert(cat.maxId("t") == before + 10)
    val ids = cat.read("t").select("row_id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (1L to cat.maxId("t")).toSeq)
    assertFsckClean(cat)
  }

  test("a violated CHECK on a multi-partition job-route append lands " +
    "nothing and reports the total violating-row count") {
    val cat = withTable(freshCat())
    cat.append("t", nonLocal(rows(40)), orderBy = Seq("k"))
    cat.addCheck("t", "k_small", "k < 1000")
    val (files, seen, v) = (tree(cat), contents(cat), cat.version)
    // 60 of the 100 rows violate, spread over several write tasks
    val bad = rows(100, 960)
    val e = intercept[IllegalArgumentException](
      fourWay(cat.append("t", nonLocal(bad), orderBy = Seq("k"))))
    assert(e.getMessage.contains("check 'k_small' on 't' violated by 60 " +
      "incoming rows"), e.getMessage)
    assert(tree(cat) == files && contents(cat) == seen && cat.version == v)
    assertFsckClean(cat)
  }

  test("a task that throws lands nothing: an ANSI cast overflow in the " +
    "appended plan and in a copy-on-write update's write job") {
    val cat = withTable(freshCat())
    fourWay(cat.append("t", nonLocal(rows(200)), orderBy = Seq("k")))
    assert(entries(cat).size == 4)
    val (files, seen, v) = (tree(cat), contents(cat), cat.version)
    withConf("spark.sql.ansi.enabled" -> "true") {
      val overflow = nonLocal(rows(100, 500)).withColumn("n",
        when(col("k") === 577, lit(Long.MaxValue)).otherwise(col("k"))
          .cast("int"))
      intercept[Exception](
        fourWay(cat.append("t", overflow, orderBy = Seq("k"))))
      assert(tree(cat) == files && contents(cat) == seen &&
        cat.version == v)
      // the update rewrites all 4 files; the task holding k = 150 throws
      // while the others write theirs
      intercept[Exception](cat.update("t", col("k") >= 0, Map("n" ->
        when(col("k") === 150, lit(Long.MaxValue)).otherwise(col("k"))
          .cast("int"))))
      assert(tree(cat) == files && contents(cat) == seen &&
        cat.version == v)
      // the same update without the overflow writes several files
      cat.update("t", col("k") >= 0, Map("n" -> col("k")))
      assert(entries(cat).size > 1)
    }
    assertFsckClean(cat)
  }

  test("a NULL in a non-nullable column fails a job-route append in its " +
    "write task with the driver route's message, and nothing lands") {
    val cat = freshCat()
    val schema = StructType(Seq(StructField("code", StringType)))
    cat.createTable("strict", StructType(Seq(
      StructField("s_id", LongType, nullable = false),
      StructField("code", StringType, nullable = false))), "s_id")
    val rs = (0 until 40).map(i => Row(if (i == 17) null else s"c$i"))
    def messages(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).toSeq
    val want = "append to 'strict' has NULL in non-nullable column 'code'"
    for (df <- Seq(spark.createDataFrame(rs.asJava, schema),
        spark.createDataFrame(spark.sparkContext.parallelize(rs, 4),
          schema))) {
      val e = intercept[Exception](fourWay(cat.append("strict", df)))
      assert(messages(e).exists(_.contains(want)), messages(e))
    }
    assert(tree(cat, "strict").forall(!_.endsWith(".parquet")))
    assert(cat.read("strict").count() == 0L)
  }

  test("an input whose partitions are all empty stages no file and " +
    "returns the last id") {
    val cat = withTable(freshCat())
    assert(cat.append("t", nonLocal(rows(12)), orderBy = Seq("k")) == 12L)
    val (files, seen, v) = (tree(cat), contents(cat), cat.version)
    val empty = nonLocal(rows(12)).filter(col("k") < 0)
    assert(empty.rdd.getNumPartitions == 4)
    assert(fourWay(cat.append("t", empty, orderBy = Seq("k"))) == 12L)
    assert(tree(cat) == files && contents(cat) == seen)
    assert(entries(cat).size == files.count(_.endsWith(".parquet")))
    assert(cat.version <= v + 1)
  }

  test("job counts: compactSmall over 12 small files runs at most two " +
    "jobs, and its write job builds the stats") {
    val cat = withTable(freshCat())
    (0 until 12).foreach(i =>
      cat.append("t", local(rows(20, 20 * i)), orderBy = Seq("k")))
    assert(entries(cat).size == 12)
    val n = jobsIn(cat.compactSmall("t", smallRows = 100, targetRows = 400))
    assert(n <= 2, s"expected the bins' shuffle and the write job, saw $n")
    assert(entries(cat).size == 1 && entries(cat).head.rows == 240L)
    assertFsckClean(cat)
  }
}

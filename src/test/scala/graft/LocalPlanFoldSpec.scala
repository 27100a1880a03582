package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, CurrentRow, DenseRank, EqualTo, GreaterThan, Literal, Rand, Rank, RowFrame, RowNumber, ScalarSubquery, SortOrder, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LocalRelation, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.LocalPlanFold

/** [[LocalPlanFold]]: joins, aggregates and windows over small
  * in-memory relations fold into one `LocalRelation` on the driver.
  * Each folded result must equal the same query over RDD-backed
  * relations, which the rule never folds and Spark runs as jobs. The
  * inputs carry NULL keys, NaN and -0.0 keys, decimals and ranking
  * ties; every shape the rule must leave alone keeps its node. */
class LocalPlanFoldSpec extends SparkSuite {

  private val lSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("k", IntegerType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("m", DecimalType(10, 2))))

  private val rSchema = StructType(Seq(
    StructField("rid", IntegerType, nullable = false),
    StructField("rk", IntegerType),
    StructField("rd", DoubleType),
    StructField("rs", StringType),
    StructField("v", DecimalType(10, 2))))

  private def dec(s: String) = new java.math.BigDecimal(s)

  private val lRows: Seq[Row] = Seq(
    Row(1, 1, 1.0, "a", dec("1.50")),
    Row(2, 1, -0.0, "b", dec("2.25")),
    Row(3, 2, Double.NaN, "a", null),
    Row(4, null, 0.0, "A", dec("-3.00")),
    Row(5, 2, Double.NaN, "c", dec("99999999.99")),
    Row(6, 3, null, null, dec("0.01")),
    Row(7, null, 2.5, "b", dec("7.77")),
    Row(8, 1, 0.0, "a", dec("1.50")))

  private val rRows: Seq[Row] = Seq(
    Row(10, 1, 0.0, "a", dec("1.00")),
    Row(11, 1, Double.NaN, "B", dec("2.00")),
    Row(12, 2, -0.0, "a", null),
    Row(13, null, Double.NaN, "c", dec("3.00")),
    Row(14, 4, 1.0, null, dec("4.00")),
    Row(15, 2, null, "A", dec("5.00")),
    Row(16, null, null, "b", dec("6.00")))

  private def inMemory(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def fromRdd(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  /** `q` over the in-memory inputs optimizes to a `LocalRelation` and
    * gives the rows and schema `q` gives over RDD-backed inputs. */
  private def assertFolds(q: (DataFrame, DataFrame) => DataFrame,
      l: Seq[Row] = lRows, r: Seq[Row] = rRows): Unit = {
    val folded = q(inMemory(l, lSchema), inMemory(r, rSchema))
    val ref = q(fromRdd(l, lSchema), fromRdd(r, rSchema))
    assert(folded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      folded.queryExecution.optimizedPlan)
    assert(!ref.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(folded.schema == ref.schema)
    assert(sorted(folded.collect()) == sorted(ref.collect()),
      folded.queryExecution.analyzed)
  }

  /** `q` over the in-memory inputs keeps a node `keeps` finds, and
    * still gives the RDD-backed route's rows. */
  private def assertKeeps(keeps: PartialFunction[LogicalPlan, Any])(
      q: (DataFrame, DataFrame) => DataFrame): Unit = {
    val kept = q(inMemory(lRows, lSchema), inMemory(rRows, rSchema))
    val ref = q(fromRdd(lRows, lSchema), fromRdd(rRows, rSchema))
    assert(kept.queryExecution.optimizedPlan.collectFirst(keeps).nonEmpty,
      kept.queryExecution.optimizedPlan)
    assert(sorted(kept.collect()) == sorted(ref.collect()))
  }

  private val joinTypes = Seq("inner", "left_outer", "left_semi", "left_anti")

  test("equi-joins of every folded type match the job route, NULL keys " +
    "never matching under =") {
    for (jt <- joinTypes) {
      assertFolds((l, r) => l.join(r, l("k") === r("rk"), jt))
      assertFolds((l, r) => l.join(r, l("k") === r("rk") &&
        l("s") === r("rs"), jt))
    }
  }

  test("<=> keys stay null-safe") {
    for (jt <- joinTypes) {
      assertFolds((l, r) => l.join(r, l("k") <=> r("rk"), jt))
      assertFolds((l, r) => l.join(r, l("d") <=> r("rd"), jt))
    }
  }

  test("NaN and -0.0 keys match as in a hash join") {
    for (jt <- joinTypes)
      assertFolds((l, r) => l.join(r, l("d") === r("rd"), jt))
    val pairs = inMemory(lRows, lSchema).join(inMemory(rRows, rSchema),
      col("d") === col("rd")).select("id", "rid").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    // NaN = NaN; -0.0 = 0.0 both ways
    assert(Set((3, 11), (3, 13), (2, 10), (2, 12), (4, 12), (8, 10))
      .subsetOf(pairs))
  }

  test("a residual condition is applied to each matching pair") {
    for (jt <- joinTypes)
      assertFolds((l, r) => l.join(r, l("k") === r("rk") &&
        l("m") > r("v") && l("s") =!= coalesce(r("rs"), lit("")), jt))
  }

  test("an empty build side gives the job route's rows for every join " +
    "type") {
    val l = inMemory(lRows, lSchema)
    val empty = inMemory(Nil, rSchema)
    for (jt <- joinTypes) {
      // the rule alone, before Spark's empty-relation propagation
      val joined = l.join(empty, l("k") === empty("rk"), jt)
      val folded = LocalPlanFold(joined.queryExecution.analyzed)
      assert(folded.collectFirst { case j: Join => j }.isEmpty, folded)
      val ref = fromRdd(lRows, lSchema).join(fromRdd(Nil, rSchema),
        col("k") === col("rk"), jt)
      assert(sorted(GraftSqlShim.ofRows(spark, folded).collect()) ==
        sorted(ref.collect()), jt)
    }
  }

  test("grouped aggregates match the job route: count, sum, min, max, " +
    "avg, first, FILTER, decimal sums") {
    assertFolds((l, _) => l.groupBy("k").agg(count(lit(1)), count("d"),
      sum("m"), min("s"), max("d"), avg("m"), first(col("k") * 2),
      expr("sum(m) FILTER (WHERE id > 2)").as("late")))
    assertFolds((l, _) => l.groupBy("s").agg(sum("id"), max("m"),
      coalesce(sum("m"), lit(0).cast("decimal(18,2)"))))
    assertFolds((l, _) => l.groupBy(col("k") + 1).agg((sum("id") + 1)
      .as("n")).select((col("n") * 2).as("n2")))
  }

  test("NaN and -0.0 grouping keys group and come out as in " +
    "HashAggregateExec") {
    assertFolds((l, _) => l.groupBy("d").agg(count(lit(1)), sum("id")))
    val keys = inMemory(lRows, lSchema).groupBy("d").count().collect()
      .map(r => Option(r.get(0)).map(_.toString)).toSet
    assert(keys == Set(Some("1.0"), Some("0.0"), Some("NaN"), None,
      Some("2.5")))
  }

  test("a global aggregate folds, and over no rows gives one row") {
    assertFolds((l, _) => l.agg(count(lit(1)), sum("m"), max("s"),
      min("d")))
    assertFolds((l, _) => l.agg(count(lit(1)), sum("m"), max("s")),
      l = Nil)
    val df = inMemory(Nil, lSchema)
    var n = -1L
    assert(jobsIn { n = df.count() } == 0)
    assert(n == 0L)
  }

  test("row_number, rank and dense_rank windows match WindowExec") {
    // row_number's order keys are unique; rank/dense_rank see ties
    assertFolds((l, _) => l.withColumn("rn",
      row_number().over(W.partitionBy("k").orderBy(col("id").desc))))
    assertFolds((l, _) => l.withColumn("rk", rank().over(
      W.partitionBy("k").orderBy("s"))).withColumn("dr", dense_rank()
      .over(W.partitionBy("k").orderBy("s"))))
    assertFolds((l, _) => l.withColumn("rk", rank().over(
      W.partitionBy("s").orderBy(col("d").desc_nulls_last, col("m")))))
    // NaN/-0.0 partition keys, and ties on a NaN/-0.0 order key
    assertFolds((l, _) => l.withColumn("rn", row_number().over(
      W.partitionBy("d").orderBy("id"))).withColumn("dr", dense_rank()
      .over(W.partitionBy("d").orderBy("id"))))
    assertFolds((l, _) => l.withColumn("rk", rank().over(
      W.orderBy("d"))).withColumn("dr", dense_rank().over(W.orderBy("d"))))
    // Portal's latest-row-per-key shape: the window, then rn = 1
    assertFolds((l, r) => l.join(r, l("k") === r("rk"))
      .withColumn("rn", row_number().over(W.partitionBy("k")
        .orderBy(col("rid").desc, col("id").desc)))
      .filter(col("rn") === 1).drop("rn"))
  }

  test("a WindowGroupLimit folds to the rows its limit keeps") {
    val l = inMemory(lRows, lSchema).queryExecution.analyzed
    val Seq(id, k, _, str, _) = l.output
    for ((f, by, w, limit) <- Seq((RowNumber(), id, row_number(), 1),
        (Rank(Seq(str)), str, rank(), 2), (DenseRank(Seq(str)), str,
        dense_rank(), 1))) {
      val folded = LocalPlanFold(WindowGroupLimit(Seq(k),
        Seq(SortOrder(by, Ascending)), f, limit, l))
      assert(folded.isInstanceOf[LocalRelation], folded)
      val ref = fromRdd(lRows, lSchema).withColumn("x",
        w.over(W.partitionBy("k").orderBy(by.name)))
        .filter(col("x") <= limit).drop("x")
      assert(sorted(GraftSqlShim.ofRows(spark, folded).collect()) ==
        sorted(ref.collect()), f)
    }
  }

  test("Portal's shapes collect from one folded relation with no job") {
    val l = inMemory(lRows, lSchema)
    val r = inMemory(rRows, rSchema)
    val q = l.join(r, l("k") === r("rk"), "left")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("v"))
      .join(l.select("k").distinct(), Seq("k"), "left")
      .orderBy(col("k").asc_nulls_last)
    var rows: Seq[Row] = Nil
    assert(jobsIn { rows = q.collect().toSeq } == 0)
    assert(rows.map(_.get(0)) == Seq(1, 2, 3, null))
  }

  /** `q`'s filter over the in-memory input, folded by the rule alone
    * (Spark's own `ConvertToLocalRelation` never sees it), as rows. */
  private def foldedFilter(q: DataFrame => DataFrame): LogicalPlan =
    LocalPlanFold(q(inMemory(lRows, lSchema)).queryExecution.analyzed)

  test("a filter folds by its interpreted predicate: NULL conditions drop " +
    "the row under three-valued logic, as the job route does") {
    val conditions = Seq(
      col("k") > 1,
      !(col("k") > 1),
      col("k") > 1 || col("s") === "a",
      col("k") > 1 && col("s") === "a",
      !(col("k") > 1 && col("s") === "a"),
      (col("k") > 1).isNull,
      col("k").isin(1, 3) || col("d") === 0.0,
      coalesce(col("k") === 2, lit(true)),
      col("s") === lit(null).cast("string"))
    for (c <- conditions) {
      val folded = foldedFilter(_.filter(c))
      assert(folded.isInstanceOf[LocalRelation], folded)
      val toRow = CatalystTypeConverters.createToScalaConverter(
        folded.schema)
      val got = folded.asInstanceOf[LocalRelation].data
        .map(r => toRow(r).asInstanceOf[Row])
      assert(sorted(got.toArray) ==
        sorted(fromRdd(lRows, lSchema).filter(c).collect()), c)
    }
  }

  test("a filter whose predicate raises an ANSI error keeps its node, and " +
    "the job route raises the error") {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      val c = col("s").cast("int") === 1
      val kept = foldedFilter(_.filter(c))
      assert(kept.isInstanceOf[Filter], kept)
      val e = intercept[Exception](fromRdd(lRows, lSchema).filter(c).collect())
      val condition = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable => t.getCondition }
      assert(condition.contains("CAST_INVALID_INPUT"), e)
    } finally spark.conf.set(key, prev)
  }

  test("collated join keys, other join types and non-equi joins keep " +
    "their Join") {
    val join: PartialFunction[LogicalPlan, Any] = { case j: Join => j }
    assertKeeps(join)((l, r) => l.join(r,
      collate(l("s"), "UTF8_LCASE") === collate(r("rs"), "UTF8_LCASE")))
    for (jt <- Seq("right_outer", "full_outer"))
      assertKeeps(join)((l, r) => l.join(r, l("k") === r("rk"), jt))
    assertKeeps(join)((l, r) => l.join(r, l("k") < r("rk")))
  }

  test("DISTINCT and imperative aggregates, other window functions and " +
    "frames keep their node") {
    val agg: PartialFunction[LogicalPlan, Any] = { case a: Aggregate => a }
    val win: PartialFunction[LogicalPlan, Any] = { case w: Window => w }
    assertKeeps(agg)((l, _) => l.groupBy("k").agg(countDistinct("s")))
    assertKeeps(agg)((l, _) => l.groupBy("k").agg(
      sort_array(collect_list("id"))))
    assertKeeps(win)((l, _) => l.withColumn("x",
      lag("id", 1).over(W.partitionBy("k").orderBy("id"))))
    assertKeeps(win)((l, _) => l.withColumn("x",
      sum("id").over(W.partitionBy("k").orderBy("id"))))
    assertKeeps(win)((l, _) => l.withColumn("x", row_number().over(
      W.partitionBy(collate(col("s"), "UTF8_LCASE")).orderBy("id"))))
  }

  test("an ANSI overflow keeps the Aggregate and raises the job route's " +
    "error") {
    val schema = StructType(Seq(StructField("x", LongType)))
    val rows = Seq(Row(Long.MaxValue), Row(1L))
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      val kept = inMemory(rows, schema).agg(sum("x"))
      assert(kept.queryExecution.optimizedPlan
        .collectFirst { case a: Aggregate => a }.nonEmpty)
      def condition(df: DataFrame): String = {
        val e = intercept[Exception](df.collect())
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: SparkThrowable => t.getCondition }
          .getOrElse(e.toString)
      }
      val want = condition(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema).agg(sum("x")))
      assert(condition(kept) == want)
      assert(want == "ARITHMETIC_OVERFLOW")
    } finally spark.conf.set(key, prev)
  }

  test("relations at the cap and joins whose output reaches it keep " +
    "their node") {
    val cap = graft.store.DriverReads.MaxRows
    val big = inMemory((0 until cap).map(i => Row(i, i % 7, 0.0, "",
      null)), lSchema)
    val r = inMemory(rRows, rSchema)
    assert(big.groupBy("k").count().queryExecution.optimizedPlan
      .collectFirst { case a: Aggregate => a }.nonEmpty)
    val side = math.sqrt(cap.toDouble).ceil.toInt
    val dup = inMemory((0 until side).map(i => Row(i, 1, 0.0, "", null)),
      lSchema)
    val wide = inMemory((0 until side).map(i => Row(i, 1, 0.0, "", null)),
      rSchema)
    val blown = dup.join(wide, col("k") === col("rk"))
    assert(blown.queryExecution.optimizedPlan
      .collectFirst { case j: Join => j }.nonEmpty)
    assert(blown.count() == side.toLong * side)
    assert(dup.join(r, col("k") === col("rk")).queryExecution
      .optimizedPlan.isInstanceOf[LocalRelation])
  }

  // the analyzer pulls non-deterministic expressions out of joins,
  // aggregates and windows into projections, so these are built directly
  test("streaming relations, non-deterministic and subquery expressions " +
    "keep their node") {
    val la = DataTypeUtils.toAttributes(lSchema)
    val ra = DataTypeUtils.toAttributes(rSchema)
    val l = LocalRelation(la, Nil)
    val r = LocalRelation(ra, Nil)
    val keys = EqualTo(la(1), ra(1))
    val kept = Seq[LogicalPlan](
      Join(l, r, Inner, Some(And(keys, GreaterThan(Rand(Literal(1L)),
        Literal(0.5)))), JoinHint.NONE),
      Join(l, r, LeftOuter, Some(And(keys, GreaterThan(ScalarSubquery(
        Project(Seq(Alias(Literal(1), "one")()), r)), Literal(0)))),
        JoinHint.NONE),
      Join(l.copy(isStreaming = true), r, LeftSemi, Some(keys),
        JoinHint.NONE),
      Join(l, r.copy(isStreaming = true), LeftAnti, Some(keys),
        JoinHint.NONE),
      Aggregate(Seq(la(1)), Seq(Alias(Sum(Rand(Literal(1L)))
        .toAggregateExpression(), "s")()), l),
      Aggregate(Nil, Seq(Alias(Count(Seq(la(0))).toAggregateExpression(),
        "n")()), l.copy(isStreaming = true)),
      Window(Seq(Alias(WindowExpression(RowNumber(), WindowSpecDefinition(
        Seq(la(1)), Seq(SortOrder(Rand(Literal(1L)), Ascending)),
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))),
        "rn")()), Seq(la(1)), Seq(SortOrder(Rand(Literal(1L)), Ascending)),
        l))
    for (p <- kept) assert(LocalPlanFold(p) eq p, p)
    assert(LocalPlanFold(Join(l, r, Inner, Some(keys), JoinHint.NONE))
      .isInstanceOf[LocalRelation])
  }
}

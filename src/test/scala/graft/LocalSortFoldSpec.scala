package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.LocalPlanFold

/** [[LocalPlanFold]]'s sort case: a global sort over a small in-memory
  * relation is folded into a sorted `LocalRelation` on the driver. The folded
  * result must equal `SortExec`'s over the same rows (read from an RDD,
  * which the rule does not touch) for every ordering Spark supports;
  * per-partition sorts, streaming relations, non-deterministic orders
  * and relations at the row cap are left alone. */
class LocalSortFoldSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("k", IntegerType),
    StructField("d", DoubleType),
    StructField("s", StringType)))

  private val rows: Seq[Row] = Seq(
    Row(1, 3, 1.0, "b"),
    Row(2, null, -0.0, "A"),
    Row(3, 1, Double.NaN, "a"),
    Row(4, 3, 0.0, "B"),
    Row(5, null, null, null),
    Row(6, 2, Double.NegativeInfinity, "é"),
    Row(7, 1, Double.NaN, "É"),
    Row(8, 2, 0.0, "ß"),
    Row(9, 3, -0.0, "ss"),
    Row(10, null, Double.PositiveInfinity, "Z"))

  private def inMemory: DataFrame = spark.createDataFrame(rows.asJava, schema)

  private def fromRdd: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def hasSort(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case s: Sort => s }
      .nonEmpty

  /** `order` folded over the in-memory rows equals SortExec's result. */
  private def assertFolds(order: Column*): Unit = {
    val folded = inMemory.orderBy(order: _*)
    val sorted = fromRdd.orderBy(order: _*)
    assert(!hasSort(folded), folded.queryExecution.optimizedPlan)
    assert(folded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(sorted.queryExecution.sparkPlan
      .collectFirst { case s: SortExec => s }.nonEmpty)
    assert(folded.collect().toSeq == sorted.collect().toSeq,
      s"order ${order.mkString(", ")}")
  }

  test("asc/desc with NULLS FIRST and LAST match SortExec") {
    for (k <- Seq(col("k").asc, col("k").asc_nulls_last, col("k").desc,
        col("k").desc_nulls_first))
      assertFolds(k, col("id").asc)
  }

  test("multi-key sorts match SortExec") {
    assertFolds(col("k").desc_nulls_last, col("s").asc, col("id").desc)
    assertFolds(col("s").asc_nulls_last, col("k").asc)
    assertFolds((col("k") * -1).asc, length(col("s")).desc, col("id"))
  }

  test("NaN sorts greatest and -0.0 ties 0.0, as in SortExec") {
    assertFolds(col("d").asc, col("id").desc)
    assertFolds(col("d").desc, col("id").asc)
    val ds = inMemory.orderBy(col("d").asc_nulls_last, col("id").asc)
      .select("id").collect().map(_.getInt(0)).toSeq
    // -Inf, then 0.0/-0.0 by id, 1.0, +Inf, the NaNs, NULL last
    assert(ds == Seq(6, 2, 4, 8, 9, 1, 10, 3, 7, 5))
  }

  test("a collated string order matches SortExec") {
    assertFolds(collate(col("s"), "UTF8_LCASE").asc, col("id").asc)
    assertFolds(collate(col("s"), "UNICODE_CI").desc, col("id").asc)
  }

  test("a limit over the folded sort collects the top rows with no job") {
    var top: Seq[Row] = Nil
    val df = inMemory.orderBy(col("id").desc).limit(3)
    assert(jobsIn { top = df.collect().toSeq } == 0)
    assert(top.map(_.getInt(0)) == Seq(10, 9, 8))
  }

  test("per-partition sorts and over-cap relations keep their Sort") {
    assert(hasSort(inMemory.sortWithinPartitions("k")))
    val big = spark.createDataFrame(
      (0 until graft.store.DriverReads.MaxRows).map(i => Row(i, i, 0.0, ""))
        .asJava, schema)
    assert(hasSort(big.orderBy(col("k").desc)))
  }

  // the analyzer pulls a non-deterministic order key out into a
  // projection below the sort, so these two shapes are built directly
  test("a streaming relation and a non-deterministic order keep their " +
    "Sort") {
    val attrs = DataTypeUtils.toAttributes(schema)
    val data = rows.take(3).map(r => InternalRow(r.getInt(0), r.get(1),
      r.get(2), UTF8String.fromString(r.getString(3))))
    val streaming = Sort(Seq(SortOrder(attrs(1), Ascending)), global = true,
      LocalRelation(attrs, data, isStreaming = true))
    assert(LocalPlanFold(streaming) eq streaming)
    val random = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)),
      global = true, LocalRelation(attrs, data))
    assert(LocalPlanFold(random) eq random)
    val fixed = Sort(Seq(SortOrder(attrs(0), Descending)), global = true,
      LocalRelation(attrs, data))
    assert(LocalPlanFold(fixed).isInstanceOf[LocalRelation])
  }
}

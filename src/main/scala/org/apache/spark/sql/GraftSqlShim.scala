package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal `private[sql]` bridge for graft's custom-plan tier (the usual
  * pattern for Spark extension libraries): wraps an already-analyzed
  * custom [[LogicalPlan]] into a DataFrame (and marks a plan analyzed),
  * wraps a catalyst expression as a column, and exposes `asNullable`
  * and the float-key normalization of hash operators. Nothing else
  * from the sql package's private surface is touched.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over `plan`, which the caller guarantees is resolved
    * and checked (an analyzed plan with resolved leaves and literals put
    * in place of its own resolved leaves): it is marked analyzed, so the
    * analyzer does not run over it again. */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }

  /** A column over the catalyst expression `e`, as is. */
  def column(e: Expression): Column = {
    import classic.ClassicConversions._
    Column(e)
  }

  /** Re-wrap a batch DataFrame as an `isStreaming = true` frame (the V1
    * streaming `Source.getBatch` contract — MicroBatchExecution asserts
    * the flag). The batch plan executes lazily inside the micro-batch
    * via its InternalRow RDD; the FileStreamSource/DeltaSource pattern. */
  def streamingFrame(spark: SparkSession, batch: DataFrame): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      batch.queryExecution.toRdd, batch.schema, isStreaming = true)

  /** The inverse for a V1 streaming `Sink.addBatch` input: the frame a
    * sink receives is planned incrementally and only valid inside the
    * call — re-planning it in another query context misbehaves (the
    * documented V1 sink caveat; DeltaSink snapshots the same way).
    * Wrapping the INCREMENTAL execution's RDD as a plain batch frame
    * pins the physical plan while staying lazy. */
  def batchFrame(spark: SparkSession, streamed: DataFrame): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      streamed.queryExecution.toRdd, streamed.schema, isStreaming = false)

  /** `schema` with every field nullable, nested fields included: the
    * schema a file scan reports for a user-given read schema. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** `key` with float values normalized (NaN = NaN, -0.0 = 0.0), as
    * Spark's hash joins, aggregates and window partitions compare keys. */
  def normalizeFloats(key: Expression): Expression =
    NormalizeFloatingNumbers.normalize(key)
}

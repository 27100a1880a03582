package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Strictly sequential dot product of two double arrays:
  * `sum_i a[i] * b[i]`, accumulated left-to-right so the result is
  * bit-identical to the oracle's `list_reduce` fold.
  *
  * Native Catalyst expression with `doGenCode`: the built-in
  * `aggregate(zip_with(...))` composition is CodegenFallback (interpreted
  * lambda per row) — two orders of magnitude slower on the similarity
  * hot path, where a 100 TB corpus evaluates this once per candidate pair.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def okType(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left.dataType) && okType(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecDot.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Left-to-right fold over ArrayData in place — no per-call array
    * allocation (this runs once per candidate pair on the hot path). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Idempotently register and call (Column-from-Expression is
    * session-private in Spark 4, same pattern as RollingHash). */
  def vec_dot(spark: SparkSession, a: Column, b: Column): Column = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(
        "vec_dot", exprs => VecDot(exprs(0), exprs(1)), "built-in")
    call_function("vec_dot", a, b)
  }
}

package graft.plans

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, BindReferences, BoundReference, CurrentRow, DenseRank, Expression, If, IntegerLiteral, InterpretedMutableProjection, InterpretedOrdering, InterpretedUnsafeProjection, JoinedRow, Predicate, Rank, RowFrame, RowNumber, SortOrder, SpecificInternalRow, SpecifiedWindowFrame, UnboundedPreceding, Unevaluable, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, Project, Sort, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils

import graft.store.DriverReads.MaxRows

/** Folds an operator whose children are all small in-memory relations
  * into an in-memory relation holding its result, computed on the
  * driver with Spark's interpreted expressions. Spark itself folds
  * only projections, filters and limits over a `LocalRelation`
  * (`ConvertToLocalRelation`); any join, aggregate, window or sort over
  * one still plans exchanges and runs jobs for a handful of rows. With
  * this rule a plan whose leaves are all driver-served store snapshots
  * ([[graft.store.DriverReads]]) or local frames optimizes to one
  * `LocalRelation`, which collects with no Spark job.
  *
  * Works bottom-up in one `transformUp`, so every child has already
  * been folded when its parent is looked at. An operator folds when
  * every child is a non-streaming `LocalRelation` under the store's
  * driver-route row cap ([[graft.store.DriverReads.MaxRows]]), its
  * output stays under the cap, and every expression it evaluates is
  * deterministic and evaluable on the driver (no subquery). It folds:
  *  - projections, filters and limits, as `ConvertToLocalRelation`;
  *  - a global `Sort`, by `InterpretedOrdering` (`SortExec`'s
  *    comparison: NULLS FIRST/LAST, NaN greatest, -0.0 = 0.0,
  *    collation-aware strings);
  *  - an equi-`Join` (inner, left outer, left semi, left anti, with a
  *    residual condition) as a hash join does: a NULL key under `=`
  *    never matches, `<=>` keys stay null-safe, and float keys are
  *    normalized so NaN = NaN and -0.0 = 0.0;
  *  - an `Aggregate` whose functions are all `DeclarativeAggregate`s
  *    (no DISTINCT), one buffer per group updated by
  *    `InterpretedMutableProjection`; grouping keys compare and come
  *    out normalized, as `HashAggregateExec`'s do; a global aggregate
  *    over no rows gives one row;
  *  - a `Window` of `row_number`, `rank` and `dense_rank` over ROWS
  *    UNBOUNDED PRECEDING..CURRENT ROW, and a `WindowGroupLimit` of
  *    one of them, each partition sorted by `InterpretedOrdering` and
  *    the functions run over it as `WindowExec` runs them.
  * A join, grouping or window partition key whose type does not
  * compare by its bytes (a non-binary collation) keeps its node, and so
  * does an operator whose evaluation throws (an ANSI overflow, say):
  * the job route then raises the error as it always has. */
object LocalPlanFold extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case p if p.children.nonEmpty && p.children.forall(small) =>
        try fold(p).getOrElse(p) catch { case NonFatal(_) => p }
    }

  private def small(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => !l.isStreaming && l.data.size < MaxRows
    case _ => false
  }

  /** Whether `e` evaluates on the driver with Spark's interpreted
    * evaluators: deterministic, and nothing in it is `Unevaluable` (a
    * subquery, say). A `RuntimeReplaceable` passes and does not
    * evaluate: replace it first, as the optimizer does. */
  private[graft] def evaluable(e: Expression): Boolean =
    e.deterministic && !e.exists(x =>
      x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

  private def binaryStable(keys: Seq[Expression]): Boolean =
    keys.forall(k => UnsafeRowUtils.isBinaryStable(k.dataType))

  private def fold(p: LogicalPlan): Option[LogicalPlan] = p match {
    case _: Project | _: Filter => Some(ConvertToLocalRelation(p))
    case GlobalLimit(IntegerLiteral(n), l: LocalRelation) =>
      Some(l.copy(data = l.data.take(n)))
    case LocalLimit(IntegerLiteral(n), l: LocalRelation) =>
      Some(l.copy(data = l.data.take(n)))
    case Sort(order, true, l: LocalRelation, _)
        if order.forall(o => evaluable(o.child)) =>
      Some(l.copy(data = l.data.sorted(new InterpretedOrdering(order,
        l.output))))
    case j: Join => foldJoin(j)
    case a @ Aggregate(_, _, l: LocalRelation, _) => foldAggregate(a, l)
    case w @ Window(_, partition, order, l: LocalRelation, _) =>
      val fns = w.windowExpressions.collect {
        case Alias(WindowExpression(f @ (_: RowNumber | _: Rank |
            _: DenseRank), spec), _)
            if spec.frameSpecification == RunningRows =>
          f.asInstanceOf[DeclarativeAggregate]
      }
      if (fns.size < w.windowExpressions.size) None
      else running(l, partition, order, fns).map { ranked =>
        val toRow = unsafe(w.output)
        val pair = new JoinedRow
        LocalRelation(w.output, ranked.map { case (row, values) =>
          toRow(pair(row, values)).copy() })
      }
    case WindowGroupLimit(partition, order, f @ (_: RowNumber |
        _: Rank | _: DenseRank), limit, l: LocalRelation) =>
      running(l, partition, order, Seq(f.asInstanceOf[DeclarativeAggregate]))
        .map(ranked => l.copy(data = ranked.collect {
          case (row, values) if values.getInt(0) <= limit => row
        }))
    case _ => None
  }

  private val RunningRows =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)

  /** Key rows a hash operator compares by their bytes: float values
    * normalized (NaN = NaN, -0.0 = 0.0), as `NormalizeFloatingNumbers`
    * makes Spark's joins, aggregates and window partitions do. */
  private def keys(exprs: Seq[Expression], input: Seq[Attribute])
      : UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(BindReferences
      .bindReferences(exprs.map(GraftSqlShim.normalizeFloats), input))

  /** Lays rows of `output`'s shape out as `UnsafeRow`s. */
  private def unsafe(output: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(output.zipWithIndex.map {
      case (a, i) => BoundReference(i, a.dataType, nullable = true)
    })

  private def foldJoin(j: Join): Option[LogicalPlan] = j match {
    case ExtractEquiJoinKeys(jt @ (Inner | LeftOuter | LeftSemi | LeftAnti),
        lKeys, rKeys, cond, _, l: LocalRelation, r: LocalRelation, _)
        if (lKeys ++ rKeys ++ cond).forall(evaluable) &&
          binaryStable(lKeys) && binaryStable(rKeys) =>
      val build = mutable.HashMap.empty[UnsafeRow,
        mutable.ArrayBuffer[InternalRow]]
      val rKey = keys(rKeys, r.output)
      r.data.foreach { row =>
        val k = rKey(row)
        if (!k.anyNull)
          build.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty) += row
      }
      val residual = cond.map(c =>
        Predicate.createInterpreted(BindReferences.bindReference(c,
          l.output ++ r.output)))
      val pair = new JoinedRow
      val lKey = keys(lKeys, l.output)
      val toRow = unsafe(j.output)
      val nulls = new SpecificInternalRow(r.output.map(_.dataType))
      val out = mutable.ArrayBuffer.empty[InternalRow]
      val it = l.data.iterator
      while (it.hasNext && out.size < MaxRows) {
        val row = it.next()
        // a key with a NULL finds no match: the build side holds none
        val hits = build.getOrElse(lKey(row), Nil)
          .filter(h => residual.forall(_.eval(pair(row, h))))
        jt match {
          case LeftSemi => if (hits.nonEmpty) out += row
          case LeftAnti => if (hits.isEmpty) out += row
          case LeftOuter if hits.isEmpty =>
            out += toRow(pair(row, nulls)).copy()
          case _ => hits.foreach(h => out += toRow(pair(row, h)).copy())
        }
      }
      if (out.size < MaxRows) Some(LocalRelation(j.output, out.toSeq))
      else None
    case _ => None
  }

  private def foldAggregate(a: Aggregate, l: LocalRelation)
      : Option[LogicalPlan] = {
    val aggs = a.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae }).distinct
    val fns = aggs.map(_.aggregateFunction).collect {
      case f: DeclarativeAggregate => f
    }
    val groups = a.groupingExpressions
    if (fns.size < aggs.size || aggs.exists(_.isDistinct) ||
        !binaryStable(groups)) return None
    val groupAttrs = groups.map(g => AttributeReference("group",
      g.dataType)())
    val results = a.aggregateExpressions.map(_.transformDown {
      case ae: AggregateExpression => fns(aggs.indexOf(ae)).evaluateExpression
      case e if !e.foldable && groups.exists(_.semanticEquals(e)) =>
        groupAttrs(groups.indexWhere(_.semanticEquals(e)))
    })
    // a FILTER (WHERE ..) clause leaves the buffer as it is on other rows
    val updates = aggs.zip(fns).flatMap { case (ae, f) =>
      ae.filter.fold(f.updateExpressions)(c =>
        f.updateExpressions.zip(f.aggBufferAttributes).map {
          case (u, b) => If(c, u, b)
        })
    }
    val buffers = new Buffers(fns, updates, l.output)
    if (!(groups ++ buffers.exprs ++ results).forall(evaluable)) return None
    val key = keys(groups, l.output)
    val states = mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
    l.data.foreach { row =>
      val k = key(row)
      val b = states.getOrElse(k, {
        val b = buffers.fresh()
        states(k.copy()) = b
        b
      })
      buffers.update(b, row)
    }
    if (groups.isEmpty && states.isEmpty)
      states(key(InternalRow.empty).copy()) = buffers.fresh()
    val project = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(results, groupAttrs ++ buffers.attrs))
    val pair = new JoinedRow
    Some(LocalRelation(a.output, states.iterator.map { case (k, b) =>
      project(pair(k, b)).copy(): InternalRow }.toSeq))
  }

  /** The rows of `l`, partitioned by `partition` and each partition
    * sorted by `order`, each paired with the values of `fns` over the
    * frame ROWS UNBOUNDED PRECEDING..CURRENT ROW; None when an
    * expression cannot be folded. */
  private def running(l: LocalRelation, partition: Seq[Expression],
      order: Seq[SortOrder], fns: Seq[DeclarativeAggregate])
      : Option[Seq[(InternalRow, InternalRow)]] = {
    val buffers = new Buffers(fns, fns.flatMap(_.updateExpressions), l.output)
    val evals = fns.map(_.evaluateExpression)
    if (!(partition ++ order.map(_.child) ++ buffers.exprs ++ evals)
        .forall(evaluable) || !binaryStable(partition)) return None
    val key = keys(partition, l.output)
    val parts = mutable.LinkedHashMap.empty[UnsafeRow,
      mutable.ArrayBuffer[InternalRow]]
    l.data.foreach { row =>
      parts.getOrElseUpdate(key(row).copy(), mutable.ArrayBuffer.empty) += row
    }
    val evaluate = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(evals, buffers.attrs))
    val ordering = new InterpretedOrdering(order, l.output)
    Some(parts.values.toSeq.flatMap { rows =>
      val b = buffers.fresh()
      rows.sorted(ordering).map { row =>
        buffers.update(b, row)
        (row, evaluate(b).copy(): InternalRow)
      }
    })
  }

  /** Aggregation buffers of `fns` over rows of `input`: [[fresh]] makes
    * one at the functions' initial values, [[update]] runs `updates`
    * (the functions' update expressions, in buffer order) over it and
    * a row, as `AggregationIterator` and `WindowExec` do. */
  private final class Buffers(fns: Seq[DeclarativeAggregate],
      updates: Seq[Expression], input: Seq[Attribute]) {
    val attrs: Seq[AttributeReference] = fns.flatMap(_.aggBufferAttributes)
    private val inits = fns.flatMap(_.initialValues)
    /** Every expression the buffers evaluate. */
    val exprs: Seq[Expression] = inits ++ updates
    private val init = new InterpretedMutableProjection(inits, Nil)
    private val step = new InterpretedMutableProjection(updates,
      attrs ++ input)
    private val pair = new JoinedRow

    def fresh(): InternalRow = {
      val b = new SpecificInternalRow(attrs.map(_.dataType))
      init.target(b)(InternalRow.empty)
      b
    }

    def update(b: InternalRow, row: InternalRow): Unit =
      step.target(b)(pair(b, row))
  }
}

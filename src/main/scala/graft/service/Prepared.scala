package graft.service

import java.util.concurrent.atomic.AtomicReference

import scala.collection.immutable.AbstractSeq

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{DataType, StructType}

import graft.store.Catalog

/** A read over the store built once and bound per call: `build` writes
  * the query as frame operations over one frame per table of `tables`
  * and [[Prepared.param]]s, and [[apply]] runs it on the tables' current
  * snapshots with the call's parameter values.
  *
  * `build` runs against placeholders (an empty `LocalRelation` per table,
  * with the table's scan schema) and its analyzed plan is kept as the
  * template: the query is analyzed once per template, not once per frame
  * operation per call. A call binds the template: each placeholder
  * becomes a projection aliasing the table's current relation
  * ([[Catalog.relation]]) to the placeholder's attributes, and each
  * parameter the `Literal` of its value and type. Binding swaps resolved
  * leaves for resolved leaves of the same schema and types, so the bound
  * plan goes to the optimizer without another analysis. The relation is
  * the driver's in-memory rows under the driver-route cap and the scan
  * relation above it, and the bind is the same for both.
  *
  * Invariants:
  *  - a placeholder is recognised by its rows' identity ([[Slot]]), not
  *    by attribute ids: the analyzer re-instances a relation a query
  *    uses twice;
  *  - a template is immutable and shared by concurrent callers; it is
  *    rebuilt when a table's scan schema differs from the one it was
  *    built over (a column added or renamed);
  *  - a template never runs unbound: it is never handed out as a frame,
  *    and a parameter cannot be evaluated. */
private[service] final class Prepared(cat: Catalog, tables: String*)(
    build: Map[String, DataFrame] => DataFrame) {

  import Prepared.{Slot, Template}

  private val template = new AtomicReference[Template]()

  /** The read on the current snapshots, each [[Prepared.param]] named
    * in `values` bound to its value. */
  def apply(values: (String, Any)*): DataFrame = {
    val relations = tables.map(t => t -> cat.relation(t)).toMap
    val shapes = relations.map { case (t, r) => t -> r.schema }
    val current = template.get
    val tpl =
      if (current != null && current.shapes == shapes) current
      else {
        val fresh = prepare(shapes)
        template.set(fresh)
        fresh
      }
    GraftSqlShim.ofAnalyzed(cat.spark, tpl.bind(relations, values.toMap))
  }

  private def prepare(shapes: Map[String, StructType]): Template = {
    val slots = shapes.map { case (t, _) => t -> new Slot(t) }
    val frames = shapes.map { case (t, schema) =>
      t -> GraftSqlShim.ofRows(cat.spark,
        LocalRelation(DataTypeUtils.toAttributes(schema), slots(t)))
    }
    Template(build(frames).queryExecution.analyzed, shapes, slots)
  }
}

private[service] object Prepared {

  /** A typed parameter of a prepared read, named `name`. */
  def param(name: String, dataType: DataType): Column =
    GraftSqlShim.column(Param(name, dataType))

  /** The parameter leaf: replaced by a `Literal` of its type at bind and
    * never evaluable, so a plan holding one cannot run. Nullable, so no
    * attribute the template derives from it promises a non-NULL that a
    * bound NULL would break (the bound plan is not analyzed again). */
  private final case class Param(name: String, dataType: DataType)
      extends LeafExpression with Unevaluable {
    override def nullable: Boolean = true
  }

  /** The rows of `table`'s placeholder relation: none, and told apart
    * from any other relation's by identity. */
  private final class Slot(val table: String)
      extends AbstractSeq[InternalRow] {
    override def apply(i: Int): InternalRow =
      throw new IndexOutOfBoundsException(s"placeholder of '$table'")
    override def length: Int = 0
    override def iterator: Iterator[InternalRow] = Iterator.empty
  }

  /** An analyzed plan over the placeholders `slots` of tables whose scan
    * schemas were `shapes`. */
  private final case class Template(plan: LogicalPlan,
      shapes: Map[String, StructType], slots: Map[String, Slot]) {

    /** `plan` over `relations` (one per table, output as `shapes`), each
      * parameter replaced by the `Literal` of its value in `values`. A
      * table the plan reads twice gets a fresh instance of its relation
      * per read. */
    def bind(relations: Map[String, LogicalPlan],
        values: Map[String, Any]): LogicalPlan = {
      val used = scala.collection.mutable.Set.empty[String]
      plan.transformUp {
        case l @ LocalRelation(_, s: Slot, _, _)
            if slots.get(s.table).exists(_ eq s) =>
          val r = relations(s.table) match {
            case m: MultiInstanceRelation if !used.add(s.table) =>
              m.newInstance()
            case r => r
          }
          Project(r.output.zip(l.output).map { case (a, p) =>
            Alias(a, p.name)(exprId = p.exprId)
          }, r)
      }.transformAllExpressions {
        case Param(name, dataType) =>
          Literal.create(values.getOrElse(name,
            throw new NoSuchElementException(
              s"prepared read parameter '$name' is not bound")), dataType)
      }
    }
  }
}

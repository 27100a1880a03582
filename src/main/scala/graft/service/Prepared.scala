package graft.service

import java.util.concurrent.ThreadLocalRandom
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExpressionWithRandomSeed, LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ConstantFolding
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

import graft.plans.LocalPlanFold
import graft.store.Catalog
import graft.store.DriverReads.MaxRows

/** A read over the store built once and bound per call: `build` writes
  * the query as frame operations over one frame per table of `tables`
  * and [[Prepared.param]]s, and [[apply]] runs it on the tables' current
  * snapshots with the call's parameter values.
  *
  * `build` runs against placeholders (an opaque leaf per table with the
  * table's scan schema, [[Prepared.Placeholder]]) and its analyzed plan
  * is kept as the template: the query is analyzed once per template,
  * not once per frame operation per call. The session optimizer also
  * runs over the template once, at build time, unless the template
  * holds an expression the optimizer evaluates when it runs (a
  * `CurrentLike`, such as `current_timestamp()`) or one that is not
  * deterministic (`rand()`): optimized once, those would give every
  * call the same value.
  *
  * A call reads all its tables at one committed version
  * ([[Catalog.relations]]) and picks its route:
  *  - when the template has an optimized form and every table is the
  *    driver's in-memory rows, the optimized template is bound (each
  *    placeholder becomes a `LocalRelation` of the snapshot's rows under
  *    the placeholder's own attributes, each parameter the `Literal` of
  *    its value, then `ConstantFolding`) and [[LocalPlanFold]] folds it
  *    into one `LocalRelation`: no optimizer pass and no Spark query;
  *  - otherwise, or when the fold declines a node, the analyzed
  *    template is bound (each placeholder becomes a projection aliasing
  *    the table's relation, in memory or the scan, to the placeholder's
  *    attributes) and optimized as any query is. This is the only route
  *    over the driver-route cap, and the route that raises the errors
  *    the fold declines to raise (an ANSI overflow, say).
  * Binding swaps resolved leaves for resolved leaves of the same schema
  * and types, so neither bound plan is analyzed again. Both routes give
  * the analyzed template's output.
  *
  * Invariants:
  *  - a template is immutable and shared by concurrent callers; it is
  *    rebuilt when a table's scan schema differs from the one it was
  *    built over (a column added or renamed);
  *  - a template never runs unbound: it is never handed out as a frame,
  *    and a parameter cannot be evaluated;
  *  - each bind draws fresh seeds for the template's random
  *    expressions, as a frame built anew for the call would. */
private[service] final class Prepared(cat: Catalog, tables: String*)(
    build: Map[String, DataFrame] => DataFrame) {

  import Prepared.{Placeholder, Template}

  private val template = new AtomicReference[Template]()

  /** The read on the current snapshots, each [[Prepared.param]] named
    * in `values` bound to its value. */
  def apply(values: (String, Any)*): DataFrame =
    GraftSqlShim.ofAnalyzed(cat.spark, plan(values: _*))

  /** The read's first row, as `apply(values).collect().headOption` gives
    * it; a folded read's row is converted on the driver, with no query. */
  def first(values: (String, Any)*): Option[Row] = plan(values: _*) match {
    case l: LocalRelation => l.data.headOption.map(Prepared.toRow(cat, l))
    case p => GraftSqlShim.ofAnalyzed(cat.spark, p).collect().headOption
  }

  /** The call's plan: the folded `LocalRelation`, or the bound analyzed
    * template the optimizer still has to run over. */
  private[service] def plan(values: (String, Any)*): LogicalPlan = {
    val (tpl, relations) = current()
    val params = values.toMap
    tpl.bindLocal(relations, params).map(LocalPlanFold(_)).collect {
      case l: LocalRelation => LocalRelation(tpl.plan.output, l.data)
    }.getOrElse(tpl.bind(relations, params))
  }

  /** The tables' current relations, of one version, and the template
    * built over their schemas. */
  private[service] def current(): (Template, Map[String, LogicalPlan]) = {
    val relations = cat.relations(tables)
    val shapes = relations.map { case (t, r) => t -> r.schema }
    val known = template.get
    if (known != null && known.shapes == shapes) (known, relations)
    else {
      val fresh = prepare(shapes)
      template.set(fresh)
      (fresh, relations)
    }
  }

  private def prepare(shapes: Map[String, StructType]): Template = {
    val frames = shapes.map { case (t, schema) =>
      t -> GraftSqlShim.ofRows(cat.spark,
        Placeholder(t, DataTypeUtils.toAttributes(schema)))
    }
    val qe = build(frames).queryExecution
    val reusable = qe.analyzed.deterministic && !qe.analyzed.exists(
      _.expressions.exists(_.containsPattern(CURRENT_LIKE)))
    Template(qe.analyzed, Option.when(reusable)(qe.optimizedPlan), shapes)
  }
}

private[service] object Prepared {

  /** A typed parameter of a prepared read, named `name`. */
  def param(name: String, dataType: DataType): Column =
    GraftSqlShim.column(Param(name, dataType))

  /** The rows of `l` as external rows, converted as `collect` converts
    * them under `cat`'s session conf (java8 datetime API or not). */
  private[service] def toRow(cat: Catalog,
      l: LocalRelation): Any => Row = {
    val convert = SQLConf.withExistingConf(cat.spark.sessionState.conf)(
      CatalystTypeConverters.createToScalaConverter(l.schema))
    r => convert(r).asInstanceOf[Row]
  }

  /** The parameter leaf: replaced by a `Literal` of its type at bind and
    * never evaluable, so a plan holding one cannot run. Nullable, so no
    * attribute the template derives from it promises a non-NULL that a
    * bound NULL would break (the bound plan is not analyzed again). */
  private final case class Param(name: String, dataType: DataType)
      extends LeafExpression with Unevaluable {
    override def nullable: Boolean = true
  }

  /** The placeholder of `table` in a template: a leaf no optimizer rule
    * knows, so the optimizer keeps it where the analyzer put it and
    * evaluates nothing over it (an empty `LocalRelation` would be
    * folded away). It reports the size of a table at the driver-route
    * cap. */
  private[service] final case class Placeholder(table: String,
      output: Seq[Attribute]) extends LeafNode with MultiInstanceRelation {
    override def newInstance(): Placeholder =
      copy(output = output.map(_.newInstance()))
    override def computeStats(): Statistics =
      Statistics(sizeInBytes =
        EstimationUtils.getSizePerRow(output) * MaxRows)
  }

  /** An analyzed plan over placeholders of tables whose scan schemas
    * were `shapes`, and its optimized form when it may be reused. */
  private[service] final case class Template(plan: LogicalPlan,
      optimized: Option[LogicalPlan], shapes: Map[String, StructType]) {

    /** `optimized` over the in-memory `relations`, parameters bound and
      * constants folded; None when there is no optimized form or a
      * table is not in memory. */
    def bindLocal(relations: Map[String, LogicalPlan],
        values: Map[String, Any]): Option[LogicalPlan] = {
      val rows = relations.collect { case (t, l: LocalRelation) => t -> l.data }
      optimized.filter(_ => rows.size == relations.size).map { opt =>
        ConstantFolding(bindParams(opt.transformUp {
          case p: Placeholder => LocalRelation(p.output, rows(p.table))
        }, values))
      }
    }

    /** `plan` over `relations` (one per table, output as `shapes`), each
      * parameter replaced by the `Literal` of its value in `values`. A
      * table the plan reads twice gets a fresh instance of its relation
      * per read. */
    def bind(relations: Map[String, LogicalPlan],
        values: Map[String, Any]): LogicalPlan = {
      val used = scala.collection.mutable.Set.empty[String]
      bindParams(plan.transformUp {
        case p: Placeholder =>
          val r = relations(p.table) match {
            case m: MultiInstanceRelation if !used.add(p.table) =>
              m.newInstance()
            case r => r
          }
          Project(r.output.zip(p.output).map { case (a, o) =>
            Alias(a, o.name)(exprId = o.exprId)
          }, r)
      }, values)
    }

    private def bindParams(p: LogicalPlan,
        values: Map[String, Any]): LogicalPlan =
      p.transformAllExpressions {
        case Param(name, dataType) =>
          Literal.create(values.getOrElse(name,
            throw new NoSuchElementException(
              s"prepared read parameter '$name' is not bound")), dataType)
        case e: ExpressionWithRandomSeed =>
          e.withNewSeed(ThreadLocalRandom.current().nextLong())
      }
  }
}

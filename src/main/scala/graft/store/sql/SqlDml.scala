package graft.store.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.LongType

import graft.store.Catalog

/** SQL DML routed into the transactional store: `UPDATE`,
  * `DELETE FROM`, and `MERGE INTO` as pure SQL text against the
  * [[GraftTableCatalog]], executed by the SAME engine paths the Scala
  * API uses — [[Catalog.update]] / [[Catalog.delete]] /
  * [[Catalog.merge]] — so merge-on-read deletion vectors, OCC with
  * conflict retry, CHECK constraints, changefeed update pairing, and
  * dense engine-assigned ids all apply unchanged. Interface parity with
  * the reference's write surface: `record_payment`'s status flip
  * (db.py:459-463) is literally `UPDATE ... WHERE id = ?` — after this
  * rule, that exact text works.
  *
  * Architecture: Spark's own SQL route for v2 row-level commands
  * (`SupportsRowLevelOperations`) asks the TABLE to expose scan+write
  * machinery and has SPARK re-plan the mutation as a group/delta write
  * — a second, parallel implementation of semantics this engine already
  * owns transactionally. Instead, an injected post-hoc resolution rule
  * intercepts the ANALYZED command (the probe-verified extension point:
  * analysis of all three shapes succeeds against a plain
  * `SupportsRead` table; only optimization/planning rejects them) and
  * routes it into the Catalog — the same interception architecture
  * Delta Lake uses (`DeltaAnalysis` rewriting `UpdateTable` /
  * `MergeIntoTable` into Delta commands rather than implementing
  * Spark's row-level-operation rewrite).
  *
  * Faithfulness over silent coercion — rejected loudly, never bent:
  *  - DML on a time-travel handle (`VERSION AS OF`);
  *  - assignments to the engine-assigned surrogate id;
  *  - subqueries in conditions (re-expressing them would silently
  *    change OCC read-set semantics — use the Scala API's transaction);
  *  - non-deterministic expressions (the Catalog revalidates predicates
  *    across OCC retries — two evaluations must agree);
  *  - MERGE shapes beyond the keyed upsert [[Catalog.merge]] implements:
  *    the matched branch takes a full star, any SUBSET (un-SET columns
  *    keep their target values), deterministic SET EXPRESSIONS over
  *    SOURCE columns (evaluated on the source batch as synthetic
  *    columns), or TARGET-reading expressions like
  *    `SET total = t.total + s.delta` (evaluated on the engine's
  *    per-pair joined images, the incremental-aggregate
  *    merge); conditional actions and NOT MATCHED BY SOURCE still
  *    have no engine analogue and throw pointed errors.
  *
  * Expressions cross from the analyzed command into the Catalog as SQL
  * text (`Expression.sql` with qualifiers stripped): the Catalog
  * resolves predicates against its own fresh snapshot read, so carrying
  * resolved `AttributeReference`s over would bind to the WRONG relation
  * (stale exprIds); the text round-trip re-resolves them in the
  * engine's plan, exactly as a Scala caller's `col("...")` would.
  */
final case class GraftSqlDmlRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  import GraftSqlDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(target, cond) if d.resolved =>
      graftTarget(target) match {
        case Some((_, t)) =>
          requireCurrent(t, "DELETE")
          GraftDeleteCommand(t.root, t.tableName,
            exprSql(cond, s"DELETE FROM ${t.tableName} WHERE"))
        case None => d
      }

    case u @ UpdateTable(target, assignments, cond) if u.resolved =>
      graftTarget(target) match {
        case Some((_, t)) =>
          requireCurrent(t, "UPDATE")
          val sets = assignments.map { a =>
            val name = topLevelColumn(a.key,
              s"UPDATE ${t.tableName} SET")
            if (name.equalsIgnoreCase(t.idCol)) dmlFail(
              s"'${t.idCol}' is engine-assigned (dense surrogate ids): " +
                "UPDATE cannot reassign it")
            name -> exprSql(a.value, s"UPDATE ${t.tableName} SET $name =")
          }
          GraftUpdateCommand(t.root, t.tableName,
            cond.map(exprSql(_, s"UPDATE ${t.tableName} WHERE")), sets)
        case None => u
      }

    case m @ MergeIntoTable(target, source, onCond, matched, notMatched,
        notMatchedBySource, withSchemaEvolution) if m.resolved =>
      graftTarget(target) match {
        case Some((rel, t)) =>
          requireCurrent(t, "MERGE INTO")
          if (withSchemaEvolution) dmlFail(
            "MERGE WITH SCHEMA EVOLUTION is not supported through the " +
              "SQL door; evolve first (Catalog.addColumn), then merge")
          if (notMatchedBySource.nonEmpty) dmlFail(
            "WHEN NOT MATCHED BY SOURCE has no engine analogue " +
              "(Catalog.merge is a keyed upsert); express deletes as " +
              "DELETE FROM with a key predicate")
          val key = mergeKey(onCond, rel.outputSet, source.outputSet, t)
          val upSets = matched match {
            case Seq(UpdateAction(None, as, _)) => as
            case _ => dmlFail(
              "MERGE through the SQL door takes exactly one " +
                "unconditional WHEN MATCHED THEN UPDATE clause " +
                "(Catalog.merge semantics: matched target rows take " +
                "the SET columns from the source)")
          }
          val insSets = notMatched match {
            case Seq(InsertAction(None, as)) => as
            case _ => dmlFail(
              "MERGE through the SQL door takes exactly one " +
                "unconditional WHEN NOT MATCHED THEN INSERT clause")
          }
          // the MATCHED branch may SET a SUBSET of columns and use
          // deterministic expressions over SOURCE columns (partial-SET
          // merge): un-SET columns keep their target
          // values; INSERT must still cover every column with
          // same-named pass-throughs
          val matchedSet = upsertShape(upSets, "WHEN MATCHED THEN UPDATE",
            rel, source, t, key, allowSubset = true)
          upsertShape(insSets, "WHEN NOT MATCHED THEN INSERT",
            rel, source, t, key, allowSubset = false)
          val allCols = rel.table.schema().fieldNames
            .filterNot(f => f.equalsIgnoreCase(t.idCol)
              || f.equalsIgnoreCase(key)).map(_.toLowerCase).toSet
          // schema-cased names for the engine; None = the star merge
          // (full coverage, all same-name pass-throughs)
          val byName = matchedSet.toMap
          val partial =
            if (matchedSet.map(_._1).toSet == allCols &&
                matchedSet.forall(_._2 == SrcSame)) None
            else Some(rel.table.schema().fieldNames
              .filter(f => byName.contains(f.toLowerCase))
              .map(f => f -> byName(f.toLowerCase)).toSeq)
          GraftMergeCommand(t.root, t.tableName, key, t.idCol, source,
            partial)
        case None => m
      }

    case other => other
  }
}

private[sql] object GraftSqlDml {

  def dmlFail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft SQL DML: $msg")

  /** The (relation, graft table) under a DML target, if the statement
    * addresses this store; None leaves foreign tables on Spark's own
    * code path (including its own unsupported-operation errors). */
  def graftTarget(target: LogicalPlan)
      : Option[(DataSourceV2Relation, GraftTable)] =
    target.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        (r, r.table.asInstanceOf[GraftTable])
    }

  def requireCurrent(t: GraftTable, op: String): Unit =
    t.travelVersion.foreach(v => dmlFail(
      s"$op on the time-travel handle ${t.tableName}@v$v — snapshots " +
        "are immutable; write to the current table"))

  /** Analyzed expression -> SQL text the Catalog re-resolves against
    * its own snapshot read. Guards are the OCC-retry and soundness
    * preconditions, not style. */
  def exprSql(e: Expression, where: String): String = {
    if (!e.deterministic) dmlFail(
      s"$where: non-deterministic expression ${e.sql} — the engine " +
        "re-evaluates predicates across OCC conflict retries, so two " +
        "evaluations must agree")
    if (e.exists(_.isInstanceOf[SubqueryExpression])) dmlFail(
      s"$where: subqueries are not supported through the SQL door — " +
        "they would read OUTSIDE the statement's OCC transaction; use " +
        "Catalog.transaction for cross-table read-write atomicity")
    e.transform {
      case a: AttributeReference => a.withQualifier(Nil)
    }.sql
  }

  def topLevelColumn(key: Expression, where: String): String = key match {
    case a: AttributeReference => a.name
    case other => dmlFail(
      s"$where: only top-level columns can be assigned; got ${other.sql}")
  }

  /** The merge key: `ON target.k = source.k`, same column name on both
    * sides — [[Catalog.merge]] is keyed by ONE natural-key column. */
  def mergeKey(onCond: Expression, targetOut: AttributeSet,
      sourceOut: AttributeSet, t: GraftTable): String = onCond match {
    case EqualTo(l: AttributeReference, r: AttributeReference)
        if sameKey(l, r, targetOut, sourceOut) =>
      val key = l.name
      if (key.equalsIgnoreCase(t.idCol)) dmlFail(
        s"merge key must be a natural key, not the surrogate id " +
          s"'${t.idCol}'")
      key
    case other => dmlFail(
      s"MERGE ON must be target.<key> = source.<key> with the same " +
        s"column name on both sides (Catalog.merge is a single-key " +
        s"upsert); got ${other.sql}")
  }

  private def sameKey(l: AttributeReference, r: AttributeReference,
      targetOut: AttributeSet, sourceOut: AttributeSet): Boolean =
    l.name.equalsIgnoreCase(r.name) &&
      ((targetOut.contains(l) && sourceOut.contains(r)) ||
        (targetOut.contains(r) && sourceOut.contains(l)))

  /** Value shape of one MERGE SET assignment, as it crosses from the
    * analyzed command into [[GraftMergeCommand]]. */
  sealed trait SetValue extends Serializable
  /** The source's same-named column (the star/pass-through shape). */
  case object SrcSame extends SetValue
  /** A deterministic expression over SOURCE columns only —
    * evaluated into a synthetic `__set_<col>` source column before the
    * merge, so the engine still sees a plain column mapping. */
  final case class SrcExpr(sql: String) extends SetValue
  /** A deterministic expression reading TARGET columns
    * (`SET total = t.total + s.delta`): SQL over
    * aliases `t`/`s`, handed to [[graft.store.Catalog]]'s
    * `merge(matchedExprs)` which evaluates it on the per-pair joined
    * images of the touched files (change-proportional — see the engine
    * scaladoc). */
  final case class PairExpr(sql: String) extends SetValue

  /** Analyzed target-reading SET expression -> SQL over `t`/`s`
    * aliases: each attribute is re-qualified by the side it resolved
    * against, so the engine's joined-image evaluation binds exactly the
    * columns the statement named. Same guards as [[exprSql]]. */
  def pairExprSql(e: Expression, targetOut: AttributeSet,
      sourceOut: AttributeSet, where: String): String = {
    if (!e.deterministic) dmlFail(
      s"$where: non-deterministic expression ${e.sql} — the engine " +
        "re-evaluates SET expressions across OCC conflict retries, so " +
        "two evaluations must agree")
    if (e.exists(_.isInstanceOf[SubqueryExpression])) dmlFail(
      s"$where: subqueries are not supported through the SQL door — " +
        "they would read OUTSIDE the statement's OCC transaction; use " +
        "Catalog.transaction for cross-table read-write atomicity")
    e.transform {
      case a: AttributeReference if targetOut.contains(a) =>
        a.withQualifier(Seq("t"))
      case a: AttributeReference if sourceOut.contains(a) =>
        a.withQualifier(Seq("s"))
    }.sql
  }

  /** Validate one MERGE branch against [[Catalog.merge]]'s contract
    * and return the assigned non-id, non-key columns (lowercase) with
    * each one's [[SetValue]] shape: [[SrcSame]] = the source's
    * same-named column, [[SrcExpr]] = a deterministic EXPRESSION over
    * source columns (evaluated into a synthetic source
    * column at run time), [[PairExpr]] = a deterministic expression
    * also reading TARGET columns (evaluated on the engine's
    * per-pair joined images; MATCHED branch only). The surrogate id may
    * appear only as a pass-through of a source column named like it —
    * enforced all-NULL at run time (ids are engine-assigned) — or a
    * NULL literal. With `allowSubset = false` (the INSERT branch, and
    * the classic star UPDATE) every non-id column must be covered and
    * only same-named pass-throughs are legal (insert rows ARE source
    * rows); with `true` a subset is legal — un-SET columns keep their
    * matched row's target values. */
  def upsertShape(as: Seq[Assignment], branch: String,
      rel: DataSourceV2Relation, source: LogicalPlan, t: GraftTable,
      key: String, allowSubset: Boolean)
      : Seq[(String, SetValue)] = {
    val targetOut = rel.outputSet
    val sourceOut = source.outputSet
    val assigned: Seq[(String, SetValue)] = as.flatMap { a =>
      val name = topLevelColumn(a.key, s"MERGE $branch")
      a.value match {
        case v: AttributeReference
            if v.name.equalsIgnoreCase(name) && sourceOut.contains(v) =>
          Some(name.toLowerCase -> (SrcSame: SetValue))
        case Literal(null, _) if name.equalsIgnoreCase(t.idCol) => None
        // the merge key and the surrogate id may ONLY appear as the
        // same-named source pass-through (key) or a NULL literal /
        // same-named all-NULL pass-through (id) — both handled above.
        // Anything else (an expression, another column) would either
        // rewrite the pairing key out from under the join or fight the
        // engine's id assignment; fail HERE rather than silently
        // dropping the assignment at the end (Catalog.merge's own
        // reassign guard is unreachable from this door otherwise).
        case v if name.equalsIgnoreCase(key) => dmlFail(
          s"MERGE $branch cannot reassign the merge key '$key' " +
            s"(assigned ${v.sql}); the key may only pass through the " +
            "source's same-named column")
        case v if name.equalsIgnoreCase(t.idCol) => dmlFail(
          s"MERGE $branch cannot assign the surrogate id " +
            s"'${t.idCol}' (assigned ${v.sql}); ids are " +
            "engine-assigned — pass the source's all-NULL column or " +
            "a NULL literal")
        case v if allowSubset =>
          if (v.references.subsetOf(sourceOut))
            // source-only: evaluated on the source batch (cheapest)
            Some(name.toLowerCase -> (SrcExpr(
              exprSql(v, s"MERGE $branch SET $name =")): SetValue))
          else if (v.references.subsetOf(sourceOut ++ targetOut))
            // target-reading: evaluated on the engine's
            // per-pair joined images — `SET total = t.total + s.delta`
            Some(name.toLowerCase -> (PairExpr(
              pairExprSql(v, targetOut, sourceOut,
                s"MERGE $branch SET $name =")): SetValue))
          else dmlFail(
            s"MERGE $branch: '$name' is assigned ${v.sql}, which " +
              "references columns outside the target and the USING " +
              "source")
        case v => dmlFail(
          s"MERGE $branch assignments must take the source's " +
            s"same-named column; '$name' is assigned ${v.sql} " +
            "(INSERT rows are source rows verbatim)")
      }
    }
    val names = assigned.map(_._1)
    if (names.distinct.size != names.size) dmlFail(
      s"MERGE $branch assigns a column twice")
    val required = rel.table.schema().fieldNames
      .filterNot(_.equalsIgnoreCase(t.idCol)).map(_.toLowerCase).toSet
    val missing = required -- names.toSet
    if (missing.nonEmpty && !allowSubset) dmlFail(
      s"MERGE $branch covers ${names.size} of ${required.size} " +
        s"non-id columns; missing ${missing.toSeq.sorted.mkString(", ")} " +
        "(INSERT takes every non-id column from the source)")
    assigned
      .filterNot(_._1.equalsIgnoreCase(t.idCol))
      .filterNot(_._1.equalsIgnoreCase(key))
  }

  val countAttr: Seq[Attribute] = Seq(
    AttributeReference("num_affected_rows", LongType, nullable = false)())

  def mergeAttrs: Seq[Attribute] = Seq(
    AttributeReference("num_updated_rows", LongType, nullable = false)(),
    AttributeReference("num_inserted_rows", LongType, nullable = false)())
}

/** `DELETE FROM <cat>.<t> WHERE ...` -> [[Catalog.delete]]: point
  * deletes land as deletion vectors, broad deletes as COW file drops /
  * rewrites, both under OCC with conflict retry. Returns the deleted
  * row count (the engine's own return value). */
final case class GraftDeleteCommand(root: String, table: String,
    predicateSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.countAttr
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(new Catalog(spark, root).delete(table, expr(predicateSql))))
}

/** `UPDATE <cat>.<t> SET ... WHERE ...` -> [[Catalog.update]]: an
  * id-pinned predicate takes the merge-on-read path (DV sidecar +
  * patch file — bytes ∝ changed rows), broad predicates copy-on-write;
  * CHECK constraints validate the post-images before commit. */
final case class GraftUpdateCommand(root: String, table: String,
    predicateSql: Option[String],
    sets: Seq[(String, String)]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    new Catalog(spark, root).update(table,
      predicateSql.map(expr).getOrElse(lit(true)),
      sets.map { case (name, valueSql) => name -> expr(valueSql) }.toMap)
    Nil
  }
}

/** `MERGE INTO <cat>.<t> USING src ON t.k = s.k WHEN MATCHED THEN
  * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` -> [[Catalog.merge]]:
  * matched target rows rewrite from the source (merge-on-read when the
  * engine elects it — preserved ids, DV + patch), unmatched source rows
  * append with fresh dense ids; duplicate source keys are rejected
  * (ambiguous merge, the Delta/Iceberg precondition). A source id
  * column must be all-NULL — ids are engine-assigned; silently
  * reassigning caller-supplied ids would corrupt the pairing contract,
  * so it fails loudly instead. Returns (matched, inserted). */
final case class GraftMergeCommand(root: String, table: String,
    keyCol: String, idCol: String,
    source: LogicalPlan,
    /** Partial-SET assignments: target column -> its
      * [[GraftSqlDml.SetValue]] shape — same-named pass-through,
      * source-only expression (evaluated into a synthetic `__set_<col>`
      * source column before the merge), or a target-reading `t`/`s`
      * pair expression handed to the engine's `merge(matchedExprs)`
      * joined-image evaluation. */
    matchedSets: Option[Seq[(String, GraftSqlDml.SetValue)]] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.mergeAttrs
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val raw = org.apache.spark.sql.GraftSqlShim.ofRows(spark, source)
    val src =
      if (!raw.columns.exists(_.equalsIgnoreCase(idCol))) raw
      else {
        // snapshot ONCE before probing: the probe and the merge must
        // see the same rows (a non-deterministic source could pass the
        // null-probe on one execution and deliver non-NULL ids to the
        // merge on the next), and a deterministic source must not pay
        // a second full execution for the probe. The source is the
        // small side by design (a CDC tick), so the materialization is
        // batch-sized; Catalog.merge re-checkpoints from these cached
        // blocks, not from the original plan.
        import graft.core.Eager.EagerCheckpoint
        val snap = raw.eagerCheckpoint()
        if (snap.filter(col(idCol).isNotNull).limit(1).count() > 0)
          GraftSqlDml.dmlFail(
            s"'$idCol' is engine-assigned: a MERGE source carrying " +
              "non-NULL ids would be silently reassigned on insert — " +
              "drop the column or carry NULLs")
        snap.drop(idCol)
      }
    // evaluate source-only SET expressions on the SOURCE batch as
    // synthetic columns (a plain target->source-column map for the
    // engine); target-reading pair expressions pass through as SQL for
    // the engine's joined-image evaluation
    import GraftSqlDml.{PairExpr, SrcExpr, SrcSame}
    val (srcFinal, matchedMap, matchedExprs) = matchedSets match {
      case None => (src, None, Map.empty[String, String])
      case Some(sets) =>
        val augmented = sets.foldLeft(src) {
          case (df, (c, SrcExpr(sql))) =>
            df.withColumn(s"__set_$c", expr(sql))
          case (df, _) => df
        }
        val colsMap = sets.collect {
          case (c, SrcExpr(_)) => c -> s"__set_$c"
          case (c, SrcSame) => c -> c
        }.toMap
        val exprsMap = sets.collect {
          case (c, PairExpr(sql)) => c -> sql
        }.toMap
        (augmented, if (colsMap.isEmpty) None else Some(colsMap), exprsMap)
    }
    val (nUpd, nIns) = new Catalog(spark, root)
      .merge(table, srcFinal, keyCol, matchedMap, matchedExprs)
    Seq(Row(nUpd, nIns))
  }
}

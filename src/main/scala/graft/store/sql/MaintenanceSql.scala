package graft.store.sql

import java.util.regex.Pattern

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

import graft.store.Catalog

/** Maintenance statements as SQL — the Delta-SQL surface for
  * the engine's layout/retention ops, via a DELEGATING parser
  * (`SparkSessionExtensions.injectParser`, the DeltaSqlParser pattern):
  *
  * {{{
  *   OPTIMIZE <cat>.<table>                        -- id-range compact
  *   OPTIMIZE <cat>.<table> INTO 8 FILES
  *   OPTIMIZE <cat>.<table> ZORDER BY (c1, c2)     -- clustered rewrite
  *   OPTIMIZE <cat>.<table> SMALL FILES            -- selective fold
  *     [BELOW 100000 ROWS] [TARGET 1000000 ROWS]   --   (compactSmall)
  *   VACUUM <cat>.<table>                          -- default retention
  *   VACUUM <cat>.<table> RETAIN 168 HOURS
  * }}}
  *
  * Only these two statement shapes are intercepted, and ONLY when
  * `<cat>` resolves to a registered [[GraftTableCatalog]] in the
  * session conf at parse time — a statement naming any other catalog
  * (e.g. a coexisting Delta extension's) falls through verbatim to the
  * delegate parser, so this extension never hijacks maintenance
  * statements it does not own. Anything else also goes verbatim to the
  * delegate, so the extension is invisible to normal SQL. The claimed
  * commands route into [[Catalog.compact]] / [[Catalog.optimize]] /
  * [[Catalog.vacuum]] — OCC, leases and the layout contracts
  * unchanged (the execution-time catalog re-check stays as
  * defense-in-depth against conf changes between parse and run). */
final class GraftSqlParser(session: SparkSession,
    delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  /** Is `catName` registered as a graft catalog RIGHT NOW? Gate for
    * claiming a statement — a foreign catalog's OPTIMIZE/VACUUM must
    * reach its own extension through the delegate chain. */
  private def ownsCatalog(catName: String): Boolean =
    session.conf.getOption(s"spark.sql.catalog.$catName")
      .contains(classOf[GraftTableCatalog].getName)

  override def parsePlan(sqlText: String): LogicalPlan = {
    val t = sqlText.trim
    val mo = OptimizeRe.matcher(t)
    if (mo.matches() && ownsCatalog(mo.group(1))) {
      val zorder = Option(mo.group(3)).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val smallFiles = mo.group(4) != null
      if (smallFiles && zorder.nonEmpty)
        throw new IllegalArgumentException(
          "OPTIMIZE ... SMALL FILES cannot combine with ZORDER BY: the " +
            "selective fold carries large files BY REFERENCE, a " +
            "clustered rewrite touches the whole live set — run them " +
            "as separate statements")
      if (smallFiles && mo.group(7) != null)
        throw new IllegalArgumentException(
          "OPTIMIZE ... SMALL FILES sizes its bins by TARGET n ROWS, " +
            "not INTO n FILES — the output file count follows the " +
            "small-file volume")
      if (smallFiles)
        GraftCompactSmallCommand(mo.group(1), mo.group(2),
          Option(mo.group(5)).map(_.toLong),
          Option(mo.group(6)).map(_.toLong))
      else
        GraftOptimizeCommand(mo.group(1), mo.group(2), zorder,
          Option(mo.group(7)).map(_.toInt))
    } else {
      val mv = VacuumRe.matcher(t)
      if (mv.matches() && ownsCatalog(mv.group(1)))
        GraftVacuumCommand(mv.group(1), mv.group(2),
          Option(mv.group(3)).map(_.toLong * 3600L * 1000L))
      else delegate.parsePlan(sqlText)
    }
  }

  override def parseExpression(s: String): Expression =
    delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String): LogicalPlan = delegate.parseQuery(s)
  override def parseTableSchema(s: String): StructType =
    delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType =
    delegate.parseDataType(s)
  override def parseRoutineParam(s: String): StructType =
    delegate.parseRoutineParam(s)
}

private[sql] object GraftSqlParser {
  private val Id = "([A-Za-z_][A-Za-z0-9_]*)"
  val OptimizeRe: Pattern = Pattern.compile(
    s"(?is)OPTIMIZE\\s+$Id\\.$Id" +
      "(?:\\s+ZORDER\\s+BY\\s*\\(([^)]*)\\))?" +
      "(?:\\s+(SMALL\\s+FILES)" +
      "(?:\\s+BELOW\\s+(\\d+)\\s+ROWS)?" +
      "(?:\\s+TARGET\\s+(\\d+)\\s+ROWS)?)?" +
      "(?:\\s+INTO\\s+(\\d+)\\s+FILES)?\\s*;?\\s*")
  val VacuumRe: Pattern = Pattern.compile(
    s"(?is)VACUUM\\s+$Id\\.$Id" +
      "(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS?)?\\s*;?\\s*")

  /** Resolve a statement's catalog name to a graft store root — loud
    * when the name is not a registered [[GraftTableCatalog]]. */
  def rootOf(spark: SparkSession, catName: String, stmt: String): String = {
    val implKey = s"spark.sql.catalog.$catName"
    val impl = spark.conf.getOption(implKey)
    if (!impl.contains(classOf[GraftTableCatalog].getName))
      throw new IllegalArgumentException(
        s"$stmt targets catalog '$catName', which is " +
          impl.fold("not a registered catalog")(c => s"'$c'") +
          s" — register the store first ($implKey=" +
          s"${classOf[GraftTableCatalog].getName} + .root)")
    spark.conf.getOption(s"$implKey.root").getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$catName' has no root configured ($implKey.root)"))
  }
}

/** `OPTIMIZE` → [[Catalog.compact]] (no ZORDER clause) or
  * [[Catalog.optimize]] (clustered). Layout-only; content invariance
  * is the ext_store_optimize / ext_store_compact gate contract. */
final case class GraftOptimizeCommand(catName: String, table: String,
    zorderBy: Seq[String], numFiles: Option[Int])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.rootOf(spark, catName, "OPTIMIZE")
    val cat = new Catalog(spark, root)
    if (zorderBy.isEmpty) cat.compact(table, numFiles.getOrElse(1))
    else cat.optimize(table, zorderBy, numFiles.getOrElse(32))
    Nil
  }
}

/** `OPTIMIZE ... SMALL FILES` → [[Catalog.compactSmall]]: the
  * selective fold with the streaming sink's default thresholds when
  * the clauses are omitted (BELOW 100000 ROWS / TARGET 1000000 ROWS ≈
  * a 100 MB parquet file at typical event widths). Returns the number
  * of small files folded — 0 is the honest no-op answer, not an
  * error, so a scheduler can run the statement unconditionally. */
final case class GraftCompactSmallCommand(catName: String, table: String,
    belowRows: Option[Long], targetRows: Option[Long])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_files_folded", IntegerType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.rootOf(spark, catName, "OPTIMIZE")
    val cat = new Catalog(spark, root)
    val below = belowRows.getOrElse(100000L)
    // an explicit BELOW above the default target lifts the target with
    // it (bins below the threshold would stay compactable forever);
    // an explicit TARGET below an explicit BELOW stays the engine's
    // loud error — that one is a contradiction, not an ergonomics gap
    val target = targetRows.getOrElse(math.max(1000000L, below))
    Seq(Row(cat.compactSmall(table, below, target)))
  }
}

/** `VACUUM` → [[Catalog.vacuum]]; returns the number of files
  * reclaimed (the engine's own return value). */
final case class GraftVacuumCommand(catName: String, table: String,
    retainMillis: Option[Long]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_files_deleted", IntegerType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.rootOf(spark, catName, "VACUUM")
    val cat = new Catalog(spark, root)
    val n = retainMillis match {
      case Some(ms) => cat.vacuum(table, retainMillis = ms)
      case None => cat.vacuum(table)
    }
    Seq(Row(n))
  }
}

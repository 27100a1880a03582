package graft.store.sql

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation, FileScan, FileScanBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.{Catalog, FileEntry}

/** SQL front door to the COW store (Spark DataSourceV2 `TableCatalog`):
  * every consumer of the reference speaks SQL text (db.py:223-463 — all
  * seventeen access functions are embedded SQL), so interface parity
  * means `spark.sql("SELECT ... FROM <cat>.<table>")` must reach the
  * store without touching the Scala [[Catalog]] API. Register with
  *
  * {{{
  *   spark.sql.catalog.<name>       = graft.store.sql.GraftTableCatalog
  *   spark.sql.catalog.<name>.root  = <store root directory>
  * }}}
  *
  * and `SELECT * FROM <name>.users`, `... VERSION AS OF 3`,
  * `... TIMESTAMP AS OF '...'`, and `SHOW TABLES IN <name>` work.
  *
  * Design (SURVEY §2.8 interface tier):
  *  - '''Snapshot isolation''': `loadTable` captures the manifest's file
  *    list ONCE; the whole query plan — including AQE re-optimization —
  *    reads that snapshot even if writers commit mid-query (the same
  *    guarantee [[Catalog.read]] gives, now through SQL).
  *  - '''Time travel''': `VERSION AS OF v` maps to the manifest at
  *    commit `v` through the schema it had THEN; `TIMESTAMP AS OF t`
  *    resolves through [[Catalog.versionAsOf]] (micros from Spark →
  *    the store's millis domain). Vacuumed snapshots fail loudly, never
  *    partially (the [[Catalog.readAt]] contract).
  *  - '''One scan route''': the same [[GraftTable]] relation serves
  *    `spark.sql` and every over-the-cap [[Catalog]] read (`read`,
  *    `readAt`, the changefeeds, DML, compaction). Its scan builder
  *    wraps the built-in DSv2 parquet source over the snapshot's exact
  *    file list, so vectorized reading, nested-column pruning, and
  *    parquet row-group/footer pushdown all apply unchanged; the graft
  *    layer adds manifest-stats file skipping on top (files whose
  *    recorded min/max or null counts provably miss the predicate are
  *    never listed into the scan; [[StatsPrune]]), deletion-vector
  *    masking ([[DvMaskedScan]]) and rename-epoch coalescing
  *    ([[RenameCoalescingScan]]).
  *  - '''Writes route through the engine, or not at all''': `INSERT
  *    INTO` lands as a [[Catalog.append]] (dense engine-assigned ids,
  *    CHECK validation, OCC — the V1 write fallback, see
  *    [[GraftTable]]); `UPDATE` / `DELETE FROM` / `MERGE INTO` route
  *    into [[Catalog.update]]/[[Catalog.delete]]/[[Catalog.merge]]
  *    via the injected [[GraftSqlDmlRule]] (merge-on-read DVs, OCC
  *    retry, changefeed pairing — nothing bypassed); DDL shapes throw
  *    pointing at the transactional Scala API rather than bypassing
  *    its guarantees silently.
  *
  * At 100 TB the scan cost profile equals the native path: the driver
  * walks the (bounded) manifest file list once for stats pruning, and
  * the executors run Spark's parquet batch scan over surviving files.
  */
final class GraftTableCatalog extends TableCatalog {

  private var catName: String = _
  private var storeRoot: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    storeRoot = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft SQL catalog '$name' requires the store root: set " +
          s"spark.sql.catalog.$name.root=<store root directory>"))
  }

  override def name(): String = catName

  /** A fresh [[Catalog]] per call: construction is metadata-light, and a
    * cached instance would pin one SparkSession for the JVM's life. */
  private def cat: Catalog = new Catalog(SparkSession.active, storeRoot)

  private def requireNs(ns: Array[String]): Unit =
    if (!(ns.isEmpty || (ns.length == 1 && ns(0) == "default")))
      throw new NoSuchNamespaceException(ns)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireNs(namespace)
    cat.sqlTableNames().map(t => Identifier.of(Array.empty[String], t))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = tableAt(ident, None)

  /** SQL `VERSION AS OF v`. */
  override def loadTable(ident: Identifier, version: String): Table =
    tableAt(ident, Some(
      try version.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"VERSION AS OF on $catName.${ident.name()} takes the " +
              s"commit number (a positive integer); got '$version'")
      }))

  /** SQL `TIMESTAMP AS OF t` (Spark hands epoch MICROS). */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    tableAt(ident, Some(cat.versionAsOf(Math.floorDiv(timestamp, 1000L))))

  private def tableAt(ident: Identifier, version: Option[Long]): Table = {
    requireNs(ident.namespace())
    val c = cat
    c.sqlSnapshot(ident.name(), version) match {
      case Some((files, schema, idCol)) =>
        c.graftTable(ident.name(), version, files, schema, idCol)
      case None =>
        throw new NoSuchTableException(
          ident.namespace().toSeq :+ ident.name())
    }
  }

  /** SQL `CREATE TABLE <cat>.<t> (...)` → [[Catalog.createTable]]: a
    * dynamic manifest-identity table. The surrogate-id column is named
    * by `TBLPROPERTIES('id_column'='<col>')` and must appear in the
    * column list as a non-nullable BIGINT; without the property a
    * leading `row_id BIGINT NOT NULL` is added (engine-assigned either
    * way — INSERT carries NULL for it).
    * `TBLPROPERTIES('stats_columns'='c1,c2')` designates the
    * manifest-carried stats columns: every write collects per-file
    * min/max for them, so the SQL door's file skipping
    * ([[StatsPrune]]) and `OPTIMIZE ... ZORDER BY` work on SQL-created
    * tables exactly as on fixtures — without it a dynamic table is a full-scan trap at 100 TB.
    * Partitioning clauses are rejected: layout is the engine's job
    * (compact / optimize). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    requireNs(ident.namespace())
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "PARTITIONED BY is not supported: layout is engine-managed " +
          "(Catalog.compact / Catalog.optimize cluster the files; file " +
          "stats prune reads)")
    val (full, idCol) = Option(properties.get("id_column")) match {
      case Some(c) => (schema, c)
      case None =>
        (StructType(
          org.apache.spark.sql.types.StructField("row_id",
            org.apache.spark.sql.types.LongType, nullable = false) +:
            schema.fields),
          "row_id")
    }
    val statsCols = Option(properties.get("stats_columns")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    cat.createTable(ident.name(), full, idCol, statsCols)
    loadTable(ident)
  }

  /** SQL `ALTER TABLE <cat>.<t> ADD COLUMNS (...)` / `DROP COLUMN` →
    * the engine's schema evolution ([[Catalog]] addColumn/dropColumn):
    * pure-metadata commits — NULL backfill on read for added columns,
    * projection-drop for removed ones, per-snapshot schemas across
    * time travel. All changes of one statement land in ONE
    * transaction. Shapes the engine cannot honor faithfully (nested
    * fields, defaults, positions, comments, type changes, renames)
    * are rejected loudly. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    requireNs(ident.namespace())
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"ALTER TABLE $catName.${ident.name()}: $what")
    cat.transaction { tx =>
      changes.foreach {
        case a: TableChange.AddColumn =>
          if (a.fieldNames().length != 1)
            unsupported("nested column additions are not supported")
          if (a.defaultValue() != null)
            unsupported("DEFAULT values are not supported (added " +
              "columns NULL-backfill)")
          if (a.position() != null)
            unsupported("column position is not supported (columns " +
              "append at the end)")
          if (a.comment() != null)
            unsupported("column comments are not stored")
          tx.addColumn(ident.name(), StructType(Seq(
            org.apache.spark.sql.types.StructField(a.fieldNames()(0),
              a.dataType(), a.isNullable))).fields(0))
        case d: TableChange.DeleteColumn =>
          if (d.fieldNames().length != 1)
            unsupported("nested column drops are not supported")
          tx.dropColumn(ident.name(), d.fieldNames()(0))
        case r: TableChange.RenameColumn =>
          // metadata-only rename (manifest prior-name map); scans
          // coalesce across epochs — see Catalog.renameColumn
          if (r.fieldNames().length != 1)
            unsupported("nested column renames are not supported")
          tx.renameColumn(ident.name(), r.fieldNames()(0), r.newName())
        case other =>
          unsupported(s"${other.getClass.getSimpleName} is not " +
            "supported; supported shapes: ADD COLUMNS (nullable, no " +
            "default/position/comment), DROP COLUMN, RENAME COLUMN. " +
            "Constraints go through Catalog.addCheck")
      }
    }
    loadTable(ident)
  }

  /** SQL `DROP TABLE <cat>.<t>` → [[Catalog.dropTable]] (tombstoned
    * commit; history stays time-travel-readable until vacuum). */
  override def dropTable(ident: Identifier): Boolean = {
    requireNs(ident.namespace())
    try { cat.dropTable(ident.name()); true }
    catch {
      case e: IllegalArgumentException
          if String.valueOf(e.getMessage).contains("no such table") =>
        false // DROP TABLE IF EXISTS contract: absent -> false, no throw
    }
  }

  /** SQL `ALTER TABLE <cat>.<t> RENAME TO <u>` → [[Catalog.renameTable]]:
    * one atomic manifest-key move — files by reference, history below
    * the rename readable under the old name. Registry tables stay loud
    * (identity lives in code). */
  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    requireNs(oldIdent.namespace()); requireNs(newIdent.namespace())
    cat.renameTable(oldIdent.name(), newIdent.name())
  }
}

/** One store table pinned at one snapshot: the file list (each file's
  * deletion vector loaded) and schema are captured when the table is
  * built, so the whole query, AQE re-optimization included, reads that
  * snapshot; time travel is an older manifest's list read through THAT
  * version's schema. The SQL door resolves it by name; [[Catalog]]'s
  * scan route builds its relation over it directly, with the scan's
  * own output attributes (every column nullable).
  *
  * Two tables are equal when they read the same files through the same
  * schema, as two file-source relations over the same paths are, so a
  * plan fingerprint (the skew census cache, the cache manager)
  * recognizes a re-read of an unchanged snapshot.
  *
  * Writes: `INSERT INTO` is supported through the V1 write fallback and
  * routes into [[Catalog.append]] — the TRANSACTIONAL append, so SQL
  * inserts get dense engine-assigned ids, CHECK validation, and OCC
  * exactly like the Scala API (nothing is bypassed). The surrogate-id
  * column must be NULL in the inserted rows (ids are engine-assigned;
  * a caller-supplied id would be silently reassigned, so it fails
  * loudly instead). Time-travel handles and
  * `INSERT OVERWRITE` are rejected. */
private[store] final class GraftTable(private[sql] val spark: SparkSession,
    private[sql] val root: String,
    private[sql] val tableName: String,
    private[sql] val travelVersion: Option[Long],
    private[sql] val files: Vector[FileEntry],
    /** Dead ids (ascending) of each DV-carrying file, by manifest path. */
    private[sql] val dead: Map[String, Array[Long]],
    tableSchema: StructType,
    private[sql] val idCol: String,
    /** Current name -> prior names (newest first) for columns whose
      * pre-rename bytes still live in at least one file: scans read
      * prior-name twins and coalesce across epochs
      * ([[RenameCoalescingScan]]); empty for clean layouts (the
      * vectorized fast path). */
    private[sql] val renamedPriors: Map[String, Seq[String]]) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String =
    travelVersion.map(v => s"$tableName@v$v").getOrElse(tableName)

  override def equals(o: Any): Boolean = o match {
    case t: GraftTable => t.root == root && t.tableName == tableName &&
      t.files == files && t.exposedSchema == exposedSchema
    case _ => false
  }
  override lazy val hashCode: Int =
    (root, tableName, files, exposedSchema).hashCode()

  /** The surrogate id is exposed NULLABLE: reads never produce a null
    * (the engine assigns every id), but `INSERT INTO` rows must carry
    * NULL for it — ids are engine-assigned — and Spark validates
    * inserted rows against this schema before the write sees them. */
  private val exposedSchema = StructType(tableSchema.fields.map(f =>
    if (f.name == idCol) f.copy(nullable = true) else f))

  override def schema(): StructType = exposedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftScanBuilder(this, options)

  /** The parquet schema of a scan: [[schema]] plus a nullable twin
    * under each prior name of a renamed column, so by-name resolution
    * binds whichever name each file carries (a file lacking a name
    * NULL-backfills it) — the [[RenameCoalescingScan]] read shape. */
  private val parquetSchema = StructType(exposedSchema.fields ++
    renamedPriors.toSeq.flatMap { case (cur, priors) =>
      priors.map(p => org.apache.spark.sql.types.StructField(p,
        exposedSchema(cur).dataType, nullable = true))
    })

  /** Spark's parquet table over a kept file set, built once per set and
    * options: every query planned over this table reuses its file
    * listing, as a file-source relation does. */
  private val parquetTables =
    new java.util.concurrent.ConcurrentHashMap[(Vector[String],
      CaseInsensitiveStringMap), ParquetTable]()

  private[sql] def parquetTable(kept: Vector[FileEntry],
      options: CaseInsensitiveStringMap): ParquetTable =
    parquetTables.computeIfAbsent((kept.map(_.path), options), _ =>
      ParquetTable(s"graft:$tableName", spark, options,
        kept.map(f => s"$root/${f.path}").toList, Some(parquetSchema),
        classOf[ParquetFileFormat]))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                if (travelVersion.isDefined)
                  throw new UnsupportedOperationException(
                    s"cannot INSERT into the time-travel handle " +
                      s"$tableName@v${travelVersion.get} — write to the " +
                      "current table")
                if (overwrite)
                  throw new UnsupportedOperationException(
                    "INSERT OVERWRITE is not supported; use the " +
                      "transactional replaceWhere on graft.store.Catalog")
                val withId = data.filter(
                  org.apache.spark.sql.functions.col(idCol).isNotNull)
                  .limit(1).count()
                if (withId > 0)
                  throw new IllegalArgumentException(
                    s"'$idCol' is engine-assigned (dense ids): INSERT " +
                      s"rows must carry NULL for it — got a non-NULL " +
                      "value")
                new Catalog(spark, root)
                  .append(tableName, data.drop(idCol))
              }
            }
        }
    }
}

private[graft] object GraftTable {

  /** The key of the file at manifest path `rel` under `root`
    * ([[manifestPathOf]]). Scheme-less roots resolve via java.nio (local
    * dev/CI), URI roots via Hadoop Path; both give the decoded path. */
  private[sql] def keyOf(root: String, rel: String): String =
    if (root.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"))
      new org.apache.hadoop.fs.Path(s"$root/$rel").toUri.getPath
    else java.nio.file.Paths.get(root).resolve(rel)
      .toAbsolutePath.normalize.toString

  /** The manifest path, among the entries `files` a frame read, of a
    * file the frame's scan names by URI (`input_file_name()`, a listing
    * root path).
    *
    * Invariant: one key names a store file everywhere — its DECODED
    * absolute path, scheme and authority dropped: [[keyOf]] for a
    * manifest entry, `new URI(name).getPath` for a scanned URI, and
    * `toUri.getPath` of the Hadoop path for [[DvMaskedScan]]'s masks.
    * So a root whose name a URI must percent-encode (`my store %41`)
    * maps exactly as a plain one, under every [[graft.store.StoreIO]]
    * binding. A name that matches none of `files` throws: a row
    * attributed to no file would leave a deletion vector unwritten or a
    * hit file carried unrewritten. */
  private[store] def manifestPathOf(root: String,
      files: Seq[FileEntry]): String => String = {
    val byKey = files.iterator.map(f => keyOf(root, f.path) -> f.path).toMap
    scanned => {
      val key = new java.net.URI(scanned).getPath
      byKey.getOrElse(key, throw new IllegalStateException(
        s"scanned file '$key' matches no manifest entry of the read"))
    }
  }

  /** Manifest paths of the files the planned store scans in `plan` read,
    * after manifest-stats pruning. */
  def scannedFiles(plan: LogicalPlan): Seq[String] = plan.collect {
    case DataSourceV2ScanRelation(
        DataSourceV2Relation(t: GraftTable, _, _, _, _, _), scan, _, _, _) =>
      val pathOf = manifestPathOf(t.root, t.files)
      fileScanOf(scan).toSeq
        .flatMap(_.fileIndex.rootPaths.map(p => pathOf(p.toUri.toString)))
  }.flatten

  private def fileScanOf(s: Scan): Option[FileScan] = s match {
    case w: WrappingScan => fileScanOf(w.inner)
    case f: FileScan => Some(f)
    case _ => None
  }
}

/** Scan builder: manifest-stats file pruning + full delegation to
  * Spark's parquet DSv2 builder over the surviving files.
  *
  * Pushdown flow: the planner hands catalyst filters here ONCE
  * ([[graft.store.sql.Dsv2Bridge]] exposes the hook); we
  *  1. prune the snapshot's file list by the manifest stats
  *     ([[StatsPrune]]);
  *  2. forward the same filters into the parquet builder, so footer
  *     min/max row-group skipping and the `PushedFilters` the plan
  *     displays are Spark's own;
  *  3. report the parquet builder's residuals upward — Spark keeps its
  *     Filter node for whatever parquet can't prove, so file pruning
  *     can never change results, only skip provably-dead IO.
  * Column pruning ([[SupportsPushDownRequiredColumns]]) delegates
  * likewise, so `ReadSchema` is minimal. */
private[sql] final class GraftScanBuilder(table: GraftTable,
    options: CaseInsensitiveStringMap)
    extends Dsv2Bridge with SupportsPushDownRequiredColumns {

  import table.{files, idCol, renamedPriors}
  private val tableSchema = table.schema()

  private var inner: Option[FileScanBuilder] = None
  private var kept: Vector[FileEntry] = files

  /** What this scan OUTPUTS (pruned schema + DV-forced id; never the
    * twins) — the coalescing wrapper projects down to it. */
  private var outSchema: StructType = tableSchema

  private def mkInner(keptNow: Vector[FileEntry]): FileScanBuilder = {
    kept = keptNow
    val b = table.parquetTable(keptNow, options).newScanBuilder(options)
    inner = Some(b)
    b
  }

  private def innerOrAll(): FileScanBuilder =
    inner.getOrElse(mkInner(files))

  override protected def pushGraft(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    // manifest-stats pruning sees EVERY filter (prior-name stats keep
    // renamed columns prunable across epochs)...
    val keptNow = StatsPrune.prune(files, idCol, filters, renamedPriors)
    // ...but filters touching a renamed column must NOT reach parquet
    // while stale files live: record-level filtering treats an absent
    // column as all-NULL and would silently drop every pre-rename row.
    // They stay residual — Spark's Filter node evaluates them above
    // the coalesced values.
    val (safe, onRenamed) =
      if (renamedPriors.isEmpty) (filters, Nil)
      else filters.partition(_.references.toSeq.forall(a =>
        !renamedPriors.keys.exists(_.equalsIgnoreCase(a.name))))
    forwardFilters(mkInner(keptNow), safe) ++ onRenamed
  }

  override protected def pushedDelegate: Option[FileScanBuilder] = inner

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // merge-on-read: the row mask needs the surrogate id — force it
    // into the read schema (Spark's projection above the scan restores
    // the user's column list); clean snapshots prune exactly as asked
    outSchema =
      if (kept.exists(_.dv.isDefined) &&
          !requiredSchema.fieldNames.contains(idCol))
        StructType(requiredSchema.fields :+ tableSchema(idCol))
      else requiredSchema
    // rename epochs: the inner parquet read additionally needs each
    // required renamed column's prior-name twins (coalesce inputs)
    val withTwins =
      if (renamedPriors.isEmpty) outSchema
      else StructType(outSchema.fields ++ outSchema.fields.flatMap(f =>
        renamedPriors.get(f.name).toSeq.flatten.map(p =>
          org.apache.spark.sql.types.StructField(p, f.dataType,
            nullable = true))))
    innerOrAll().pruneColumns(withTwins)
  }

  override def build(): Scan = {
    // a file scan reports its size, which the wrappers pass on
    val scan = innerOrAll().build().asInstanceOf[SupportsReportStatistics]
    val dvd = kept.filter(_.dv.isDefined)
    val masked =
      if (dvd.isEmpty) scan
      else new DvMaskedScan(scan, dvd.map(f =>
        GraftTable.keyOf(table.root, f.path) -> table.dead(f.path)).toMap,
        idCol)
    if (renamedPriors.isEmpty) masked
    else {
      val innerRead = masked.readSchema()
      val innerOrd = innerRead.fieldNames.zipWithIndex.toMap
      val candidates = outSchema.fields.map { f =>
        (f.name +: renamedPriors.getOrElse(f.name, Nil))
          .flatMap(innerOrd.get).toArray
      }
      new RenameCoalescingScan(masked, outSchema, candidates,
        innerRead.fields.map(_.dataType))
    }
  }
}

/** A scan wrapping the store's parquet scan ([[DvMaskedScan]],
  * [[RenameCoalescingScan]]). It passes the inner scan's size estimate
  * on: a scan without one is sized at `spark.sql.defaultSizeInBytes`
  * and never broadcast. */
private[store] trait WrappingScan extends Scan with Batch
    with SupportsReportStatistics {
  def inner: SupportsReportStatistics
  override def toBatch: Batch = this
  override def estimateStatistics(): Statistics = inner.estimateStatistics()
}

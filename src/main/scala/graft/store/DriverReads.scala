package graft.store

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** The driver route of [[Catalog]]'s small reads: a snapshot small
  * enough to live in driver memory is served as an in-memory
  * `LocalRelation` instead of a parquet scan ([[serve]], for `read` and
  * `Tx.read`), and so are the files an id-pinned update or delete hits
  * ([[rowsOf]]). The filters, projections and limits above such a
  * relation fold on the driver (`ConvertToLocalRelation`), and so do
  * its joins, aggregates, windows and sorts
  * ([[graft.plans.LocalPlanFold]]), so a point lookup, a pinned update
  * or a whole Portal page collects with no Spark job, no file listing
  * and no scan planning.
  *
  * A file set is admitted when every file's row count is known and
  * their sum is under [[DriverReads.MaxRows]]. Each file is decoded
  * once ([[DriverParquet.read]], with the scan's physical schema and
  * prior-name coalescing, as the scan route's
  * [[graft.store.sql.RenameCoalescingScan]] reads it) and kept in a
  * per-instance cache keyed by (file path, read schema); deletion
  * vectors mask rows per file on the driver, as the scan route's
  * [[graft.store.sql.DvMaskedScan]] masks them per file. A file the store has just staged
  * on the driver is put into the cache from the rows it wrote
  * ([[seed]]), so its first read decodes nothing.
  *
  * Files and DV sidecars are immutable and their paths are never
  * reused, so a cached entry never goes stale. Per table the cache
  * holds the files and sidecars of the last snapshot served, plus the
  * hit sets of pinned updates and deletes, plus the files seeded by
  * driver-staged writes, all under the table's current read schema.
  * Every change to a table's entry first keeps only the files of the
  * snapshot it acts on, and an entry never reaches the cap: a read
  * over the cap or a seed into a snapshot over it drops the entry, and
  * a hit set that would push it over the cap replaces it. So a file
  * retired by a commit, `restoreTo` or `vacuum`, or staged by a
  * transaction that aborted or was rebased, leaves the cache at the
  * table's next read.
  *
  * Invariant: for an admitted file set the rows handed out are the scan
  * route's rows, laid out as its schema (attributes `asNullable`, as a
  * file scan's). */
private[store] final class DriverReads(spark: SparkSession, io: StoreIO,
    root: String,
    /** Admission cap; only a measurement of the route above the cap
      * passes another value (`DriverReadBenchDrive`). */
    maxRows: Long = DriverReads.MaxRows) {

  import DriverReads.{Cached, scanSchema}

  private val cache = new ConcurrentHashMap[String, Cached]()

  private def admits(files: Seq[FileEntry]): Boolean =
    files.forall(_.rows >= 0L) && files.iterator.map(_.rows).sum < maxRows

  /** `files` of `table` read through `schema` (prior names in field
    * metadata, as `Catalog.schemaOf` yields it) as an in-memory frame,
    * or None when the snapshot is not admitted. */
  def serve(table: String, files: Seq[FileEntry], schema: StructType,
      idCol: String): Option[DataFrame] =
    if (!admits(files)) {
      cache.remove(table)
      None
    } else {
      val rows = masked(table, files, files, schema, idCol)
      Some(GraftSqlShim.ofRows(spark, LocalRelation(
        DataTypeUtils.toAttributes(scanSchema(schema)), rows.flatten)))
    }

  /** The live (DV-masked) rows of each of `hit`, a subset of `table`'s
    * snapshot `files`, read through `schema` and laid out as
    * [[DriverReads.scanSchema]]; None when `hit` is not admitted.
    * Decoded files join the table's entry beside the rest of the
    * snapshot's. */
  def rowsOf(table: String, files: Seq[FileEntry], hit: Seq[FileEntry],
      schema: StructType, idCol: String): Option[Seq[Array[InternalRow]]] =
    if (!admits(hit)) None
    else Some(masked(table, files, hit, schema, idCol))

  /** Cache `rows`, laid out as `layout`, as the decode of `path`, which
    * the store has just written from them into `table`'s staged
    * snapshot `files`. Nothing is cached unless `layout` has the names
    * and types of `schema`'s scan layout, and a snapshot over the cap
    * drops the table's entry. */
  def seed(table: String, files: Seq[FileEntry], path: String,
      schema: StructType, layout: StructType,
      rows: Seq[InternalRow]): Unit =
    if (!admits(files)) cache.remove(table)
    else {
      val out = scanSchema(schema)
      if (layout.map(f => (f.name, f.dataType)) ==
          out.map(f => (f.name, f.dataType))) {
        val toUnsafe = UnsafeProjection.create(out)
        keep(table, files, schema, Cached(Map((path, schema) ->
          rows.map(r => toUnsafe(r).copy(): InternalRow).toArray), Map.empty))
      }
    }

  /** The cached decode of `table`'s files by (path, read schema) (test
    * hook). */
  private[store] def cached(table: String)
      : Map[(String, StructType), Array[InternalRow]] =
    Option(cache.get(table)).map(_.rows).getOrElse(Map.empty)

  /** The masked rows of each of `sel` (files of `table`'s snapshot
    * `files`), decoding what the cache lacks; `sel` joins the entry. */
  private def masked(table: String, files: Seq[FileEntry],
      sel: Seq[FileEntry], schema: StructType,
      idCol: String): Seq[Array[InternalRow]] = {
    val prev = Option(cache.get(table)).getOrElse(Cached(Map.empty, Map.empty))
    val missing = sel.map(_.path).filterNot(p => prev.rows.contains((p, schema)))
    val decoded = missing.zip(decode(schema, missing)).toMap
    val rows = sel.map(f => (f.path, schema) ->
      prev.rows.getOrElse((f.path, schema), decoded(f.path))).toMap
    val dead = sel.flatMap(_.dv).map(_._1).map(d =>
      d -> prev.dead.getOrElse(d, DvIO.read(io, root, d))).toMap
    keep(table, files, schema, Cached(rows, dead))
    val idx = scanSchema(schema).fieldIndex(idCol)
    sel.map { f =>
      val rs = rows((f.path, schema))
      f.dv match {
        case None => rs
        case Some((d, _)) => rs.filter(r => r.isNullAt(idx) ||
          java.util.Arrays.binarySearch(dead(d), r.getLong(idx)) < 0)
      }
    }
  }

  /** Add `add` to `table`'s entry after keeping only what of it belongs
    * to the snapshot `files` under `schema`; `add` alone when the sum
    * would reach the cap. */
  private def keep(table: String, files: Seq[FileEntry], schema: StructType,
      add: Cached): Unit =
    cache.compute(table, (_, prev) => {
      val live = files.iterator.map(_.path).toSet
      val sidecars = files.iterator.flatMap(_.dv).map(_._1).toSet
      val out = Option(prev).fold(add)(p => Cached(
        p.rows.filter { case ((path, s), _) => s == schema && live(path) } ++
          add.rows,
        p.dead.filter { case (d, _) => sidecars(d) } ++ add.dead))
      if (out.rows.valuesIterator.map(_.length.toLong).sum < maxRows) out
      else add
    })

  /** Decode `paths` (root-relative) through `schema`'s physical read
    * schema and coalesce each renamed column's prior-name twins into
    * it, as the scan route's rename coalescing does. */
  private def decode(schema: StructType,
      paths: Seq[String]): Seq[Array[InternalRow]] =
    if (paths.isEmpty) Nil
    else {
      val physical = GraftSqlShim.asNullable(Catalog.physicalSchema(schema))
      val files = DriverParquet.read(spark, physical,
        paths.map(p => s"$root/$p"))
      if (physical.length == schema.length) files
      else {
        var next = 0
        val exprs = schema.fields.toSeq.map { f =>
          val refs = (0 to Catalog.priorsOf(f).size).map { k =>
            BoundReference(next + k, f.dataType, nullable = true)
          }
          next += refs.size
          if (refs.size == 1) refs.head else Coalesce(refs)
        }
        val project = UnsafeProjection.create(exprs)
        files.map(_.map(r => project(r).copy(): InternalRow))
      }
    }
}

private[graft] object DriverReads {

  /** One table's decoded files by (path, read schema) and its DV
    * sidecars' dead ids (ascending) by sidecar path. */
  private final case class Cached(
      rows: Map[(String, StructType), Array[InternalRow]],
      dead: Map[String, Array[Long]])

  /** Row cap of the driver route: a snapshot, or the hit set of a
    * pinned update or delete, whose known row count is under it is read
    * from driver memory, any other is scanned.
    * [[graft.plans.LocalPlanFold]] folds the operators over in-memory
    * relations under the same cap, so under it a whole-table `count()`
    * runs no job: 17-28 ms warm and 52-112 ms on a fresh instance (which
    * decodes every file first), against the scan's 112-141 and 103-181
    * ms, at 1,024-3,072 rows. At and above the cap the count runs a job
    * over the in-memory rows, and a fresh instance's first count, the
    * shape the driver route serves worst, is at parity with the scan
    * at 4,096 rows (169 vs 170 ms) and 1.45x its time at 8,192 (270 vs
    * 186 ms), while point reads stay 4.8-7.8x faster than the scan on
    * both sides of the cap (`DriverReadBenchDrive`, 4-vCPU VM,
    * `local[4]`, 256-row files, median of 7). */
  val MaxRows = 4096

  /** The schema a scan of `schema` (prior names in field metadata)
    * reports: every column nullable, a renamed column (projected from
    * its coalesced twins) without field metadata. */
  private[store] def scanSchema(schema: StructType): StructType =
    GraftSqlShim.asNullable(StructType(schema.fields.map { f =>
      if (Catalog.priorsOf(f).isEmpty) f
      else org.apache.spark.sql.types.StructField(f.name, f.dataType)
    }))
}

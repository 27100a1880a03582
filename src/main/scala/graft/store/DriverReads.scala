package graft.store

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** The driver route of [[Catalog]]'s whole-snapshot reads (`read`,
  * `Tx.read`): a snapshot small enough to live in driver memory is
  * served as an in-memory `LocalRelation` instead of a parquet scan, so
  * Spark folds the filters, projections and limits above it on the
  * driver (`ConvertToLocalRelation`; sorts fold through
  * [[graft.plans.LocalSortFold]]) and a point lookup collects with no
  * Spark job, no file listing and no scan planning.
  *
  * A snapshot is admitted when every file's row count is known and
  * their sum is under [[DriverReads.MaxRows]]. Each file is decoded
  * once ([[DriverParquet.read]], with the scan's physical schema and
  * prior-name coalescing, [[Catalog.readLogical]]'s layout) and kept
  * in a per-instance cache keyed by (file path, read schema); deletion
  * vectors mask rows per file on the driver, as the scan's
  * (id, source file) anti-join does. Files and DV sidecars are
  * immutable and their paths are never reused, so a cached entry never
  * goes stale; the cache holds exactly the files and sidecars of the
  * last snapshot served per admitted table, so a file retired by a
  * commit, `restoreTo` or `vacuum` leaves it at the table's next read.
  *
  * Invariant: for an admitted snapshot the served frame has the scan
  * route's rows and schema (attributes `asNullable`, as a file scan's). */
private[store] final class DriverReads(spark: SparkSession, io: StoreIO,
    root: String,
    /** Admission cap; only a measurement of the route above the cap
      * passes another value (`DriverReadBenchDrive`). */
    maxRows: Long = DriverReads.MaxRows) {

  import DriverReads.Cached

  private val cache = new ConcurrentHashMap[String, Cached]()

  /** `files` of `table` read through `schema` (prior names in field
    * metadata, as `Catalog.schemaOf` yields it) as an in-memory frame,
    * or None when the snapshot is not admitted. */
  def serve(table: String, files: Seq[FileEntry], schema: StructType,
      idCol: String): Option[DataFrame] = {
    if (!files.forall(_.rows >= 0L) ||
        files.iterator.map(_.rows).sum >= maxRows) {
      cache.remove(table)
      return None
    }
    val prev = Option(cache.get(table)).getOrElse(Cached(Map.empty, Map.empty))
    val paths = files.map(_.path)
    val missing = paths.filterNot(p => prev.rows.contains((p, schema)))
    val decoded = missing.zip(decode(schema, missing)).toMap
    val rows = paths.map(p => (p, schema) ->
      prev.rows.getOrElse((p, schema), decoded(p))).toMap
    val dead = files.flatMap(_.dv).map(_._1).map(d =>
      d -> prev.dead.getOrElse(d, DvIO.read(io, root, d))).toMap
    cache.put(table, Cached(rows, dead))
    val out = DriverReads.scanSchema(schema)
    val idx = out.fieldIndex(idCol)
    val data = files.flatMap { f =>
      val rs = rows((f.path, schema))
      f.dv match {
        case None => rs
        case Some((d, _)) => rs.filter(r => r.isNullAt(idx) ||
          java.util.Arrays.binarySearch(dead(d), r.getLong(idx)) < 0)
      }
    }
    Some(GraftSqlShim.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(out), data)))
  }

  /** Decode `paths` (root-relative) through `schema`'s physical read
    * schema and coalesce each renamed column's prior-name twins into
    * it, as [[Catalog.readLogical]] projects a scan. */
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

  /** One admitted table's decoded files by (path, read schema) and its
    * DV sidecars' dead ids (ascending) by sidecar path. */
  private final case class Cached(
      rows: Map[(String, StructType), Array[InternalRow]],
      dead: Map[String, Array[Long]])

  /** Row cap of the driver route: a snapshot whose known row count is
    * under it is served from driver memory, any other is scanned. It
    * sits at the crossover of the shape the driver route serves worst,
    * a fresh instance's first whole-table aggregate (it decodes every
    * file, then still runs a job over the in-memory rows): at parity up
    * to ~3,000 rows, ~1.3x the scan's time at 4,096 and ~1.6x at
    * 8,192, while point reads stay 3.5-6x faster than the scan on both
    * sides of it (`DriverReadBenchDrive`, 4-vCPU VM, `local[4]`).
    * [[graft.plans.LocalSortFold]] folds sorts under the same cap. */
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

package graft.store.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, SupportsReportStatistics}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** Cross-rename-epoch reads of the store's scan route: after `RENAME
  * COLUMN a -> b`, live files written before the rename still carry
  * their bytes under `a`. A single-schema parquet scan asked for `b`
  * would silently NULL those files' values. This wrapper serves the
  * scan immediately instead: the inner parquet scan reads the CURRENT
  * name plus nullable prior-name twin columns (parquet by-name
  * resolution NULL-backfills whichever name a file lacks), and each row
  * lands the first non-null across (current, priors newest-first) in
  * the current column's slot. No epoch attribution is needed: a
  * post-rename file has NULL twins, a pre-rename file has a NULL
  * current column, and a genuine NULL stays NULL through the coalesce
  * (the rename guards forbid a file carrying both names).
  *
  * The wrapper PROJECTS the twins away: `readSchema` is exactly the
  * pruned schema Spark asked for (plus the DV-forced surrogate id when
  * merge-on-read masking is active — the proven-extra case), so the
  * plan above sees only logical columns.
  *
  * The scan stays VECTORIZED: when the inner factory reads columnar,
  * each renamed output column is served through a zero-copy
  * [[CoalescedColumnVector]] view over its candidate vectors (one
  * per-batch pick pass resolves which name supplies each row; plain
  * columns pass through untouched), and composition with the DV mask's
  * selection vectors is transparent — both speak the ColumnVector API.
  * Row-based inners copy into a fresh [[GenericInternalRow]]. Filters
  * on renamed columns are NOT pushed into parquet while stale files
  * live ([[GraftScanBuilder]]): parquet record-level filtering treats
  * an absent column as all-NULL and would silently drop every
  * pre-rename row; they stay in Spark's Filter node above and still
  * prune files through the manifest stats (which [[StatsPrune]]
  * consults under prior names too). */
private[store] final class RenameCoalescingScan(
    val inner: SupportsReportStatistics,
    /** Output schema (twins projected away). */
    outSchema: StructType,
    /** Per OUTPUT ordinal: candidate ordinals in the INNER read schema,
      * first non-null wins (current name first, then priors newest
      * first; plain columns carry a single candidate). */
    candidates: Array[Array[Int]],
    /** Inner read schema field types, for [[InternalRow.get]]. */
    innerTypes: Array[DataType]) extends WrappingScan {

  override def readSchema(): StructType = outSchema
  override def description(): String =
    s"${inner.description()} [graft: rename-epoch coalesce over " +
      s"${candidates.count(_.length > 1)} renamed column(s)]"

  override def planInputPartitions(): Array[InputPartition] =
    inner.toBatch.planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    new RenameCoalescingReaderFactory(inner.toBatch.createReaderFactory(),
      candidates, innerTypes)
}

private[sql] final class RenameCoalescingReaderFactory(
    inner: PartitionReaderFactory, candidates: Array[Array[Int]],
    innerTypes: Array[DataType]) extends PartitionReaderFactory {

  // same row-vs-columnar rule as the DV mask: one scan must agree;
  // delegating preserves the inner chain's partition-independent answer
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val r = inner.createColumnarReader(p)
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = r.next()
      override def get(): ColumnarBatch = {
        val b = r.get()
        val n = b.numRows()
        val vecs = new Array[ColumnVector](candidates.length)
        var i = 0
        while (i < candidates.length) {
          val cands = candidates(i)
          vecs(i) =
            if (cands.length == 1) b.column(cands(0)) // plain column
            else CoalescedColumnVector.build(innerTypes(cands(0)),
              cands.map(b.column), n)
          i += 1
        }
        new ColumnarBatch(vecs, n)
      }
      override def close(): Unit = r.close()
    }
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = {
        val row = r.get()
        val out = new GenericInternalRow(candidates.length)
        var i = 0
        while (i < candidates.length) {
          val cands = candidates(i)
          var j = 0
          var done = false
          while (j < cands.length && !done) {
            val ord = cands(j)
            if (!row.isNullAt(ord)) {
              out.update(i, row.get(ord, innerTypes(ord)))
              done = true
            }
            j += 1
          }
          if (!done) out.setNullAt(i)
          i += 1
        }
        out
      }
      override def close(): Unit = r.close()
    }
  }
}

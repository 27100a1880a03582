package graft.store.sql

import org.apache.spark.sql.types.{DataType, Decimal}
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** Zero-copy [[ColumnVector]] views that keep the store's merge-on-read
  * and rename-epoch scans VECTORIZED:
  *
  *  - [[SelectedColumnVector]] — a selection-vector view: logical row
  *    `i` reads the underlying vector's row `sel(i)`. The DV mask
  *    computes one `sel` array per batch (survivors of the dead-id
  *    binary search) and wraps every column; data stays in the parquet
  *    reader's buffers, so masking costs one int array per batch
  *    instead of the whole scan dropping to row-based reads. This is
  *    the selection-vector idea every columnar engine uses for
  *    positional deletes (Iceberg's vectorized reads of position
  *    deletes take the same shape).
  *  - [[CoalescedColumnVector]] — a first-non-null view over a renamed
  *    column's (current, prior-twin) vectors: one byte `pick(i)` per
  *    row names the candidate that supplies row `i` (-1 = genuine
  *    NULL). A pre-rename file's batch picks the twin, a post-rename
  *    file's batch picks the current name — resolved once per batch,
  *    then every access is one indirection.
  *
  * Lifecycle: the wrapped vectors are owned by the INNER reader's
  * batch (the parquet reader reuses and closes them); `close()` here
  * is a no-op so a consumer closing the wrapper batch cannot
  * double-free the reader's buffers. */
private[sql] final class SelectedColumnVector(under: ColumnVector,
    sel: Array[Int]) extends ColumnVector(under.dataType) {

  override def close(): Unit = () // inner reader owns the buffers

  // conservative: the SELECTED subset may be null-free even when the
  // file's batch is not — overstating nulls is always safe (consumers
  // use hasNull only to skip per-row null checks)
  override def hasNull: Boolean = under.hasNull
  override def numNulls: Int = under.numNulls

  override def isNullAt(i: Int): Boolean = under.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = under.getBoolean(sel(i))
  override def getByte(i: Int): Byte = under.getByte(sel(i))
  override def getShort(i: Int): Short = under.getShort(sel(i))
  override def getInt(i: Int): Int = under.getInt(sel(i))
  override def getLong(i: Int): Long = under.getLong(sel(i))
  override def getFloat(i: Int): Float = under.getFloat(sel(i))
  override def getDouble(i: Int): Double = under.getDouble(sel(i))
  override def getArray(i: Int): ColumnarArray = under.getArray(sel(i))
  override def getMap(i: Int): ColumnarMap = under.getMap(sel(i))
  override def getDecimal(i: Int, p: Int, s: Int): Decimal =
    under.getDecimal(sel(i), p, s)
  override def getUTF8String(i: Int): UTF8String =
    under.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = under.getBinary(sel(i))
  // struct fields are read as child.getX(SAME row ordinal), so children
  // carry the same selection
  override def getChild(ordinal: Int): ColumnVector =
    new SelectedColumnVector(under.getChild(ordinal), sel)
}

/** First-non-null view over a renamed column's candidate vectors (see
  * [[SelectedColumnVector]]'s scaladoc). `pick(i)` indexes `cands`;
  * -1 marks a genuine NULL (every candidate null at `i`). */
private[sql] final class CoalescedColumnVector(dt: DataType,
    cands: Array[ColumnVector], pick: Array[Byte], nNulls: Int)
    extends ColumnVector(dt) {

  override def close(): Unit = () // inner reader owns the buffers

  override def hasNull: Boolean = nNulls > 0
  override def numNulls: Int = nNulls

  override def isNullAt(i: Int): Boolean = pick(i) < 0
  override def getBoolean(i: Int): Boolean = cands(pick(i)).getBoolean(i)
  override def getByte(i: Int): Byte = cands(pick(i)).getByte(i)
  override def getShort(i: Int): Short = cands(pick(i)).getShort(i)
  override def getInt(i: Int): Int = cands(pick(i)).getInt(i)
  override def getLong(i: Int): Long = cands(pick(i)).getLong(i)
  override def getFloat(i: Int): Float = cands(pick(i)).getFloat(i)
  override def getDouble(i: Int): Double = cands(pick(i)).getDouble(i)
  override def getArray(i: Int): ColumnarArray = cands(pick(i)).getArray(i)
  override def getMap(i: Int): ColumnarMap = cands(pick(i)).getMap(i)
  override def getDecimal(i: Int, p: Int, s: Int): Decimal =
    cands(pick(i)).getDecimal(i, p, s)
  override def getUTF8String(i: Int): UTF8String =
    cands(pick(i)).getUTF8String(i)
  override def getBinary(i: Int): Array[Byte] = cands(pick(i)).getBinary(i)
  // renameColumn only applies to top-level scalar columns (the store's
  // schemas are flat), so nested access never lands here
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException(
      "coalesced rename columns are scalar")
}

private[sql] object CoalescedColumnVector {
  /** Build the per-batch view: resolve `pick` in one pass over the
    * candidates (first non-null wins, current name first). */
  def build(dt: DataType, cands: Array[ColumnVector],
      numRows: Int): CoalescedColumnVector = {
    val pick = new Array[Byte](numRows)
    var nNulls = 0
    var i = 0
    while (i < numRows) {
      var j = 0
      var found = -1
      while (j < cands.length && found < 0) {
        if (!cands(j).isNullAt(i)) found = j
        j += 1
      }
      pick(i) = found.toByte
      if (found < 0) nNulls += 1
      i += 1
    }
    new CoalescedColumnVector(dt, cands, pick, nNulls)
  }
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native table function (the UDTF tier): stream the DISTINCT k-word
  * shingles of a text column, one output row per shingle.
  *
  * The declarative equivalent —
  * `explode(array_distinct(transform(sequence(1, size(w)-k+1),
  * i -> concat_ws(" ", slice(w, i, k)))))` over a pre-split token array —
  * materializes three intermediate arrays per document (tokens, shingle
  * array, distinct array) before the explode emits anything. For the
  * dedup family this is the hottest projection in the engine: every
  * near-dup pipeline starts by shingling the corpus. This generator does
  * one pass over the raw text bytes: it walks whitespace boundaries
  * in-place, maintains a ring of the last k token offsets, and emits each
  * first-seen shingle immediately — the only per-document state is the
  * seen-set, which `array_distinct` allocates anyway.
  *
  * Semantics (spec-pinned equal to the declarative form): tokens are
  * maximal runs of non-whitespace (`\s` = space/tab/CR/LF here — the
  * fixture and oracle tokenizer split on `\s+`), shingles join k
  * consecutive tokens with a single space, duplicates emit once (first
  * occurrence order), docs with fewer than k tokens emit nothing, NULL
  * emits nothing.
  *
  * Generators run in `GenerateExec` outside whole-stage codegen either
  * way (only builtin explode/inline fuse); the win is allocation, not
  * fusion.
  */
case class ShingleGen(child: Expression, k: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(k >= 1, "shingle width must be >= 1")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"shingle_gen needs a string input, got " +
        s"${child.dataType.catalogString}")
  }

  override def elementSchema: StructType =
    StructType(StructField("sh", StringType, nullable = false) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil else ShingleGen.shingles(v.asInstanceOf[UTF8String], k)
  }

  override def prettyName: String = "shingle_gen"

  override protected def withNewChildInternal(newChild: Expression)
      : ShingleGen = copy(child = newChild)
}

object ShingleGen {

  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
      c == 0x0B // \s in Java regex: [ \t\n\x0B\f\r]

  /** One pass over the text: token boundaries -> ring of the last k token
    * slices -> first-seen shingles, emitted from a LAZY iterator — no
    * per-document output buffer, so peak memory for a huge document is
    * the seen-set plus one pending row (round-13 fix: the first version
    * eagerly buffered every row into an ArrayBuffer, matching the
    * declarative path's allocation for large docs). The text is copied
    * to a String eagerly, so the iterator holds no reference to Spark's
    * reused input row. */
  def shingles(text: UTF8String, k: Int): Iterator[InternalRow] = {
    val s = text.toString
    val n = s.length
    new Iterator[InternalRow] {
      // ring of the last k token (start, end) offsets
      private val starts = new Array[Int](k)
      private val ends = new Array[Int](k)
      private var filled = 0
      private val seen = new java.util.HashSet[String]()
      private val sb = new java.lang.StringBuilder()
      private var i = 0
      private var pending: InternalRow = _

      private def advance(): Unit = {
        pending = null
        while (pending == null && i < n) {
          while (i < n && isSpace(s.charAt(i))) i += 1
          if (i < n) {
            val st = i
            while (i < n && !isSpace(s.charAt(i))) i += 1
            // push token into the ring
            val slot = filled % k
            starts(slot) = st; ends(slot) = i
            filled += 1
            if (filled >= k) {
              sb.setLength(0)
              var j = filled - k
              while (j < filled) {
                if (j > filled - k) sb.append(' ')
                sb.append(s, starts(j % k), ends(j % k))
                j += 1
              }
              val sh = sb.toString
              if (seen.add(sh)) pending = InternalRow(UTF8String.fromString(sh))
            }
          }
        }
      }
      advance()

      override def hasNext: Boolean = pending != null
      override def next(): InternalRow = {
        if (pending == null) throw new NoSuchElementException(
          "shingle_gen iterator exhausted")
        val r = pending; advance(); r
      }
    }
  }

  /** Idempotently register with the session, then build a call (the
    * [[SubwordEncode.subword_encode]] registration pattern). */
  def shingle_gen(spark: SparkSession, c: Column, k: Int): Column = {
    val name = s"shingle_gen_$k"
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(
        name, exprs => ShingleGen(exprs.head, k), "built-in")
    call_function(name, c)
  }
}

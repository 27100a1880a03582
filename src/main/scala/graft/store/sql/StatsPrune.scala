package graft.store.sql

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.store.{Catalog, FileEntry}

/** The store's one test of a file's manifest stats: turns catalyst
  * filters into per-column [lo, hi] windows and null probes, and drops
  * files whose recorded stats provably miss them — for a `spark.sql`
  * predicate, a DataFrame filter over [[Catalog.read]],
  * [[Catalog.readRange]] / [[Catalog.readWhereNull]], and the key
  * windows of the store's DML ([[Catalog.inKeyDomain]]: merge and SCD2
  * candidates, replaceWhere's rewritten files, the OCC domain check)
  * alike.
  *
  * Soundness rules (each makes pruning conservative, never lossy):
  *  - only top-level conjuncts constrain (an `OR` arm never prunes);
  *  - strict bounds are widened to inclusive;
  *  - a column with no recorded stat keeps the file;
  *  - string windows compare in UTF-8 binary order against the BOUNDED
  *    `scols` stats (outer bounds — [[Catalog.strStatHi]]), so a
  *    truncated bound can only keep extra files;
  *  - every filter stays in the plan anyway (the scan builder reports
  *    parquet's residuals upward), so pruning can only skip IO, never
  *    change results. */
private[store] object StatsPrune {

  /** Per-column inclusive windows extracted from `filters`:
    * Long-normalized (epoch micros for timestamps) and raw-string. */
  private final case class Windows(
      longs: Map[String, (Long, Long)],
      strs: Map[String, (String, String)])

  private def asLong(l: Literal): Option[Long] = (l.value, l.dataType) match {
    case (n: java.lang.Number,
        LongType | IntegerType | ShortType | ByteType | TimestampType) =>
      Some(n.longValue())
    case _ => None
  }

  private def asStr(l: Literal): Option[String] = (l.value, l.dataType) match {
    case (u: UTF8String, StringType) => Some(u.toString)
    case (s: String, StringType) => Some(s)
    case _ => None
  }

  /** UTF-8 binary order, the order the file stats are compared in
    * (String's UTF-16 code-unit order diverges for supplementary
    * characters and would invert a window: unsound pruning). */
  private val Utf8Order: Ordering[String] =
    Ordering.fromLessThan((x, y) => Catalog.utf8Compare(x, y) < 0)

  /** (column, lo, hi) of one conjunct, its literals decoded by `dec`
    * and an `IN` list spanned in `ord`, or None. A literal `dec` cannot
    * decode (a null, another type) gives None: a null comparison
    * matches nothing, and Spark's own Filter node settles it. */
  private def bound[A](e: Expression, dec: Literal => Option[A],
      ord: Ordering[A]): Option[(String, Option[A], Option[A])] = {
    def win(a: Attribute, l: Literal, lo: Boolean, hi: Boolean) =
      dec(l).map(v => (a.name, Option.when(lo)(v), Option.when(hi)(v)))
    e match {
      case EqualTo(a: Attribute, l: Literal) => win(a, l, true, true)
      case EqualTo(l: Literal, a: Attribute) => win(a, l, true, true)
      case GreaterThan(a: Attribute, l: Literal) => win(a, l, true, false)
      case GreaterThanOrEqual(a: Attribute, l: Literal) => win(a, l, true, false)
      case LessThan(a: Attribute, l: Literal) => win(a, l, false, true)
      case LessThanOrEqual(a: Attribute, l: Literal) => win(a, l, false, true)
      case GreaterThan(l: Literal, a: Attribute) => win(a, l, false, true)
      case GreaterThanOrEqual(l: Literal, a: Attribute) => win(a, l, false, true)
      case LessThan(l: Literal, a: Attribute) => win(a, l, true, false)
      case LessThanOrEqual(l: Literal, a: Attribute) => win(a, l, true, false)
      case In(a: Attribute, vs) if vs.nonEmpty =>
        val xs = vs.collect { case l: Literal => dec(l) }.flatten
        if (xs.length < vs.length) None
        else Some((a.name, Some(xs.min(ord)), Some(xs.max(ord))))
      case _ => None
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def windows(filters: Seq[Expression]): Windows = {
    val conjuncts = filters.flatMap(splitAnd)
    var longs = Map.empty[String, (Long, Long)]
    var strs = Map.empty[String, (String, String)]
    conjuncts.foreach { c =>
      bound(c, asLong, Ordering.Long).foreach { case (col, lo, hi) =>
        val (clo, chi) = longs.getOrElse(col, (Long.MinValue, Long.MaxValue))
        longs += col -> (math.max(clo, lo.getOrElse(Long.MinValue)),
          math.min(chi, hi.getOrElse(Long.MaxValue)))
      }
      bound(c, asStr, Utf8Order).foreach { case (col, lo, hi) =>
        val (clo, chi) = strs.getOrElse(col, (null: String, null: String))
        strs += col -> ((Option(clo) ++ lo).maxOption(Utf8Order).orNull,
          (Option(chi) ++ hi).minOption(Utf8Order).orNull)
      }
    }
    Windows(longs, strs)
  }

  /** Per-column null probes extracted from the conjuncts: true = the
    * query demands `IS NULL`, false = `IS NOT NULL`. A column somehow
    * constrained BOTH ways matches nothing, but we just keep the
    * stricter-to-prove side — the residual Filter settles it. */
  private def nullProbes(filters: Seq[Expression]): Map[String, Boolean] =
    filters.flatMap(splitAnd).collect {
      case IsNull(a: Attribute) => a.name -> true
      case IsNotNull(a: Attribute) => a.name -> false
    }.toMap

  /** Files surviving the stats test for `filters`. `priors` maps a
    * RENAMED column's current name to its prior names (newest first):
    * a pre-rename file recorded its stats under the name it was staged
    * with, and those stats describe the SAME logical column, so
    * falling back per file keeps renamed columns prunable across
    * epochs (a file recording neither name is kept — conservative). */
  def prune(files: Vector[FileEntry], idCol: String,
      filters: Seq[Expression],
      priors: Map[String, Seq[String]] = Map.empty)
      : Vector[FileEntry] = {
    val w = windows(filters)
    val probes = nullProbes(filters)
    if (w.longs.isEmpty && w.strs.isEmpty && probes.isEmpty) return files
    def statOf[A](c: String, get: String => Option[A]): Option[A] =
      get(c).orElse(priors.getOrElse(c, Nil).iterator
        .map(get).collectFirst { case Some(v) => v })
    files.filter { f =>
      val longsOk = w.longs.forall { case (c, (lo, hi)) =>
        val stat =
          if (c == idCol) Some((f.minId, f.maxId))
          else statOf(c, f.cols.get)
        stat.forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
      val strsOk = w.strs.forall { case (c, (lo, hi)) =>
        statOf(c, f.scols.get).forall { case (smn, smx) =>
          (lo == null || Catalog.utf8Compare(smx, lo) >= 0) &&
            (hi == null || Catalog.utf8Compare(smn, hi) <= 0)
        }
      }
      val nullsOk = probes.forall { case (c, isNull) =>
        Catalog.nullProbeKeeps(f.rows, statOf(c, f.nulls.get), isNull)
      }
      longsOk && strsOk && nullsOk
    }
  }
}

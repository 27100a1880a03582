package graft.store.sql

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.store.{Catalog, FileEntry}

/** Manifest-stats file pruning for the store's scan route: turns the
  * planner's catalyst filters into per-column [lo, hi] windows and null
  * probes, and drops files whose recorded stats provably miss them —
  * for a `spark.sql` predicate, a DataFrame filter over
  * [[Catalog.read]], and [[Catalog.readRange]] /
  * [[Catalog.readWhereNull]] alike.
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
private[sql] object StatsPrune {

  /** Per-column inclusive windows extracted from `filters`:
    * Long-normalized (epoch micros for timestamps) and raw-string. */
  private final case class Windows(
      longs: Map[String, (Long, Long)],
      strs: Map[String, (String, String)])

  private def asLong(v: Any, dt: DataType): Option[Long] = dt match {
    case LongType | IntegerType | ShortType | ByteType | TimestampType =>
      v match {
        case n: java.lang.Number => Some(n.longValue())
        case _ => None
      }
    case _ => None
  }

  private def asStr(v: Any, dt: DataType): Option[String] = dt match {
    case StringType => v match {
      case u: UTF8String => Some(u.toString)
      case s: String => Some(s)
      case _ => None
    }
    case _ => None
  }

  /** (column, lo, hi) in the Long domain, or None. Literal null bounds
    * are dropped (a null comparison matches nothing; Spark's own Filter
    * node settles it). */
  private def longBound(e: Expression): Option[(String, Option[Long], Option[Long])] = {
    def lit(l: Literal): Option[Long] =
      Option(l.value).flatMap(asLong(_, l.dataType))
    e match {
      case EqualTo(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, Some(v), Some(v)))
      case EqualTo(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, Some(v), Some(v)))
      case GreaterThan(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, Some(v), None))
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, Some(v), None))
      case LessThan(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, None, Some(v)))
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, None, Some(v)))
      case GreaterThan(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, None, Some(v)))
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, None, Some(v)))
      case LessThan(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, Some(v), None))
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, Some(v), None))
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall {
          case l: Literal => Option(l.value).flatMap(asLong(_, l.dataType)).isDefined
          case _ => false
        } =>
        val longs = vs.map { case l: Literal => asLong(l.value, l.dataType).get }
        Some((a.name, Some(longs.min), Some(longs.max)))
      case _ => None
    }
  }

  /** String twin of [[longBound]]. */
  private def strBound(e: Expression): Option[(String, Option[String], Option[String])] = {
    def lit(l: Literal): Option[String] =
      Option(l.value).flatMap(asStr(_, l.dataType))
    e match {
      case EqualTo(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, Some(v), Some(v)))
      case EqualTo(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, Some(v), Some(v)))
      case GreaterThan(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, Some(v), None))
      case GreaterThanOrEqual(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, Some(v), None))
      case LessThan(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, None, Some(v)))
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        lit(l).map(v => (a.name, None, Some(v)))
      case GreaterThan(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, None, Some(v)))
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, None, Some(v)))
      case LessThan(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, Some(v), None))
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        lit(l).map(v => (a.name, Some(v), None))
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall {
          case l: Literal => Option(l.value).flatMap(asStr(_, l.dataType)).isDefined
          case _ => false
        } =>
        // min/max in UTF-8 BINARY order (utf8Compare), matching the
        // order the file stats are compared in — String's UTF-16
        // code-unit order diverges for supplementary characters and
        // would invert the window (unsound pruning)
        val ss = vs.map { case l: Literal => asStr(l.value, l.dataType).get }
        Some((a.name,
          Some(ss.reduce((x, y) =>
            if (Catalog.utf8Compare(x, y) <= 0) x else y)),
          Some(ss.reduce((x, y) =>
            if (Catalog.utf8Compare(x, y) >= 0) x else y))))
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
      longBound(c).foreach { case (col, lo, hi) =>
        val (clo, chi) = longs.getOrElse(col, (Long.MinValue, Long.MaxValue))
        longs += col -> (math.max(clo, lo.getOrElse(Long.MinValue)),
          math.min(chi, hi.getOrElse(Long.MaxValue)))
      }
      strBound(c).foreach { case (col, lo, hi) =>
        val (clo, chi) = strs.getOrElse(col, (null: String, null: String))
        val nlo = (Option(clo) ++ lo)
          .reduceOption((a, b) => if (Catalog.utf8Compare(a, b) >= 0) a else b)
          .orNull
        val nhi = (Option(chi) ++ hi)
          .reduceOption((a, b) => if (Catalog.utf8Compare(a, b) <= 0) a else b)
          .orNull
        strs += col -> (nlo, nhi)
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

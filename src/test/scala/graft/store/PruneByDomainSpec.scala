package graft.store

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.store.sql.StatsPrune

/** Boundary conditions of the stats test on a key window
  * ([[StatsPrune.prune]] over `k >= lo AND k <= hi`), the test merge and
  * SCD2 use to turn the hit-file scan from table-sized to
  * touched-range-sized, replaceWhere uses to pick the files it rewrites
  * and OCC uses to find a conflicting concurrent file. Wrong
  * exclusivity here silently drops matched rows, so the inclusive
  * bounds and the no-stats conservatism are pinned as a pure unit. */
class PruneByDomainSpec extends AnyFunSuite {
  private def fe(path: String, range: Option[(Long, Long)]) =
    FileEntry(path, 0L, 0L, cols = range.map(r => Map("k" -> r))
      .getOrElse(Map.empty))

  private val files = Vector(
    fe("low", Some((1L, 10L))),
    fe("mid", Some((10L, 20L))),   // touches a [10, x] domain only at lo
    fe("high", Some((21L, 30L))),
    fe("point", Some((15L, 15L))),
    fe("nostats", None))           // cannot be ruled out

  /** The files `k` in [lo, hi] keeps, `k` typed by the literals. */
  private def kept(fs: Vector[FileEntry], lo: Literal, hi: Literal,
      priors: Map[String, Seq[String]] = Map.empty): Set[String] = {
    val k = AttributeReference("k", lo.dataType)()
    StatsPrune.prune(fs, "id",
      Seq(And(GreaterThanOrEqual(k, lo), LessThanOrEqual(k, hi))), priors)
      .map(_.path).toSet
  }

  private def prune(lo: Long, hi: Long): Set[String] =
    kept(files, Literal(lo), Literal(hi))

  test("inclusive on both ends: a file touching the domain boundary " +
    "stays; disjoint ranges go; no-stats files always stay") {
    assert(prune(10L, 15L) == Set("low", "mid", "point", "nostats"))
    assert(prune(11L, 14L) == Set("mid", "nostats"))
    assert(prune(30L, 40L) == Set("high", "nostats"))
    assert(prune(31L, 40L) == Set("nostats"))
    // single-point domain on a single-point file
    assert(prune(15L, 15L) == Set("mid", "point", "nostats"))
  }

  test("no domain = no pruning (strict/non-stats merges scan everything)") {
    assert(StatsPrune.prune(files, "id", Nil) == files)
  }

  test("a stats entry for a DIFFERENT column never prunes") {
    val other = Vector(FileEntry("o", 0L, 0L, cols = Map("j" -> (1L, 2L))))
    assert(kept(other, Literal(100L), Literal(200L)) == Set("o"))
  }

  test("a renamed key's stats under a prior name prune its pre-rename " +
    "files; a file recording neither name stays") {
    val fs = Vector(
      FileEntry("old", 0L, 0L, cols = Map("k_v1" -> (1L, 10L))),
      FileEntry("older", 0L, 0L, cols = Map("k_v0" -> (11L, 20L))),
      FileEntry("new", 0L, 0L, cols = Map("k" -> (21L, 30L))),
      FileEntry("neither", 0L, 0L, cols = Map("j" -> (1L, 2L))))
    val priors = Map("k" -> Seq("k_v1", "k_v0"))
    assert(kept(fs, Literal(5L), Literal(12L), priors) ==
      Set("old", "older", "neither"))
    assert(kept(fs, Literal(25L), Literal(40L), priors) ==
      Set("new", "neither"))
    // without the prior names the pre-rename files cannot be ruled out
    assert(kept(fs, Literal(25L), Literal(40L)) ==
      Set("old", "older", "new", "neither"))
    // the same through the merge/OCC entry point, priors from the schema
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("k", LongType, nullable = true, new MetadataBuilder()
        .putStringArray(Catalog.PriorNamesKey, Array("k_v1", "k_v0"))
        .build())))
    assert(Catalog.inKeyDomain(fs, schema, "id", "k",
      Catalog.LongDomain(25L, 40L)).map(_.path).toSet == Set("new", "neither"))
  }

  test("timestamp window: epoch-micros literals against micros stats, " +
    "inclusive ends") {
    val day = 86400L * 1000000L
    val fs = Vector(
      FileEntry("d1", 0L, 0L, cols = Map("k" -> (day, 2 * day - 1))),
      FileEntry("d2", 0L, 0L, cols = Map("k" -> (2 * day, 3 * day - 1))),
      FileEntry("nostats", 0L, 0L))
    def ts(micros: Long) = Literal(micros, TimestampType)
    assert(kept(fs, ts(2 * day - 1), ts(2 * day)) == Set("d1", "d2", "nostats"))
    assert(kept(fs, ts(2 * day), ts(3 * day)) == Set("d2", "nostats"))
    assert(kept(fs, ts(3 * day), ts(4 * day)) == Set("nostats"))
  }

  // ---- string stats ------------------------------------------------------

  private val sfiles = Vector(
    FileEntry("ae", 0L, 0L, scols = Map("k" -> ("alpha", "echo"))),
    FileEntry("mp", 0L, 0L, scols = Map("k" -> ("mike", "papa"))),
    FileEntry("rz", 0L, 0L, scols = Map("k" -> ("romeo", "zulu"))),
    FileEntry("nostats", 0L, 0L))

  private def sprune(lo: String, hi: String): Set[String] =
    kept(sfiles, Literal(lo), Literal(hi))

  test("string pruning: inclusive boundary semantics in binary order; " +
    "no-stats files always stay") {
    assert(sprune("a", "l") == Set("ae", "nostats"))
    assert(sprune("echo", "mike") == Set("ae", "mp", "nostats"))
    assert(sprune("q", "q") == Set("nostats"))
    assert(sprune("zulu", "zzz") == Set("rz", "nostats"))
  }

  test("string stat bounds are OUTER bounds in UTF-8 binary order for " +
    "any value: short exact, long truncated, supplementary chars, " +
    "randomized") {
    def ok(mn: String, mx: String): Unit =
      Catalog.strStatBounds(mn, mx) match {
        case Some((lo, hi)) =>
          assert(Catalog.utf8Compare(lo, mn) <= 0,
            s"lo bound above min for '$mn'")
          assert(Catalog.utf8Compare(hi, mx) >= 0,
            s"hi bound below max for '$mx'")
        case None => // no stats recorded: conservative, always sound
      }
    ok("a", "b")
    ok("", "")
    val long = "z" * 40
    ok(long, long)
    // exact for short values
    assert(Catalog.strStatBounds("abc", "xyz").contains(("abc", "xyz")))
    // long values truncate: lo is a prefix (<=), hi is bumped (>)
    val (lo, hi) = Catalog.strStatBounds(long, long).get
    assert(lo == "z" * 32 && Catalog.utf8Compare(hi, long) > 0)
    // supplementary characters (surrogate pairs) and chars around the
    // surrogate range stay sound
    val emoji = "\uD83D\uDE00" // U+1F600
    ok(emoji * 20, emoji * 20)
    ok("x" * 31 + emoji, "x" * 31 + emoji)
    ok("\uD7FE" * 40, "\uD7FE" * 40)
    ok("\uFFFE" * 40, "\uFFFE" * 40)
    // ill-formed UTF-16 (lone surrogate) records no stats, never a bound
    assert(Catalog.strStatBounds("\uD83D" + "x" * 40, "y").isEmpty)
    // randomized sweep over a mixed alphabet (fixed seed)
    val rnd = new scala.util.Random(14)
    val alphabet = "ab\u00E9\u4E2D\uFFFD" + "\uD83D\uDE00"
    (1 to 500).foreach { _ =>
      val n = rnd.nextInt(60)
      val sb = new StringBuilder
      while (sb.length < n) sb.append(alphabet.charAt(
        rnd.nextInt(alphabet.length)))
      // drop a split pair at the end if any
      val s0 = sb.toString
      val s = if (s0.nonEmpty && Character.isHighSurrogate(s0.last))
        s0.dropRight(1) else s0
      ok(s, s)
    }
  }
}

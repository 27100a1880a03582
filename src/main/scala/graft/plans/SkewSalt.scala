package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.store.sql.GraftTable

/** Hot-key rescue for the co-partitioned custom joins ([[AsOfJoinExec]],
  * [[IntervalJoinExec]]).
  *
  * AQE's skew-join splitter pattern-matches SortMergeJoin /
  * ShuffledHashJoin and will NOT split a skewed partition of a custom
  * exec — a hot equi-key is one straggler task at 100 TB (the known
  * limitation documented on AsOfJoinExec). The rescue is the classic
  * salted-replicate rewrite, applied at the LOGICAL level so the
  * existing physical operators run unchanged:
  *
  *  - every LEFT row gains a deterministic salt in `[0, s)` (hash of all
  *    hashable columns — full-row identical duplicates co-locate, all
  *    other rows spread);
  *  - every RIGHT row is replicated into ALL `s` buckets;
  *  - the salt pair joins as one more equi-key, so the per-task left
  *    row count for a hot key drops by ~`s` while each bucket still
  *    sees the complete right history for the key — per-left-row
  *    semantics (as-of match, interval pairs) are untouched, and each
  *    left row lands in exactly ONE bucket so no post-merge or dedup
  *    is needed.
  *
  * Cost model: right-side work and shuffle volume multiply by `s`; left
  * side (the big, skewed side — the reason to salt) is untouched. To
  * rescue a hot RIGHT side instead, swap the sides (interval join is
  * symmetric) or dedup the right to unique (key, time) first — an as-of
  * right side is dimension-history-sized by construction.
  *
  * Activation: per-call `skewSalt = Some(s)` on [[AsOf.join]] /
  * [[IntervalJoin.join]], session-wide via
  * `spark.conf.set("spark.graft.join.skewSalt", s | "auto" | "off")`
  * (per-call wins), or — the round-14 default when no knob is set at
  * all — census-driven AUTO-detection ([[resolve]]/[[autoDetect]]): a
  * shuffle-path join whose left side is large enough pays one cached
  * key-census aggregate, and a planted hot key past the documented
  * thresholds picks its own salt factor while uniform keys keep the
  * exact unsalted plan. Salting forces the co-partitioned variant —
  * the broadcast variants have no left shuffle and therefore no skew
  * problem to rescue (and are never censused).
  */
private[graft] object SkewSalt {
  /** Session conf: salt policy for every salted-capable join.
    * Accepted values: `off` (or `0`/`1`/`none`) = never salt; `auto`
    * (the default when the conf is ABSENT) = census-driven detection
    * (see [[autoDetect]]); an integer `>= 2` = fixed salt factor — the
    * 100 TB knob for a pipeline whose key distribution is known hot.
    * Anything else fails loudly naming this key. */
  val ConfKey = "spark.graft.join.skewSalt"

  /** Auto-detect sizing confs (SURVEY §7.5b): the census only runs when
    * the left plan's estimated size reaches `minLeftBytes` (a smaller
    * join cannot straggle enough to matter, and the census job is not
    * free); a key is HOT when its row count reaches `minKeyRows` AND
    * exceeds `ratio` x the mean per-key count; the salt factor targets
    * `targetRowsPerTask` left rows per salt bucket, clamped to [2, 16]. */
  val AutoMinLeftBytesKey = "spark.graft.join.skewAuto.minLeftBytes"
  val AutoMinKeyRowsKey = "spark.graft.join.skewAuto.minKeyRows"
  val AutoRatioKey = "spark.graft.join.skewAuto.ratio"
  val AutoTargetRowsKey = "spark.graft.join.skewAuto.targetRowsPerTask"

  val DefaultAutoMinLeftBytes: Long = 64L * 1024 * 1024
  val DefaultAutoMinKeyRows: Long = 1000000L
  val DefaultAutoRatio: Long = 8L
  val DefaultAutoTargetRows: Long = 500000L

  val LeftCol = "__graft_salt_l"
  val RightCol = "__graft_salt_r"

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Effective salt factor for a join already known to take the SHUFFLE
    * path (callers must rule out the broadcast variants first — a
    * broadcast join has no skewed shuffle partition to rescue):
    *
    *  1. an explicit per-call request wins outright (`> 1` salts,
    *     `<= 1` means the caller pinned salting OFF);
    *  2. else the [[ConfKey]] session conf: `off`, a fixed factor, or
    *     `auto`;
    *  3. `auto` — and an ABSENT conf — runs the census-driven
    *     [[autoDetect]] below.
    *
    * A malformed conf value fails loudly naming the key, the value, and
    * the accepted domain (never a bare NumberFormatException deep in
    * join planning). */
  def resolve(requested: Option[Int], df: DataFrame,
      leftKeyCols: Seq[String]): Option[Int] =
    requested match {
      case Some(n) => Some(n).filter(_ > 1)
      case None =>
        df.sparkSession.conf.getOption(ConfKey).map(_.trim) match {
          case None => autoDetect(df, leftKeyCols)
          case Some(v) => v.toLowerCase match {
            case "auto" => autoDetect(df, leftKeyCols)
            case "off" | "none" | "0" | "1" => None
            case s =>
              val n =
                try s.toInt
                catch {
                  case _: NumberFormatException =>
                    throw new IllegalArgumentException(
                      s"$ConfKey must be 'off', 'auto', or an integer " +
                        s"salt factor >= 0; got '$v'")
                }
              if (n < 0) throw new IllegalArgumentException(
                s"$ConfKey must be 'off', 'auto', or an integer salt " +
                  s"factor >= 0; got '$v'")
              Some(n).filter(_ > 1)
          }
        }
    }

  /** Memoized census cell: the Spark aggregate runs at most once, on
    * first `value` force — OUTSIDE the ConcurrentHashMap bin lock (the
    * map factory only allocates the cell, so concurrent joins hashing
    * to the same bin never serialize behind a census job, and planning
    * re-entered from inside the census can't hit CHM's recursive-update
    * IllegalStateException). Two callers of the SAME plan still
    * serialize on the cell's own lazy-init monitor — that is the point
    * of memoizing. */
  private final class CensusCell(
      @volatile private var compute: () => Option[Int]) {
    // drop the closure after first force: it captures the whole
    // DataFrame (plans, FileIndex) — 1024 retained cells of that is
    // real driver heap, while the memoized Option[Int] is nothing
    lazy val value: Option[Int] = {
      val r = compute()
      compute = null
      r
    }
  }

  /** Census results per (analyzed-plan semantic hash, key set, input
    * file-set signature): one aggregate job over the left side's key
    * columns, paid once per distinct plan+data per JVM (re-planning the
    * same query, as bench reruns and retried stages do, hits the
    * cache). The file-set signature in the key means a table that GREW
    * under the same path (new files appended) re-censuses instead of
    * reusing a stale no-salt verdict forever. An in-memory side (a
    * store snapshot served from driver memory) lists no files, but its
    * rows are part of the analyzed plan and so of its semantic hash:
    * new rows re-census the same way. Bounded at
    * [[CensusCacheMax]] entries — on overflow the whole cache drops
    * (salting is semantics-neutral, so eviction only costs a re-census
    * on next planning, never a wrong answer). */
  private val censusCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Seq[String], Int),
      CensusCell]()
  private val CensusCacheMax = 1024

  /** Test hook: number of live census cache entries + reset. */
  private[graft] def censusCacheSize: Int = censusCache.size()
  private[graft] def clearCensusCache(): Unit = censusCache.clear()

  /** Census-driven skew detection (round 14 — the automatic version of
    * the `ext_skew_audit` thermometer): when the left side is large
    * enough to matter, ONE map-side-combined aggregate over its key
    * columns computes (max per-key rows, total rows, distinct keys).
    * A key is hot when `maxCnt >= minKeyRows` (absolute straggler
    * floor) AND `maxCnt * nKeys >= ratio * rows` (relative skew — the
    * same max/avg signal ext_skew_audit reports in ppm). The factor
    * then targets `targetRowsPerTask` rows per bucket, clamped to
    * [2, 16] — right-side replication scales with the factor, so the
    * cap bounds the rescue's own cost. Returns None for uniform keys:
    * the plan stays exactly the unsalted one. */
  private def autoDetect(df: DataFrame, keyCols: Seq[String])
      : Option[Int] = {
    val spark = df.sparkSession
    def confLong(k: String, d: Long): Long =
      spark.conf.getOption(k).map { v =>
        val n =
          try v.trim.toLong
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"$k must be a positive integer; got '$v'")
          }
        if (n <= 0) throw new IllegalArgumentException(
          s"$k must be a positive integer; got '$v'")
        n
      }.getOrElse(d)
    val minBytes = confLong(AutoMinLeftBytesKey, DefaultAutoMinLeftBytes)
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sz >= 0 && sz < minBytes) return None
    // the file-set signature (order-independent hash of resolved input
    // files: a file source's listed files, a store scan's manifest
    // paths, which `inputFiles` does not see) is driver-side metadata —
    // cheap next to the census job it guards
    val fileSig = scala.util.hashing.MurmurHash3.unorderedHash(
      df.inputFiles.toSeq ++
        GraftTable.scannedFiles(df.queryExecution.optimizedPlan))
    val key = (df.queryExecution.analyzed.semanticHash(), keyCols, fileSig)
    if (censusCache.size() > CensusCacheMax) censusCache.clear()
    censusCache.computeIfAbsent(key, _ => new CensusCell(() => {
      val minKeyRows = confLong(AutoMinKeyRowsKey, DefaultAutoMinKeyRows)
      val ratio = confLong(AutoRatioKey, DefaultAutoRatio)
      val target = confLong(AutoTargetRowsKey, DefaultAutoTargetRows)
      val r = df.select(keyCols.map(col): _*)
        .groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__graft_census_c"))
        .agg(max(col("__graft_census_c")).as("mx"),
          sum(col("__graft_census_c")).as("rows"),
          count(lit(1)).as("nk"))
        .collect()(0)
      if (r.isNullAt(0)) None // empty left
      else {
        val (mx, rows, nk) = (r.getLong(0), r.getLong(1), r.getLong(2))
        // BigInt: at 1e10 keys x 1e9-row hot key the Long product wraps
        // negative and would silently disable the rescue this feature
        // exists for (and could falsely trigger elsewhere)
        if (mx >= minKeyRows && BigInt(mx) * nk >= BigInt(ratio) * rows)
          Some(math.min(16L,
            math.max(2L, (mx + target - 1) / target)).toInt)
        else None
      }
    })).value
  }

  /** True when the planner's stats rule would pick the BROADCAST variant
    * anyway (right side under `autoBroadcastJoinThreshold`): such a join
    * has no left shuffle and therefore no skewed partition to rescue —
    * salting it would only pay the s-times right replication AND force
    * the slower co-partitioned path. The session-wide conf knob must not
    * defeat the broadcast fast path, so conf-driven (and unpinned
    * per-call) salting yields to this check; pinning
    * `broadcastRight = Some(false)` overrides it (the caller knows the
    * runtime right side outgrows the estimate). */
  def plannerWouldBroadcast(right: DataFrame): Boolean = {
    val thr = right.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val sz = right.queryExecution.optimizedPlan.stats.sizeInBytes
    thr > 0 && sz >= 0 && sz <= thr
  }

  private def requireNoSaltCols(df: DataFrame, side: String): Unit =
    Seq(LeftCol, RightCol).foreach { c =>
      require(!df.columns.contains(c),
        s"skew salt: $side side already has a '$c' column — the salted " +
          "rewrite reserves both salt names on both sides (the post-join " +
          "drop removes them by name from the whole output)")
    }

  /** Left side: deterministic per-row salt in `[0, s)` — a hash of every
    * hashable column (maps are excluded; Spark's `hash` rejects them),
    * falling back to `fallbackCol` for an all-map schema. */
  def saltLeft(left: DataFrame, fallbackCol: String, s: Int): DataFrame = {
    requireNoSaltCols(left, "left")
    val basis = left.schema.fields.filterNot(f => hasMap(f.dataType))
      .map(f => col(f.name)).toSeq
    val salt = pmod(hash((if (basis.nonEmpty) basis
      else Seq(col(fallbackCol))): _*), lit(s))
    left.withColumn(LeftCol, salt)
  }

  /** Right side: replicate every row into all `s` buckets. */
  def replicateRight(right: DataFrame, s: Int): DataFrame = {
    requireNoSaltCols(right, "right")
    right.withColumn(RightCol, explode(sequence(lit(0), lit(s - 1))))
  }
}

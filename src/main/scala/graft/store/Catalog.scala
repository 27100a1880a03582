package graft.store

import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftSqlShim, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Ascending, Attribute, AttributeReference, BindReferences, BoundReference, Cast, EqualTo, ExprId, Expression, GreaterThanOrEqual, InterpretedOrdering, InterpretedUnsafeProjection, JoinedRow, LessThanOrEqual, Literal, NamedExpression, Predicate, RowOrdering, RuntimeReplaceable, SortOrder, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DecimalType, IntegerType, LongType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import Catalog.{Batch, ResolvedDml}
import CommitLog.{Manifest, canonFiles}
import graft.plans.LocalPlanFold
import graft.store.sql.{GraftTable, StatsPrune}

/** Copy-on-write table store over parquet with a log-structured
  * manifest (SURVEY §7.3; on-disk format in [[CommitLog]]).
  *
  * The reference needs mutability (soft delete db.py:327, status flip
  * db.py:459-463) and a two-statement payment write whose intended
  * atomicity it does not actually achieve (autocommit on, SURVEY §0.1.9).
  * Here every commit — single- or multi-table — is one atomic log
  * append: writers stage new parquet files, then `mv` a tmp delta into
  * `_log/vN.json` (Delta-Lake-style; see the manifest section below).
  * Readers only ever see complete committed deltas, so the payment
  * INSERT and the registration UPDATE become visible together.
  *
  * Scale design:
  *
  *  - '''File-level COW with key pruning.''' The manifest tracks, per
  *    table, the live parquet FILES with their surrogate-id min/max. An
  *    UPDATE whose predicate pins the id column (the reference's shape:
  *    `WHERE event_id = %s`, db.py:327/459-463) rewrites only the files
  *    whose key range can contain that id; every other file is carried
  *    forward by reference, byte-identical. A predicate that does not
  *    constrain the id falls back to a full rewrite — correct, just
  *    unpruned. This is the Delta-style `UPDATE` shape without assuming
  *    Delta on the image.
  *  - '''Partition-safe id assignment.''' Appends assign dense ids via a
  *    range-partitioned sort + `zipWithIndex` (per-partition counts, one
  *    small extra job) — never a global single-partition window, which
  *    funnels every bulk load through one task. An in-memory batch (a
  *    point write) is sorted and staged on the driver instead, with no
  *    job at all ([[Tx.append]]). Dense `lastrowid` parity is preserved
  *    (SURVEY §7.4).
  *  - '''Multi-process safety, optimistic concurrency.''' A transaction
  *    body runs against a snapshot with NO lock held; the commit's
  *    validate-and-swap alone runs under the [[CommitLock]] SPI —
  *    `file` = per-root JVM monitor + `FileChannel.lock`
  *    on `_manifest.lock` (default, single-host/POSIX), `lease` = a
  *    conditional-put lease (the object-store/multi-driver shape) —
  *    and checks that no staged table was committed concurrently
  *    (conflict => [[Catalog.ConcurrentWriteException]],
  *    Delta/Iceberg-style OCC). Writers on disjoint tables of one root
  *    proceed fully in parallel; two processes sharing a root never
  *    lose a commit (the reference got this from MySQL, db.py:42-48).
  */
final class Catalog(val spark: SparkSession, val root: String,
    /** Filesystem SPI for everything the store touches on disk:
      * manifests, deltas, checkpoints, DV sidecars, writer leases,
      * vacuum sweeps. Resolved from `spark.graft.store.io`
      * (`local` default, `hadoop` for HDFS-class roots) by the public
      * constructor; tests inject an impl directly to pin both under
      * one fuzz model. */
    private[store] val io: StoreIO) {

  def this(spark: SparkSession, root: String) =
    this(spark, root, StoreIO.forRoot(spark, root))

  io.mkdirs(root)
  /** The commit validate-and-swap mutex, behind the [[CommitLock]] SPI:
    * `spark.graft.store.commitLock` picks `file` (POSIX lock, default)
    * or `lease` (conditional-put lease — the object-store shape). */
  private val commitLock: CommitLock = CommitLock.forRoot(spark, root, io)
  // legacy-layout guard: a single-manifest store (single root manifest +
  // _history) would otherwise read back as EMPTY — and vacuum, seeing
  // no referenced files, could then delete its data. Fail loudly at
  // construction instead of silently serving zero rows.
  if (io.exists(io.resolve(root, "_manifest.json")) &&
      !io.exists(io.resolve(root, "_log")))
    throw new IllegalStateException(
      s"store root '$root' uses the legacy single-manifest layout " +
        "(_manifest.json/_history); this build reads the " +
        "log-structured layout (_log/vN.json). Migrate by re-ingesting, " +
        "or read it with the release that wrote it")

  // ---- manifest ----------------------------------------------------------
  //
  // Every commit is one delta file in the commit log, and every
  // [[Catalog.CheckpointInterval]]-th version also gets a full
  // checkpoint; [[CommitLog]] owns every byte of that format. This
  // class replays it: commit cost is proportional to the COMMIT, not
  // the table (a CDC tick writes a few hundred bytes under the lock
  // regardless of table size), and readers replay checkpoint + tail
  // deltas once, then pay only per-commit deltas (version-keyed cache
  // below). Time travel ([[readAt]]), the changefeed, vacuum, fsck, OCC
  // and leases all read the same replayed states.

  /** Staged representation of DROP TABLE: maxId can never be negative
    * for a real state (dense ids start at 1), so this sentinel flows
    * through the commit plumbing unambiguously and [[writeCommit]]
    * turns it into the delta-log tombstone. */
  private val DroppedSentinel = TableState(Long.MinValue, Vector.empty)

  private val commitLog = new CommitLog(io, io.resolve(root, "_log"))

  /** Merge-on-read switch (`spark.graft.store.mergeOnRead`): `on` /
    * `auto` / ABSENT = point updates, point deletes, and merge matched
    * rows land as deletion vectors + patch files; `off` = always
    * copy-on-write (rewrites fold standing DVs in either way). Anything
    * else fails loudly naming the key. */
  private def mergeOnRead: Boolean =
    spark.conf.getOption("spark.graft.store.mergeOnRead")
      .map(_.trim.toLowerCase) match {
      case None | Some("on") | Some("auto") => true
      case Some("off") => false
      case Some(v) => throw new IllegalArgumentException(
        "spark.graft.store.mergeOnRead must be 'on', 'auto', or 'off'; " +
          s"got '$v'")
    }

  /** Consecutive deferred-checkpoint write failures (this instance):
    * drives the escalating WARN→SEVERE stderr signal; the durable health
    * signal is fsck's checkpoint-lag audit, which reads the disk. */
  private val checkpointFailStreak =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Replay one delta onto a manifest (the CANONICAL state derivation:
    * every reader — cache, time travel, fsck — goes through here, so
    * state equality used by OCC validation is instance-independent). */
  private def applyDelta(m: Manifest, d: Map[String, TableDelta])
      : Manifest = {
    val (drops, ups) = d.partition(_._2.dropped)
    (m ++ ups.map { case (tbl, td) =>
      tbl -> applyTableDelta(m.get(tbl), td)
    }) -- drops.keys
  }

  /** One table's slice of [[applyDelta]] — the targeted cold-read path
    * ([[tableState]]) replays a single table through this without
    * materializing the rest of the manifest. */
  private def applyTableDelta(prevOpt: Option[TableState],
      td: TableDelta): TableState = {
    val prev = prevOpt.getOrElse(TableState(0L, Vector.empty))
    val gone = td.remove.toSet
    TableState(td.maxId,
      canonFiles(prev.files.filterNot(f => gone(f.path)) ++ td.add),
      td.schema, td.checks, td.idCol, td.statsCols, td.renames,
      td.priorDirs)
  }

  /** The newest version this instance has seen (0 = none yet). */
  private val seenVersion = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Monotonic commit counter (0 = empty store). Every committed
    * transaction bumps it; the snapshot it produced is readable via
    * [[readAt]] until vacuum retires it.
    *
    * A warm instance probes forward from the newest version it has seen
    * instead of listing `_log/`: versions are published contiguously
    * (each commit is `renameIfAbsent` of the next delta), and vacuum
    * retires deltas in ascending version order, so while the delta of
    * the version found is still present after the probe missed the next
    * one, that next one had not been published. A cold instance, or one
    * whose seen delta vacuum has retired, lists the log. */
  def version: Long = {
    val seen = seenVersion.get
    val probed =
      if (seen == 0L || !io.exists(commitLog.deltaPath(seen))) None
      else {
        var v = seen
        while (io.exists(commitLog.deltaPath(v + 1))) v += 1
        Some(v).filter(v => io.exists(commitLog.deltaPath(v)))
      }
    val v = probed.getOrElse(
      commitLog.list().map(_._1).maxOption.getOrElse(0L))
    seenVersion.accumulateAndGet(v, math.max)
    v
  }

  /** Manifest as of commit `v`, replayed from the nearest checkpoint at
    * or below `v` (empty store below the first checkpoint) through the
    * tail deltas. Throws the standard not-available error if the chain
    * has been vacuumed past `v`. */
  private def manifestAt(v: Long): Manifest = {
    if (v == 0L) return Map.empty
    def unavailable(): Nothing = throw new IllegalArgumentException(
      s"snapshot v$v of '$root' is not available: never committed, or " +
        "already vacuumed past the retention window")
    // a concurrent vacuum can retire a log file between the existence
    // check and the read (the listing is not a lock) — that race IS the
    // vacuumed-past-retention condition and must surface as the clean
    // unavailable error, never a raw NoSuchFileException
    try {
      val log = commitLog.list()
      if (!log.exists(_._1 == v)) unavailable()
      val ckpt = log.filter(e => e._2 && e._1 <= v).maxByOption(_._1)
      val base: Manifest = ckpt match {
        case Some((_, _, p)) => commitLog.readCheckpoint(p)
        case None => Map.empty
      }
      ((ckpt.map(_._1).getOrElse(0L) + 1) to v).foldLeft(base) { (m, i) =>
        if (!io.exists(commitLog.deltaPath(i))) unavailable()
        applyDelta(m, commitLog.deltaAt(i))
      }
    } catch {
      case _: StoreIO.NoSuchPath => unavailable()
    }
  }

  /** Version-keyed manifest cache: (version, replayed state). Volatile —
    * concurrent readers may race to rebuild, but every rebuild of one
    * version derives the identical canonical state. Per-instance, so a
    * fresh `new Catalog(root)` always re-reads disk. */
  @volatile private var cache: (Long, Manifest) = (0L, Map.empty)

  private def readManifest(): Manifest = {
    val v = version
    val c = cache
    if (c._1 == v) c._2
    else {
      // fast path: roll the cached state forward delta-by-delta (cost
      // per read ∝ commits since last read, never table size); fall back
      // to checkpoint replay when the tail is gone (vacuum) or the cache
      // is empty. A vacuum racing the roll-forward (file retired between
      // the existence check and the read) falls back the same way — the
      // CURRENT version is always replayable from the newest checkpoint,
      // which vacuum never breaks.
      // the cache entry MUST be keyed by the version it materializes —
      // caching a newer state under an older version would double-apply
      // the intervening deltas on the next roll-forward
      // manifestAt surfaces its own internal vacuum race as the clean
      // "not available" IllegalArgumentException — for a plain
      // current-state read that only means OUR version listing is stale
      // (a concurrent vacuum retired v after a newer commit landed), so
      // retry once at the re-read version; if the listing hasn't moved,
      // the store is genuinely broken and the error stands
      val (mv, m) =
        try {
          if (c._1 < v &&
              ((c._1 + 1) to v).forall(i =>
                io.exists(commitLog.deltaPath(i))))
            (v, ((c._1 + 1) to v).foldLeft(c._2)((m, i) =>
              applyDelta(m, commitLog.deltaAt(i))))
          else (v, manifestAt(v))
        } catch {
          case e @ (_: StoreIO.NoSuchPath |
                    _: IllegalArgumentException) =>
            val v2 = version
            if (v2 == v && e.isInstanceOf[IllegalArgumentException]) throw e
            (v2, manifestAt(v2))
        }
      cache = (mv, m)
      m
    }
  }

  /** Per-table state cache for the targeted cold-read path, keyed by the
    * version each entry MATERIALIZED (same contract as the manifest
    * cache — a stale version never serves). */
  private val tableCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Option[TableState])]()

  /** Current state of ONE table without materializing the whole
    * manifest: on a cold instance this replays the nearest checkpoint's
    * rows for `table` only (a pushdown-filtered driver read ∝ the
    * table's file count, not the store's —
    * [[CommitLog.readCheckpointTable]]) plus the table's slice of the
    * tail deltas. At a million-file store root a single-table cold open
    * touches kilobytes of metadata. Warm paths are unchanged (the
    * whole-manifest cache wins when current); young stores' races and
    * vacuum races fall back to [[readManifest]] — same answers,
    * full-parse cost. */
  private def tableState(table: String): Option[TableState] =
    tableStates(Seq(table))(table)

  /** The current states of `tables`, all of ONE committed version:
    * [[version]] is resolved once, so a commit landing while the tables
    * are read shows in none of them or (on the fallback) in all. */
  private def tableStates(tables: Seq[String])
      : Map[String, Option[TableState]] = {
    val v = version
    try tables.map(t => t -> tableStateAt(t, v)).toMap
    catch {
      // a vacuum racing the targeted replay (file retired between the
      // listing and the read): the whole manifest re-resolves the
      // version and retries once — same protocol as readManifest
      case _: StoreIO.NoSuchPath |
           _: IllegalArgumentException =>
        val m = readManifest()
        tables.map(t => t -> m.get(t)).toMap
    }
  }

  /** `table`'s state at the committed version `v`, from the caches when
    * they hold `v`; throws as [[manifestAt]] when `v` is gone. */
  private def tableStateAt(table: String, v: Long): Option[TableState] = {
    val c = cache
    if (c._1 == v) return c._2.get(table)
    val tc = tableCache.get(table)
    if (tc != null && tc._1 == v) return tc._2
    val st = targetedState(table, v)
    tableCache.put(table, (v, st))
    st
  }

  private def targetedState(table: String, v: Long): Option[TableState] = {
    if (v == 0L) return None
    val log = commitLog.list()
    if (!log.exists(_._1 == v)) return manifestAt(v).get(table)
    val ckpt = log.filter(e => e._2 && e._1 <= v).maxByOption(_._1)
    val (baseV, base) = ckpt match {
      case Some((cv, _, p)) => (cv, commitLog.readCheckpointTable(p, table))
      case None => (0L, None)
    }
    var st = base
    ((baseV + 1) to v).foreach { i =>
      commitLog.deltaAt(i).get(table)
        .foreach(td => st =
          if (td.dropped) None else Some(applyTableDelta(st, td)))
    }
    st
  }

  /** Write one commit: the delta between `prev` (the manifest being
    * replaced) and the staged post-commit states, as `_log/vN.json` via
    * tmp + atomic rename — the rename IS the commit. Called under the
    * commit locks only; bytes written UNDER THE LOCK are proportional
    * to the commit's file delta, never to the table.
    *
    * Every [[Catalog.CheckpointInterval]]-th version also gets a full
    * checkpoint, but its O(live-files) write is returned as a DEFERRED
    * action the caller runs AFTER releasing the locks (the Delta shape:
    * checkpoints are maintenance, not commit) — so no writer ever
    * serializes behind a checkpoint. The content is captured in memory
    * at commit time, so a checkpoint written after later commits landed
    * is still exactly version N's state; a crash before it lands just
    * leaves replay anchored on the previous checkpoint (longer tail,
    * same answers) until the next one. */
  private def writeCommit(prev: Manifest, staged: Map[String, TableState])
      : Option[() => Unit] = {
    val newVersion = version + 1
    val committedAtMs = System.currentTimeMillis()
    val delta: Map[String, TableDelta] =
      staged.toSeq.flatMap { case (tbl, st) =>
        val p = prev.getOrElse(tbl, TableState(0L, Vector.empty))
        if (st == DroppedSentinel) {
          if (!prev.contains(tbl)) None // dropped a never-committed name
          else Some(tbl -> TableDelta.Dropped)
        }
        else if (p == st && prev.contains(tbl)) None
        else {
          // ENTRY-level diff, not path-level: a merge-on-read commit
          // changes an existing path's deletion vector in place — the
          // delta must carry it as remove(path) + add(new entry) or the
          // replay silently drops the mask
          val pSet = p.files.toSet
          val nSet = st.files.toSet
          val add = st.files.filterNot(pSet.contains)
          val remove = p.files.filterNot(nSet.contains).map(_.path)
          Some(tbl -> TableDelta(st.maxId, add, remove, st.schema,
            st.checks, st.idCol, st.statsCols, st.renames, st.priorDirs))
        }
      }.toMap
    io.mkdirs(commitLog.dir)
    // UUID-unique tmp: a paused-past-TTL lease holder and its stealer
    // can both be inside writeCommit for the SAME version — a shared
    // tmp name would let the loser overwrite the winner's staged bytes
    // between its write and its publish
    val tmp = commitLog.deltaTmpPath(newVersion)
    io.write(tmp, CommitLog.encodeDelta(newVersion, committedAtMs, delta))
    // fencing check: a lease-mode holder paused past the TTL
    // (GC pause, VM suspend) may have had its lease stolen — abort HERE,
    // before the irreversible rename, so the stealer's commits are never
    // clobbered. Throws ConcurrentWriteException; the retry machinery
    // re-runs the body against the winner's state. No-op for file mode.
    commitLock.verifyStillHeld()
    // store-side fence: the publish refuses an existing destination.
    // Per-impl guarantee:
    // LocalStoreIO is genuinely ATOMIC (hard-link publish, link(2)
    // EEXIST); object-store ports are atomic via ONE conditional put —
    // the fencing token the lock scaladoc requires production
    // deployments to carry into the store; HadoopStoreIO is a
    // pre-checked best-effort refusal (atomic only on HDFS's native
    // no-replace rename), with the residue serialized by the commit
    // lock + verifyStillHeld above.
    if (!io.renameIfAbsent(tmp, commitLog.deltaPath(newVersion))) {
      io.deleteIfExists(tmp)
      throw new Catalog.ConcurrentWriteException(
        s"commit v$newVersion of '$root' already exists: another " +
          "writer published this version concurrently (lease stolen " +
          "mid-commit?); re-run against the new state")
    }
    // seed the cache with the REPLAYED form (canonical ordering — other
    // instances derive the same state from the log)
    val next = applyDelta(prev, delta)
    cache = (newVersion, next)
    if (newVersion % Catalog.CheckpointInterval != 0) None
    else Some(() => {
      // the stamp is the DELTA's commit stamp, not checkpoint-write
      // time: once vacuum retires the delta, versionAsOf resolves
      // TIMESTAMP AS OF through the checkpoint — a late maintenance
      // stamp would skew it
      commitLog.writeCheckpoint(newVersion, committedAtMs, next)
    })
  }

  /** Latest version committed at or before `tsMillis` (Delta
    * `TIMESTAMP AS OF` resolution). Commit times are stamped INSIDE each
    * log file (`_committedAtMs`; file mtime is the fallback), monotone
    * because commits serialize under the commit lock (OCC: only the
    * validate-and-swap holds it). Throws if no snapshot existed yet, or
    * if every snapshot old enough has been vacuumed past the retention
    * window — never silently resolves to a different point in time. */
  def versionAsOf(tsMillis: Long): Long = {
    val log = commitLog.list()
    if (log.isEmpty)
      throw new IllegalArgumentException(
        s"no snapshot of '$root' existed at $tsMillis (empty store)")
    val candidates = log.map { case (v, isCkpt, p) =>
      (v, commitLog.committedAtMs(isCkpt, p))
    }
    val eligible = candidates.filter(_._2 <= tsMillis)
    if (eligible.isEmpty)
      throw new IllegalArgumentException(
        s"no snapshot of '$root' existed at $tsMillis (earliest " +
          s"available: ${candidates.map(_._2).minOption.getOrElse(-1L)}; " +
          "older snapshots may have been vacuumed)")
    eligible.maxBy(_._1)._1
  }

  /** `table`'s state as of committed version `v`; None at the
    * empty-store baseline (`v = 0`) or when the table did not exist. */
  private def stateAt(table: String, v: Long): Option[TableState] =
    if (v == 0L) None else manifestAt(v).get(table)

  /** The loud serving-window check of the snapshot readers: throws if
    * any data file or deletion-vector sidecar of `files` is gone,
    * naming `what` was read and the `history` a longer vacuum
    * retention window would keep readable. */
  private def requireRetained(files: Seq[FileEntry], what: String,
      history: String): Unit = {
    val gone = files.flatMap(f => f.path +: f.dv.map(_._1).toSeq)
      .filterNot(p => io.exists(io.resolve(root, p)))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"$what references ${gone.size} vacuumed file(s) (first: " +
          s"${gone.head}); raise the vacuum retention window to keep " +
          s"$history readable")
  }

  /** Time-travel read by wall-clock time (Delta `TIMESTAMP AS OF`
    * analogue): the table as the latest commit at or before
    * `tsMillis` left it. Same serving window as [[readAt]]. */
  def readAsOf(table: String, tsMillis: Long): DataFrame =
    readAt(table, versionAsOf(tsMillis))

  /** Time-travel read: the table as of commit `version` (Delta
    * `VERSION AS OF` analogue). Serving window == the vacuum retention
    * window: a snapshot older than `retainMillis` may have had its data
    * files and its history manifest reclaimed, and then this throws —
    * loudly, never a silently partial table (every referenced file is
    * existence-checked before the scan). */
  def readAt(table: String, version: Long): DataFrame = {
    val st = stateAt(table, version)
    val files = st.map(_.files).getOrElse(Vector.empty)
    requireRetained(files, s"snapshot v$version of '$table'",
      "older snapshots")
    // the snapshot's OWN schema: a table evolved after `version` still
    // time-travels to its pre-evolution shape
    readFiles(table, files, schemaOf(st, table), idColOf(st, table))
  }

  /** Row-level changefeed between two committed snapshots (Delta CDF /
    * Iceberg changelog analogue): every row inserted and deleted between
    * `fromVersion` and `toVersion`, tagged `_change_type` =
    * 'insert' | 'delete' (an update is one delete + one insert, its old
    * and new images). `fromVersion = 0` is the empty-store baseline, so
    * `changesBetween(0, v)` replays the full table as inserts.
    *
    * Cost is proportional to the CHANGE, not the table: COW never
    * rewrites a file in place, so a path common to both manifests is
    * byte-identical and skipped — only files added or removed between
    * the versions are read. Rows copied forward by a COW rewrite (the
    * untouched residents of a rewritten file) appear on both sides and
    * cancel in the `exceptAll` (multiset difference — duplicate rows and
    * NULLs compare exactly). At 100 TB a CDC tick touches a handful of
    * files; the one shuffle is the full-row-keyed exceptAll over just
    * those files' rows. Serving window == vacuum retention, same as
    * [[readAt]] — a reclaimed changed file fails loudly, never a
    * silently partial feed. */
  def changesBetween(table: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween: fromVersion $fromVersion > toVersion $toVersion")
    val toState = stateAt(table, toVersion)
    val from =
      stateAt(table, fromVersion).map(_.files).getOrElse(Vector.empty)
    val to = toState.map(_.files).getOrElse(Vector.empty)
    // entries diff by (path, dv): a merge-on-read tick changes a file's
    // DELETION VECTOR while the path stays — such an entry must appear
    // on both sides of the feed (read under its own mask each side) or
    // the change would be invisible; the rows the mask didn't touch
    // appear on both sides and cancel in the exceptAll, same as a COW
    // rewrite's carried residents
    val fromKeys = from.map(f => (f.path, f.dv)).toSet
    val toKeys = to.map(f => (f.path, f.dv)).toSet
    val removed = from.filterNot(f => toKeys((f.path, f.dv)))
    val added = to.filterNot(f => fromKeys((f.path, f.dv)))
    requireRetained(removed ++ added,
      s"changefeed v$fromVersion..v$toVersion of '$table'", "older feeds")
    // both sides read through the TO version's schema: a column added
    // between the versions appears NULL-backfilled on the old image,
    // which is the shape a CDC consumer of the evolved table expects
    // (and exceptAll needs both sides identically shaped)
    val sch = schemaOf(toState, table)
    val idc = idColOf(toState, table)
    val oldRows = readFiles(table, removed, sch, idc)
    val newRows = readFiles(table, added, sch, idc)
    newRows.exceptAll(oldRows).withColumn("_change_type", lit("insert"))
      .unionAll(
        oldRows.exceptAll(newRows).withColumn("_change_type", lit("delete")))
  }

  /** [[changesBetween]] with UPDATE PAIRING (the Delta CDF
    * `update_preimage`/`update_postimage` shape): a surrogate id
    * appearing on BOTH sides of the feed is one logical UPDATE — its
    * delete row becomes the preimage and its insert row the postimage;
    * ids on one side only stay plain 'insert'/'delete'. Sound because
    * surrogate ids are never reused (dense, monotone) and each id
    * appears at most once per snapshot — so at most once per feed side.
    * One extra id-keyed aggregate + join over the (already change-
    * proportional) feed. */
  def changesWithUpdates(table: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val idCol = idColOf(readManifest().get(table), table)
    val feed = changesBetween(table, fromVersion, toVersion)
    val bothSides = feed.groupBy(idCol)
      .agg(
        max(when(col("_change_type") === "insert", 1).otherwise(0))
          .as("__i"),
        max(when(col("_change_type") === "delete", 1).otherwise(0))
          .as("__d"))
      .filter(col("__i") === 1 && col("__d") === 1)
      .select(col(idCol), lit(true).as("__u"))
    feed.join(bothSides, Seq(idCol), "left")
      .withColumn("_change_type",
        when(col("__u") && col("_change_type") === "delete",
          lit("update_preimage"))
          .when(col("__u") && col("_change_type") === "insert",
            lit("update_postimage"))
          .otherwise(col("_change_type")))
      .drop("__u")
  }

  /** Appends-only tail between two snapshots — the streaming-source
    * read shape ([[graft.streaming.GraftStreamProvider]], the Delta
    * "stream from a table" analogue): the rows of every file ADDED in
    * `(fromVersion, toVersion]`, masked under each file's own deletion
    * vector as of `toVersion`. `fromVersion = 0` replays the full
    * snapshot (initial backfill).
    *
    * Contract — loud, never silently partial:
    *  - for a TAIL range (`fromVersion > 0`), any commit in the range
    *    that removed a file entry (COW rewrite, delete, compaction,
    *    DROP, or a DV change — entries key by (path, dv)) throws: an
    *    appends-only tail cannot represent row removal or mutation;
    *    consumers that need those read [[changesWithUpdates]] (the CDF
    *    mode of the same streaming source). This is checked
    *    per-VERSION over the range's deltas, not endpoint-to-endpoint,
    *    so a file added and then mutated (DV-masked, rewritten, or
    *    compacted) WITHIN the range fails just as loudly — endpoint
    *    diffing alone would serve it pre-masked, silently folding the
    *    mutation, and whether the stream failed would depend on batch
    *    pacing;
    *  - the INITIAL BACKFILL (`fromVersion = 0`) is a snapshot read,
    *    not a range replay: it serves the END version's reconciled
    *    state (DVs masked, rewrites folded) without auditing the
    *    history below it — the Delta initial-snapshot contract. The
    *    appends-only audit applies from the first tail batch on;
    *  - rows come back through the END version's schema (pre-evolution
    *    files NULL-backfill added columns, the batch-read rule); a
    *    consumer pinned to an OLDER schema is the streaming source's
    *    problem — it fails loudly and a restart re-resolves (the Delta
    *    restart-on-schema-change contract). An id-column change inside
    *    the range throws;
    *  - vacuumed files throw, same serving window as [[readAt]].
    *
    * Cost ∝ the appended data, never the table: the manifest diff is
    * driver-side over two file lists, and only added files are
    * scanned. Deterministic for fixed versions (snapshots are
    * immutable), which is what makes the streaming source's
    * checkpoint-replay exactly-once. */
  def readAppends(table: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"readAppends: fromVersion $fromVersion > toVersion $toVersion")
    val fromState = stateAt(table, fromVersion)
    val toState = stateAt(table, toVersion)
    val from = fromState.map(_.files).getOrElse(Vector.empty)
    val to = toState.map(_.files).getOrElse(Vector.empty)
    val fromKeys = from.map(f => (f.path, f.dv)).toSet
    def nonAppend(detail: String): Nothing =
      throw new IllegalStateException(
        s"readAppends v$fromVersion..v$toVersion of '$table': the range " +
          s"contains a non-append commit ($detail); an appends-only " +
          "tail cannot represent row removal/mutation — read the " +
          "change feed instead (readChangeFeed=true / " +
          "changesWithUpdates)")
    // Tail ranges audit EVERY version's delta, because the endpoint
    // diff is blind to a file added and then mutated inside the range
    // (its pre-mutation entry exists at neither endpoint — the rows
    // would silently vanish). Any `remove` in a delta — COW, delete,
    // compaction, or the remove+re-add a DV change replays as — is a
    // mutation; so is a DROP tombstone. Cost: one small driver-side
    // JSON per in-range commit, ∝ the streamed commits (the same
    // per-version granularity [[changesWithUpdates]] already reads).
    // The initial backfill (fromVersion 0) is a snapshot read by
    // contract and skips the audit — see the method doc.
    if (fromVersion > 0L)
      ((fromVersion + 1) to toVersion).foreach { v =>
        if (!io.exists(commitLog.deltaPath(v)))
          throw new IllegalStateException(
            s"readAppends v$fromVersion..v$toVersion of '$table': delta " +
              s"v$v has been vacuumed; raise the vacuum retention " +
              "window to keep the tail readable")
        commitLog.deltaAt(v).get(table)
          .foreach { td =>
            if (td.dropped)
              nonAppend(s"v$v drops the table")
            if (td.remove.nonEmpty)
              nonAppend(s"v$v removes ${td.remove.size} file entr" +
                (if (td.remove.size == 1) "y" else "ies") +
                s" — rewritten, deleted, compacted, or DV-masked; " +
                s"first: ${td.remove.head}")
          }
      }
    // endpoint diff as belt-and-braces (also covers fromVersion = 0
    // inconsistencies that would indicate log corruption)
    val toKeys = to.map(f => (f.path, f.dv)).toSet
    val removed = from.filterNot(f => toKeys((f.path, f.dv)))
    if (removed.nonEmpty)
      nonAppend(s"${removed.size} file entr" +
        (if (removed.size == 1) "y" else "ies") +
        s" rewritten, deleted, or DV-masked — first: ${removed.head.path}")
    if (fromState.isDefined &&
        idColOf(fromState, table) != idColOf(toState, table))
      throw new IllegalStateException(
        s"readAppends v$fromVersion..v$toVersion of '$table': the " +
          "surrogate-id column changed inside the range")
    val added = to.filterNot(f => fromKeys((f.path, f.dv)))
    requireRetained(added,
      s"readAppends v$fromVersion..v$toVersion of '$table'", "the tail")
    readFiles(table, added, schemaOf(toState, table),
      idColOf(toState, table))
  }

  /** Effective (schema, surrogate-id column) of `table`'s CURRENT
    * snapshot — the schema-resolution entry point for the SQL and
    * streaming front doors. */
  def tableShape(table: String)
      : (org.apache.spark.sql.types.StructType, String) = {
    val st = tableState(table)
    (schemaOf(st, table), idColOf(st, table))
  }

  // ---- reads -------------------------------------------------------------

  /** Effective schema of a table state: evolved override, else registry.
    * Pre-evolution parquet files read through a widened schema NULL-
    * backfill the added columns (parquet by-name resolution).
    *
    * Renamed columns carry their PRIOR names in the field metadata
    * under [[Catalog.PriorNamesKey]] — the one annotation point every
    * reader flows through, so the scan route, the driver route and the
    * stat-key fallbacks resolve old-named files without threading the
    * rename map through every call site. Both routes strip the
    * metadata from their output, so result frames stay clean. */
  private def schemaOf(st: Option[TableState],
      table: String): org.apache.spark.sql.types.StructType = {
    val base = st.flatMap(_.schema).getOrElse(Schemas.registry(table)._1)
    val renames = st.map(_.renames).getOrElse(Map.empty)
    if (renames.isEmpty) base
    else org.apache.spark.sql.types.StructType(base.fields.map { f =>
      renames.get(f.name) match {
        case Some(priors) if priors.nonEmpty =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putStringArray(Catalog.PriorNamesKey, priors.toArray)
          f.copy(metadata = mb.build())
        case _ => f
      }
    })
  }

  /** Surrogate-id column: the manifest's (clones), else the registry's. */
  private def idColOf(st: Option[TableState], table: String): String =
    st.flatMap(_.idCol).getOrElse(Schemas.registry(table)._2)

  /** Effective stats-column list: the manifest's (CREATE
    * TABLE'd tables, clones, setStatsColumns), else the name-keyed
    * [[Schemas.statsColumns]] registry. Same resolution shape as
    * schema/idCol — the registry is the fixture bootstrap, the
    * manifest is the source of truth for dynamic tables. */
  private def statsColsOf(st: Option[TableState],
      table: String): Seq[String] =
    st.flatMap(_.statsCols)
      .getOrElse(Schemas.statsColumns.getOrElse(table, Nil))

  /** Scan a file-entry list through `schema`: a DSv2 relation over the
    * [[GraftTable]] of `files`, the relation the SQL door reads. Its
    * scan masks deletion vectors, coalesces renamed columns and prunes
    * files by any filter pushed onto it (manifest stats); its
    * attributes are the scan schema ([[DriverReads.scanSchema]]). */
  private def readFiles(table: String, files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      idCol: String): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        Catalog.stripPriorNames(schema))
    else GraftSqlShim.ofRows(spark, scanRelation(table, files, schema, idCol))

  /** The DSv2 relation [[readFiles]] scans (`files` non-empty). */
  private def scanRelation(table: String, files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      idCol: String): LogicalPlan =
    DataSourceV2Relation(
      graftTable(table, None, files.toVector, schema, idCol),
      DataTypeUtils.toAttributes(DriverReads.scanSchema(schema)), None,
      None, CaseInsensitiveStringMap.empty())

  /** Decoded small file sets, the driver route of [[read]],
    * [[Tx.read]] and the pinned [[Tx.update]] and [[Tx.delete]]. */
  private[store] val driverReads = new DriverReads(spark, io, root)

  /** `files` of `table` as an unanalyzed relation: the driver's
    * in-memory `LocalRelation` when [[DriverReads]] admits the snapshot
    * (an empty one always is), else the scan relation
    * ([[scanRelation]]). Either way the same rows and output schema,
    * [[DriverReads.scanSchema]]. */
  private def snapshotRelation(table: String, files: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType,
      idCol: String): LogicalPlan =
    driverReads.serve(table, files, schema, idCol)
      .getOrElse(scanRelation(table, files, schema, idCol))

  /** The current snapshots of `tables` as unanalyzed relations, all of
    * one committed version: a caller that builds its plan once and binds
    * it per call ([[graft.service.Prepared]]) puts them under its own
    * plan, and a commit landing meanwhile never shows in one table
    * without the others. */
  private[graft] def relations(tables: Seq[String])
      : Map[String, LogicalPlan] =
    tableStates(tables).map { case (t, st) =>
      t -> snapshotRelation(t, st.map(_.files).getOrElse(Nil),
        schemaOf(st, t), idColOf(st, t))
    }

  /** The current snapshot of `table`. */
  def read(table: String): DataFrame =
    GraftSqlShim.ofRows(spark, relations(Seq(table))(table))

  /** [[read]] through the scan route whatever the snapshot's size (test
    * hook for driver-vs-scan parity). */
  private[store] def scanRead(table: String): DataFrame = {
    val st = tableState(table)
    readFiles(table, st.map(_.files).getOrElse(Nil), schemaOf(st, table),
      idColOf(st, table))
  }

  /** [[read]] through the driver route of `reads` (test hook for the
    * crossover measurement). */
  private[store] def driverRead(table: String,
      reads: DriverReads): Option[DataFrame] = {
    val st = tableState(table)
    reads.serve(table, st.map(_.files).getOrElse(Nil), schemaOf(st, table),
      idColOf(st, table)).map(GraftSqlShim.ofRows(spark, _))
  }

  /** Snapshot of `table` at `version` (None = current) for the SQL
    * front door ([[graft.store.sql.GraftTableCatalog]]): its files,
    * effective schema and surrogate-id column. None when the table has
    * neither manifest state nor a registry schema (the SQL catalog's
    * "no such table"). Version reads get [[readAt]]'s loud
    * vacuumed-file check — never a silently partial table. */
  private[store] def sqlSnapshot(table: String, version: Option[Long])
      : Option[(Vector[FileEntry], org.apache.spark.sql.types.StructType,
          String)] = {
    val st = version match {
      case Some(v) => stateAt(table, v)
      case None => tableState(table)
    }
    if (st.isEmpty && !Schemas.registry.contains(table)) return None
    val files = st.map(_.files).getOrElse(Vector.empty)
    version.foreach(v => requireRetained(files,
      s"snapshot v$v of '$table'", "older snapshots"))
    Some((files, schemaOf(st, table), idColOf(st, table)))
  }

  /** The scan table of `files` read through `schema` (prior names in
    * field metadata), each file's deletion vector loaded. While live
    * files still carry a pre-rename column name, the scan reads
    * prior-name twin columns and coalesces per row
    * ([[graft.store.sql.RenameCoalescingScan]]). A file staged AFTER
    * the rename records null counts for every current column (the
    * stage-time contract), so a fully migrated layout drops back to the
    * vectorized single-schema fast path; files without null stats
    * (rows < 0) cannot prove their epoch and keep the coalescing read
    * on. */
  private[store] def graftTable(table: String, version: Option[Long],
      files: Vector[FileEntry], schema: org.apache.spark.sql.types.StructType,
      idCol: String): GraftTable = {
    val priorsMap = Catalog.priorNames(schema)
    val staleExists = priorsMap.nonEmpty && files.exists(f =>
      f.rows < 0L || !priorsMap.keys.forall(f.nulls.contains))
    new GraftTable(spark, root, table, version, files,
      files.flatMap(f => f.dv.map(d => f.path -> DvIO.read(io, root, d._1)))
        .toMap,
      Catalog.stripPriorNames(schema), idCol,
      if (staleExists) priorsMap else Map.empty)
  }

  /** Tables the SQL catalog lists: everything with manifest state plus
    * the registered-but-unwritten (empty) tables. */
  private[store] def sqlTableNames(): Seq[String] =
    (readManifest().keySet ++ Schemas.registry.keySet).toSeq.sorted

  def maxId(table: String): Long =
    tableState(table).map(_.maxId).getOrElse(0L)

  /** Data-skipping read: rows with `column` in [lo, hi] (inclusive; Long
    * domain per [[statLong]] — epoch micros for timestamps). The scan
    * route skips files whose manifest min/max provably misses the range
    * ([[graft.store.sql.StatsPrune]]); files WITHOUT stats for the
    * column are kept, and the predicate applies to every surviving
    * row, so the result is exact whether or not a file was skipped. */
  def readRange(table: String, column: String, lo: Long, hi: Long)
      : DataFrame = inRange(read(table), column, lo, hi)

  /** Timestamp-column overload (inclusive instant range). */
  def readRange(table: String, column: String,
      lo: java.time.Instant, hi: java.time.Instant): DataFrame =
    readRange(table, column,
      lo.getEpochSecond * 1000000L + lo.getNano / 1000L,
      hi.getEpochSecond * 1000000L + hi.getNano / 1000L)

  /** String-column overload (inclusive, UTF-8 binary order — the order
    * Spark's default string comparison uses): files whose BOUNDED string
    * stats provably miss [lo, hi] are skipped (bounds are outer, so
    * skipping is sound; see [[FileEntry.scols]]). */
  def readRange(table: String, column: String, lo: String, hi: String)
      : DataFrame = inRange(read(table), column, lo, hi)

  /** Null-probe read: rows where `column IS NULL` (`isNull = true`) or
    * `IS NOT NULL`. Files whose recorded null counts prove they hold NO
    * matching row are skipped (the left-join-probe shape: a miss scan
    * over a mostly-matched join column reads only the files that ever
    * saw a NULL); a file without null stats for the column is kept. */
  def readWhereNull(table: String, column: String,
      isNull: Boolean): DataFrame = whereNull(read(table), column, isNull)

  /** `df` filtered to `column` in [lo, hi] in the Long domain. The
    * filter compares the column itself (timestamps against micros
    * literals), so the scan's stats pruning sees it. */
  private def inRange(df: DataFrame, column: String, lo: Long,
      hi: Long): DataFrame = df.schema(column).dataType match {
    case TimestampType =>
      df.filter(col(column) >= timestamp_micros(lit(lo)) &&
        col(column) <= timestamp_micros(lit(hi)))
    case _ =>
      df.filter(col(column).cast("long") >= lo &&
        col(column).cast("long") <= hi)
  }

  private def inRange(df: DataFrame, column: String, lo: String,
      hi: String): DataFrame =
    df.filter(col(column) >= lit(lo) && col(column) <= lit(hi))

  private def whereNull(df: DataFrame, column: String,
      isNull: Boolean): DataFrame =
    df.filter(if (isNull) col(column).isNull else col(column).isNotNull)

  /** Files the scan of [[readWhereNull]] keeps vs the live total (test
    * hook). */
  private[graft] def nullProbeFiles(table: String, column: String,
      isNull: Boolean): (Seq[String], Int) =
    plannedFiles(table, whereNull(scanRead(table), column, isNull))

  /** Files the scan of [[readRange]] keeps for the given range vs the
    * live total (test hook for the skipping behavior). */
  private[graft] def rangeFiles(table: String, column: String,
      lo: Long, hi: Long): (Seq[String], Int) =
    plannedFiles(table, inRange(scanRead(table), column, lo, hi))

  /** String twin of [[rangeFiles]] (test hook). */
  private[graft] def rangeFilesStr(table: String, column: String,
      lo: String, hi: String): (Seq[String], Int) =
    plannedFiles(table, inRange(scanRead(table), column, lo, hi))

  /** The files the planned scan of `df`, a read of `table`, keeps vs
    * the table's live total. */
  private def plannedFiles(table: String, df: DataFrame): (Seq[String], Int) =
    (GraftTable.scannedFiles(df.queryExecution.optimizedPlan),
      liveFiles(table).size)

  /** Live file list with id stats — the pruning metadata (test hook). */
  private[graft] def liveFiles(table: String): Seq[(String, Long, Long)] =
    readManifest().get(table).map(_.files).getOrElse(Vector.empty)
      .map(f => (f.path, f.minId, f.maxId))

  /** Metadata-vs-data integrity check (the Delta FSCK analogue): verify
    * that every live file the manifest references (a) exists on disk and
    * (b) actually contains what its manifest entry CLAIMS — the id
    * min/max and every recorded per-column stat range. Pruning
    * correctness rests on these claims ([[readRange]] skips files by
    * them), so after a migration, a restore, or any out-of-band copy
    * this is the audit a 100 TB deployment runs before trusting reads.
    *
    * Returns one row per live file: (file, n_rows, ok, problem), one
    * row per scanned file that matches no live entry (named by its
    * scanned URI; [[GraftTable.manifestPathOf]]), plus
    * one diagnosis row per ORPHANED data file — a parquet under the
    * table's directory that NO manifest (current or retained history)
    * references. Orphans are unreachable by any read — they are
    * vacuum's input (a failed transaction's staged files, an aborted
    * writer's debris) surfaced so an audit explains disk usage; a
    * concurrent in-flight writer's staged-but-uncommitted files also
    * appear, so audit a quiescent store or cross-check writer leases.
    * Cost: one scan of the table grouped by input file plus a directory
    * walk. The aggregate recomputes every stat independently of the
    * write path's [[Catalog.FileStats]], so it also audits that
    * builder.
    * Never throws on findings (an audit reports; callers decide).
    */
  def fsck(table: String): DataFrame = {
    import spark.implicits._
    // an audit must REPORT a broken commit log, not die on it: when the
    // current version cannot be replayed (missing/corrupt delta), the
    // per-file verdicts run over an empty state and the chain audit
    // below carries the diagnosis
    val m = try readManifest() catch { case _: Exception => Map.empty: Manifest }
    val st = m.get(table)
    val entries = st.map(_.files).getOrElse(Vector.empty)
    val idCol = idColOf(st, table)
    val schema = schemaOf(st, table)
    val missing = entries.filterNot(f =>
      io.exists(io.resolve(root, f.path)))
    val present = entries.filterNot(missing.contains)
    val observedRows: Seq[(Either[(String, String), String], Long, Long, Long,
        Map[String, (Long, Long)], Map[String, (String, String)],
        Map[String, Long])] =
      if (present.isEmpty) Nil
      else {
        // physical rows: the audit reads every file with its deletion
        // vector left off
        val df = readFiles(table, present.map(_.copy(dv = None)), schema,
          idCol)
        val effStats = statsColsOf(st, table)
        val statCols = effStats
          .filter(c => schema.fieldNames.contains(c))
          .filter(c => statLong(df, c).isDefined)
        val strCols = effStats
          .filter(c => schema.fieldNames.contains(c))
          .filter(c => schema(c).dataType ==
            org.apache.spark.sql.types.StringType)
        val aggs = count(lit(1)).as("n") +:
          min(col(idCol)).as("mn") +: max(col(idCol)).as("mx") +:
          (statCols.flatMap { c =>
            val lc = statLong(df, c).get
            Seq(min(lc).as(s"mn_$c"), max(lc).as(s"mx_$c"))
          } ++ strCols.flatMap { c =>
            Seq(min(col(c)).as(s"smn_$c"), max(col(c)).as(s"smx_$c"))
          } ++ schema.fieldNames.toSeq.map { c =>
            count(when(col(c).isNull, 1)).as(s"nc_$c")
          })
        val pathOf = GraftTable.manifestPathOf(root, present)
        df.groupBy(input_file_name().as("f")).agg(aggs.head, aggs.tail: _*)
          .collect().toSeq.map { r =>
            // a scanned file no entry names is reported, not thrown
            val rel = try Right(pathOf(r.getString(0))) catch {
              case e: IllegalStateException =>
                Left((r.getString(0), e.getMessage))
            }
            val cols = statCols.flatMap { c =>
              val (i, j) = (r.fieldIndex(s"mn_$c"), r.fieldIndex(s"mx_$c"))
              if (r.isNullAt(i) || r.isNullAt(j)) None
              else Some(c -> (r.getLong(i), r.getLong(j)))
            }.toMap
            val scols = strCols.flatMap { c =>
              val (i, j) = (r.fieldIndex(s"smn_$c"), r.fieldIndex(s"smx_$c"))
              if (r.isNullAt(i) || r.isNullAt(j)) None
              else Some(c -> (r.getString(i), r.getString(j)))
            }.toMap
            val oNulls = schema.fieldNames.toSeq
              .map(c => c -> r.getLong(r.fieldIndex(s"nc_$c"))).toMap
            (rel, r.getLong(1), r.getLong(2), r.getLong(3), cols, scols,
              oNulls)
          }
      }
    val observed = observedRows.flatMap(o => o._1.toOption.map(_ -> o)).toMap
    val unplaced = observedRows.flatMap(o => o._1.left.toOption.map {
      case (name, problem) => (name, o._2, false, problem)
    })
    // columns the CURRENT schema makes observable: a manifest claim for
    // one of these that reads back without a range (all-NULL column) is
    // unverifiable and must be flagged, not silently passed — it could
    // be wrong and readRange would prune by it. Claims for columns the
    // schema no longer carries (dropColumn) are legitimately
    // unverifiable and stay quiet.
    val observableStats = statsColsOf(st, table)
      .filter(schema.fieldNames.contains).toSet
    val verdicts = entries.map { f =>
      val problem: String =
        if (missing.contains(f)) "file missing on disk"
        else observed.get(f.path) match {
          case None => "file unreadable or empty"
          case Some((_, n, mn, mx, cols, scols, oNulls)) =>
            if (f.rows >= 0L && n != f.rows)
              s"manifest claims ${f.rows} rows, file has $n"
            else if (f.minId > f.maxId && n > 0)
              s"manifest claims no rows, file has $n"
            else if (f.minId <= f.maxId && (mn != f.minId || mx != f.maxId))
              s"id range [$mn,$mx] != manifest [${f.minId},${f.maxId}]"
            else {
              val bad = f.cols.collectFirst {
                case (c, (cmn, cmx)) if cols.get(c).exists(o =>
                  o._1 < cmn || o._2 > cmx) =>
                  s"column '$c' range ${cols(c)} escapes manifest " +
                    s"[$cmn,$cmx]"
                case (c, (cmn, cmx)) if observableStats.contains(c) &&
                  !cols.contains(c) =>
                  s"column '$c' stat claimed [$cmn,$cmx] but " +
                    "unobservable (column reads back all-NULL)"
              }
              // string claims are OUTER bounds: observed exact min/max
              // must sit INSIDE them (escape = pruning would drop rows)
              val badStr = f.scols.collectFirst {
                case (c, (cmn, cmx)) if scols.get(c).exists(o =>
                  Catalog.utf8Compare(o._1, cmn) < 0 ||
                    Catalog.utf8Compare(o._2, cmx) > 0) =>
                  s"column '$c' string range ${scols(c)} escapes " +
                    s"manifest bounds ['$cmn','$cmx']"
                case (c, (cmn, cmx)) if observableStats.contains(c) &&
                  !scols.contains(c) =>
                  s"column '$c' string stat claimed ['$cmn','$cmx'] " +
                    "but unobservable (column reads back all-NULL)"
              }
              // null-count claims: exact physical equality per column
              // the current schema still carries (dropped columns are
              // legitimately unverifiable, same convention as stats)
              val badNull = f.nulls.collectFirst {
                case (c, nc) if oNulls.get(c).exists(_ != nc) =>
                  s"column '$c' null count ${oNulls(c)} != manifest $nc"
              }
              bad.orElse(badStr).orElse(badNull).getOrElse("")
            }
        }
      // deletion-vector claims: the sidecar must exist,
      // parse (magic + strictly-ascending ids — DvIO.read validates),
      // agree with the recorded count, and every dead id must sit
      // inside the file's id range AND actually exist among the file's
      // physical rows — a dead id the file never held means the mask
      // (and the update that wrote it) silently missed its target
      val dvProblem: String = f.dv match {
        case Some((dp, dn)) if problem.isEmpty =>
          if (!io.exists(io.resolve(root, dp)))
            s"deletion vector '$dp' missing on disk"
          else {
            try {
              val ids = DvIO.read(io, root, dp)
              if (ids.length != dn)
                s"deletion vector '$dp' carries ${ids.length} ids, " +
                  s"manifest claims $dn"
              else if (ids.exists(i => i < f.minId || i > f.maxId))
                s"deletion vector '$dp' has ids outside the file's " +
                  s"id range [${f.minId},${f.maxId}]"
              else {
                val sp = spark
                import sp.implicits._
                val present = spark.read.schema(schema)
                  .parquet(s"$root/${f.path}")
                  .join(broadcast(ids.toSeq.toDF(idCol)), Seq(idCol),
                    "left_semi")
                  .count()
                if (present != ids.length)
                  s"deletion vector '$dp' claims ${ids.length} dead " +
                    s"rows but the file holds only $present of those ids"
                else ""
              }
            } catch {
              case e: Exception =>
                s"deletion vector '$dp' unreadable: ${e.getMessage}"
            }
          }
        case _ => ""
      }
      val allProblems = Seq(problem, dvProblem).filter(_.nonEmpty)
        .mkString("; ")
      val n = observed.get(f.path).map(_._2).getOrElse(0L)
      (f.path, n, allProblems.isEmpty, allProblems)
    }
    // orphan sweep: parquet files under the table's directory that no
    // retained manifest references. The root-wide reference set is the
    // union of every retained checkpoint's file list and every retained
    // delta's ADD list (a file live at any retained version was either
    // in the checkpoint below it or added by a delta at or below it),
    // plus the current manifest for belt-and-braces. Clones are covered:
    // they reference their source's files from another table's entries.
    val referenced: Set[String] = {
      def abs(f: FileEntry) = io.canon(io.resolve(root, f.path))
      val cur = m.values.flatMap(_.files).map(abs)
      val logged = commitLog.list().flatMap { case (_, isCkpt, p) =>
        try {
          if (isCkpt)
            commitLog.readCheckpoint(p).values
              .flatMap(_.files).map(abs)
          else
            commitLog.readDelta(p).values
              .flatMap(_.add).map(abs)
        } catch { case _: Exception => Nil } // corrupt log: chain audit flags it
      }
      (cur ++ logged).toSet
    }
    val tableDir = io.resolve(root, table)
    val orphans: Seq[(String, Long, Boolean, String)] = {
        val found = io.walk(tableDir)
          .filter(e => !e.isDir && e.name.endsWith(".parquet"))
          .filterNot(e => referenced.contains(e.path))
          .map(e => io.relativize(root, e.path))
        found.sorted.map(o => (o, 0L, false,
          "orphan: referenced by no retained manifest (vacuum candidate " +
            "ONLY if the store is quiescent — on a live store this may be " +
            "an in-flight transaction's staged-but-uncommitted file; let " +
            "vacuum reclaim it, never delete by hand)"))
      }
    (verdicts ++ unplaced ++ orphans ++ logChainProblems())
      .toDF("file", "n_rows", "ok", "problem")
  }

  /** Commit-log chain audit (part of [[fsck]]): verify the
    * `_log/` delta + checkpoint chain itself — the metadata every read
    * replays through. Emits PROBLEM rows only (a healthy log adds no
    * rows): unparseable log files, stray files in `_log/` (a crashed
    * commit's tmp — on a live store possibly an in-flight commit, same
    * quiescence caveat as orphans), a broken replay chain for the
    * current version (a missing delta below the newest usable
    * checkpoint), and a checkpoint whose content diverges from the
    * delta replay that should reproduce it. Driver-side metadata walk —
    * no data file is opened. */
  private def logChainProblems(): Seq[(String, Long, Boolean, String)] = {
    if (!io.exists(commitLog.dir)) return Nil
    val probs = Vector.newBuilder[(String, Long, Boolean, String)]
    def rel(p: String): String = io.relativize(root, p)
    // stray files (tmp debris, foreign content)
    commitLog.strays().foreach { p =>
      probs += ((rel(p), 0L, false,
        "unrecognized file in the commit log (crashed commit's tmp " +
          "or foreign debris; on a live store possibly an in-flight " +
          "commit — audit quiescent)"))
    }
    val log = commitLog.list()
    if (log.isEmpty) return probs.result()
    // parseability (a checkpoint must also carry a version footer
    // AGREEING with its filename)
    val parsedDeltas = scala.collection.mutable.Map[Long, Map[String, TableDelta]]()
    val parsedCkpts = scala.collection.mutable.Map[Long, Manifest]()
    val ckptPaths = scala.collection.mutable.Map[Long, String]()
    log.foreach { case (v, isCkpt, p) =>
      try {
        if (isCkpt) {
          val (fv, _) = commitLog.stamp(p)
          if (fv != v)
            probs += ((rel(p), 0L, false,
              s"checkpoint footer claims v$fv but the filename says " +
                s"v$v — renamed or corrupt"))
          parsedCkpts(v) = commitLog.readCheckpoint(p); ckptPaths(v) = p
        }
        else parsedDeltas(v) = commitLog.readDelta(p)
      } catch {
        case e: Exception =>
          probs += ((rel(p), 0L, false,
            s"log file unparseable: ${e.getMessage}"))
      }
    }
    // replay chain for the current version: some checkpoint C <= cur
    // (or the empty store, C = 0) must have every delta in (C, cur]
    // present and parseable
    val cur = log.map(_._1).max
    // checkpoint lag: deferred checkpoint writes are best-effort (a
    // failure must not fail the already-durable commit), so persistent
    // checkpoint IO failures are otherwise silent — but they leave an
    // on-disk signature: the current version sits far past the newest
    // checkpoint. 2x the interval tolerates one in-flight deferred
    // write plus normal cadence; past that, replay tails grow and
    // vacuum can't retire the log, so surface it here where operators
    // look
    val newestCkpt = log.filter(_._2).map(_._1).maxOption.getOrElse(0L)
    if (cur - newestCkpt > 2 * Catalog.CheckpointInterval)
      probs += ((rel(commitLog.dir), 0L, false,
        s"checkpoint lag: current v$cur is ${cur - newestCkpt} commits " +
          s"past the newest checkpoint v$newestCkpt (interval " +
          s"${Catalog.CheckpointInterval}) — deferred checkpoint writes " +
          "are failing (disk quota/permissions?); replay tails grow and " +
          "vacuum cannot retire the log until one lands"))
    def chainOk(from: Long): Boolean =
      ((from + 1) to cur).forall(parsedDeltas.contains)
    val bases = (parsedCkpts.keys.filter(_ <= cur).toSeq.sorted.reverse :+ 0L)
    if (!bases.exists(chainOk)) {
      val bestBase = bases.head
      val firstMissing = ((bestBase + 1) to cur)
        .find(i => !parsedDeltas.contains(i)).getOrElse(cur)
      probs += ((rel(commitLog.dir), 0L, false,
        s"commit-log chain broken: current v$cur is not replayable " +
          s"from any retained checkpoint (first missing/corrupt delta " +
          s"after the newest basis v$bestBase: v$firstMissing)"))
    }
    // checkpoint consistency: a checkpoint replayable from an earlier
    // retained basis must equal the delta replay (else either it or a
    // delta is corrupt — readers disagree depending on entry point)
    parsedCkpts.toSeq.sortBy(_._1).foreach { case (cv, ck) =>
      val earlier = (parsedCkpts.keys.filter(_ < cv).toSeq.sorted.reverse :+ 0L)
        .find(b => ((b + 1) to cv).forall(parsedDeltas.contains))
      earlier.foreach { b =>
        val replayed = ((b + 1) to cv).foldLeft(
          parsedCkpts.getOrElse(b, Map.empty: Manifest))(
          (m, i) => applyDelta(m, parsedDeltas(i)))
        if (replayed != ck)
          probs += ((rel(ckptPaths(cv)), 0L, false,
            s"checkpoint v$cv diverges from the delta replay v${b + 1}.." +
              s"v$cv that should reproduce it"))
      }
    }
    probs.result()
  }

  // ---- writes ------------------------------------------------------------

  /** Write df as a new file group under the table dir and return one
    * file entry per written file, with the stats of
    * [[Catalog.FileStats]]. The group name carries a UUID — two writers
    * (even in different processes) must never collide on a directory.
    *
    * `checks` (name -> CHECK expression, sorted by name) are validated
    * on the rows written: any violation fails the write with every
    * check's violating-row count, and no staged file is left behind.
    *
    * Two routes, chosen by the shape of `df`'s plan (no threshold, no
    * conf):
    *  - '''driver''': `df` is an in-memory `LocalRelation` after
    *    optimization (`Seq(...).toDF`, `createDataFrame(List[Row], ..)`),
    *    or the caller already holds the rows as a [[Batch]]
    *    ([[stageBatch]]: an append's id-assigned batch, a pinned update's
    *    new images). The rows are already on the driver: the checks are
    *    evaluated and ONE file is written there ([[stageRows]]). No
    *    Spark job runs. An empty batch stages no file.
    *  - '''job''': anything else, in ONE Spark job ([[stageByJob]]): each
    *    task writes its partition as one file, builds that file's entry
    *    and counts the check violations in the same pass over its rows.
    *
    * Invariant: on both routes a file's entry comes from one
    * [[Catalog.FileStats]] fed exactly the rows written to it, by the
    * same write loop ([[Catalog.writeFile]]), so the same rows record
    * identical [[FileEntry]] stats (every field but the path). */
  private def stageFiles(table: String, df: DataFrame,
      idCol: String,
      /** The EFFECTIVE stats-column list for this write — callers
        * resolve it through their own view of the table state
        * ([[Tx.curState]] inside a transaction, so a table created or
        * re-designated EARLIER IN THE SAME TX already collects the
        * right stats; the current manifest at commit-replay time).
        * Resolving here from the committed manifest would miss staged
        * DDL. */
      statsCols: Seq[String],
      checks: Seq[(String, String)] = Nil): Vector[FileEntry] =
    localRows(df) match {
      case Some(batch) => stageBatch(table, batch, idCol, statsCols, checks)
      case None =>
        stageByJob(table, snapDir(table), df, idCol, statsCols, checks)
    }

  /** The driver route of [[stageFiles]] for rows the caller holds. */
  private def stageBatch(table: String, batch: Batch, idCol: String,
      statsCols: Seq[String], checks: Seq[(String, String)])
      : Vector[FileEntry] =
    if (!DriverParquet.supports(batch.schema))
      stageByJob(table, snapDir(table), batch.frame(spark), idCol, statsCols,
        checks)
    else {
      requireChecks(table, checks, violations(batch, checks))
      stageRows(snapDir(table), batch.schema, batch.rows, idCol, statsCols)
    }

  /** A new, uniquely named file-group directory of `table`. */
  private def snapDir(table: String): String =
    s"$root/$table/snap-${System.currentTimeMillis()}-" +
      java.util.UUID.randomUUID().toString.take(8)

  /** `df`'s rows when its plan is an in-memory `LocalRelation` and every
    * column is parquet-writable; None routes the write through a Spark
    * job. A bare `LocalRelation` hands its rows over as analyzed; any
    * other plan whose leaves are all `LocalRelation`s must optimize to
    * one, and a plan with any other leaf is refused without an
    * optimizer pass. */
  private def localRows(df: DataFrame): Option[Batch] = {
    val qe = df.queryExecution
    if (!DriverParquet.supports(df.schema)) None
    else (qe.analyzed match {
      case l: LocalRelation => Some(l)
      case a if a.collectLeaves().forall(_.isInstanceOf[LocalRelation]) =>
        Some(qe.optimizedPlan).collect { case l: LocalRelation => l }
      case _ => None
    }).map(l => Batch(df.schema, l.data))
  }

  /** The driver route of [[stageFiles]]: one parquet file holding `rows`
    * (laid out as `schema`), written by the loop a job-route task runs. */
  private def stageRows(dir: String, schema: StructType,
      rows: Seq[InternalRow], idCol: String,
      statsCols: Seq[String]): Vector[FileEntry] = {
    val writer = DriverParquet.writer(io.hadoopConf, spark.sessionState.conf,
      schema)
    Catalog.writeFile(writer, dir, schema, idCol, statsCols, 0)(0,
      rows.iterator).map(w => w._1.copy(path = io.relativize(root,
      w._1.path))).toVector
  }

  /** The job route of [[stageFiles]]: ONE Spark job over `df`'s rows with
    * a violation flag per check appended. Each task streams its
    * partition through [[Catalog.writeFile]] with a [[DriverParquet]]
    * writer prepared once here: one file per non-empty partition, its
    * entry, and its flag counts. A failed job or a violated check
    * removes `dir` (best effort: a file a straggling task writes after
    * the job failed is an orphan, which [[fsck]] lists and [[vacuum]]
    * sweeps). */
  private def stageByJob(table: String, dir: String, df: DataFrame,
      idCol: String, statsCols: Seq[String],
      checks: Seq[(String, String)]): Vector[FileEntry] = {
    val schema = df.schema
    val plan =
      if (checks.isEmpty) df else df.select(col("*") +: flagsOf(checks): _*)
    val write = Catalog.writeFile(
      DriverParquet.writer(io.hadoopConf, spark.sessionState.conf, schema),
      dir, schema, idCol, statsCols, checks.size) _
    val qe = plan.queryExecution
    val written = try {
      SQLExecution.withNewExecutionId(qe, Some(s"stage $table")) {
        qe.toRdd.mapPartitionsWithIndex(write).collect()
      }
    } catch {
      case e: Throwable => removeStaged(dir); throw e
    }
    val bad = checks.indices.map(k => written.map(_._2(k)).sum)
    if (bad.exists(_ > 0L)) removeStaged(dir)
    requireChecks(table, checks, bad)
    written.map { case (f, _) =>
      f.copy(path = io.relativize(root, f.path))
    }.toVector
  }

  /** Delete a staged file group's directory and everything under it
    * (best effort: what survives is an orphan). */
  private def removeStaged(dir: String): Unit =
    io.walk(dir).sortBy(-_.depth).foreach { e =>
      try io.deleteIfExists(e.path)
      catch { case NonFatal(_) => }
    }

  /** A violation flag per check: TRUE where the row fails it (NULL
    * passes, SQL's CHECK semantics). */
  private def flagsOf(checks: Seq[(String, String)]): Seq[Column] =
    checks.map { case (_, e) => !coalesce(expr(e), lit(true)) }

  /** Each check's violating-row count over `df`, in ONE pass: on the
    * driver for an in-memory batch, else one aggregate job. */
  private def violations(df: DataFrame,
      checks: Seq[(String, String)]): Seq[Long] =
    if (checks.isEmpty) Nil
    else localRows(df) match {
      case Some(batch) => violations(batch, checks)
      case None =>
        val counts = flagsOf(checks).map(v => count(when(v, 1)))
        val row = df.agg(counts.head, counts.tail: _*).collect()(0)
        checks.indices.map(row.getLong)
    }

  /** [[violations]] of an in-memory batch, counted on the driver (the
    * optimizer folds the projection into the `LocalRelation`). */
  private def violations(batch: Batch,
      checks: Seq[(String, String)]): Seq[Long] =
    if (checks.isEmpty) Nil
    else {
      val flags = batch.frame(spark).select(flagsOf(checks): _*).collect()
      checks.indices.map(i => flags.count(_.getBoolean(i)).toLong)
    }

  /** Fail on the first check with violating rows (`bad`, one count per
    * check), naming it, its expression and its count. */
  private def requireChecks(table: String, checks: Seq[(String, String)],
      bad: Seq[Long]): Unit =
    checks.zip(bad).foreach { case ((n, e), k) =>
      require(k == 0L,
        s"check '$n' on '$table' violated by $k incoming rows ($e)")
    }

  /** The driver route of [[Tx.append]]: the in-memory batch `rows` laid
    * out as the table's `schema`, sorted by `orderBy` with Spark's own
    * `InterpretedOrdering` (ascending, NULLs first — `orderBy`'s
    * default) and given dense ids from `baseId + 1`. None when `rows`
    * carries a column of another type than the table's, or cannot be
    * ordered by `orderBy` on the driver. */
  private def localWithIds(table: String, rows: Batch,
      orderBy: Seq[String], schema: StructType, idCol: String,
      baseId: Long): Option[Batch] = {
    val in = rows.schema
    val data = rows.rows
    val pos = in.fieldNames.zipWithIndex.toMap
    val ordPos =
      orderBy.map(n => in.fieldNames.indexWhere(_.equalsIgnoreCase(n)))
    val typed = schema.fields.forall(f =>
      f.name == idCol || pos.get(f.name).forall(in(_).dataType == f.dataType))
    if (!typed || !ordPos.forall(i =>
        i >= 0 && RowOrdering.isOrderable(in(i).dataType))) None
    else {
      val ordering = new InterpretedOrdering(ordPos.map(i =>
        SortOrder(BoundReference(i, in(i).dataType, in(i).nullable),
          Ascending)))
      val out = data.sorted(ordering).zipWithIndex.map { case (r, i) =>
        InternalRow.fromSeq(schema.fields.toSeq.map { f =>
          if (f.name == idCol) baseId + i + 1
          else pos.get(f.name).map(r.get(_, f.dataType)).orNull
        })
      }
      schema.fields.zipWithIndex.filterNot(_._1.nullable).foreach {
        case (f, j) => require(!out.exists(_.isNullAt(j)),
          Catalog.nullInNonNullable(table, f.name))
      }
      Some(Batch(schema, out))
    }
  }

  /** The job route of [[Tx.append]]: `rows` sorted by `orderBy` (a
    * range-partitioned sort, never a global single-partition window),
    * numbered by `zipWithIndex` (one count job, none for a single
    * partition) and laid out as the table's `schema` with ids from
    * `baseId + 1` by one projection per task — the rows stay
    * `InternalRow`s, with no encoder round trip. Returned as a frame
    * over that RDD, so the write job computes it. A decimal column is
    * cast to the table's precision and scale (overflow as the session's
    * casts treat it); any other column the batch carries must have the
    * table's type, up to nullability, or the append fails. A NULL in a
    * non-nullable column fails the task that meets it, with the driver
    * route's message. */
  private def indexedByJob(table: String, rows: DataFrame,
      orderBy: Seq[String], schema: StructType, idCol: String,
      baseId: Long): DataFrame = {
    val in = rows.schema
    val pos = in.fieldNames.zipWithIndex.toMap
    val cols = schema.fields.toSeq.map { f =>
      if (f.name == idCol) BoundReference(in.length, LongType, false)
      else pos.get(f.name) match {
        case Some(i) =>
          val v = BoundReference(i, in(i).dataType, in(i).nullable)
          (in(i).dataType, f.dataType) match {
            case (a, b) if DataTypeUtils.sameType(a, b) => v
            case (_: DecimalType, _: DecimalType) => Cast(v, f.dataType)
            case (a, b) => throw new IllegalArgumentException(
              s"append to '$table': column '${f.name}' is " +
                s"${a.simpleString}, the table's is ${b.simpleString}")
          }
        case None => Literal(null, f.dataType)
      }
    }
    val required = schema.fields.indices
      .filter(j => !schema(j).nullable && schema(j).name != idCol)
      .map(j => j -> Catalog.nullInNonNullable(table, schema(j).name))
    val numbered = rows.orderBy(orderBy.map(col): _*).queryExecution.toRdd
      .zipWithIndex().mapPartitions { it =>
        // the id is the input's last ordinal; the output row is reused
        val project = UnsafeProjection.create(cols)
        val id = new SpecificInternalRow(Seq(LongType))
        val joined = new JoinedRow
        it.map { case (r, i) =>
          id.setLong(0, baseId + i + 1)
          val out = project(joined(r, id))
          required.foreach { case (j, msg) => require(!out.isNullAt(j), msg) }
          out: InternalRow
        }
      }
    GraftSqlShim.ofRows(spark, LogicalRDD(DataTypeUtils.toAttributes(schema),
      numbered)(spark.asInstanceOf[classic.SparkSession]))
  }

  /** Orderable-Long normalization of a designated stats column: epoch
    * micros for timestamps, the value for integral types; None (no
    * stats, never pruned) otherwise. */
  private def statLong(df: DataFrame, c: String):
      Option[org.apache.spark.sql.Column] =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        Some(unix_micros(col(c)))
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType =>
        Some(col(c).cast("long"))
      case _ => None
    }

  /** One staged table state: new full file list, not yet visible. */
  private case class Staged(table: String, state: TableState)

  /** `predicate` and `assignments` of a DML statement on a table of
    * `schema`, resolved in ONE analysis of a projection over an empty
    * relation of the scan attributes. A predicate or assignment that
    * does not analyze there falls back to the predicate alone, analyzed
    * as a filter (which fails as `filter(predicate)` would). */
  private def resolveDml(schema: StructType, idCol: String,
      predicate: Column, assignments: Seq[(String, Column)]): ResolvedDml = {
    val attrs = DataTypeUtils.toAttributes(DriverReads.scanSchema(schema))
    val probe = GraftSqlShim.ofRows(spark, LocalRelation(attrs))
    val resolver = spark.sessionState.conf.resolver
    val analyzed =
      try Some(probe.select(predicate.as("cond") +:
        assignments.map { case (c, v) => v.as(c) }: _*).queryExecution.analyzed)
      catch { case _: AnalysisException => None }
    analyzed match {
      case Some(Project(Alias(cond, _) +: sets, _: LocalRelation))
          if cond.dataType == BooleanType =>
        // (target column, value, name) per assignment, in order
        val targets = sets.map {
          case Alias(v, c) => attrs.find(a => resolver(a.name, c))
            .filterNot(a => resolver(a.name, idCol)).map(a => (a, v, c))
          case _ => None
        }
        val driver =
          if (targets.exists(_.isEmpty)) None
          else {
            val values = targets.flatten.foldLeft(Map.empty[ExprId, Alias]) {
              case (m, (a, v, c)) => m + (a.exprId -> Alias(v.transformUp {
                case r: AttributeReference =>
                  m.get(r.exprId).fold(r: Expression)(_.child)
              }, c)())
            }
            val keep = Catalog.replaced(cond)
            val images = attrs.map(a => Catalog.replaced(
              values.getOrElse(a.exprId, a)).asInstanceOf[NamedExpression])
            Some((keep, images))
              .filter(_ => (keep +: images).forall(LocalPlanFold.evaluable))
          }
        ResolvedDml(attrs, Some(cond), driver)
      case _ =>
        ResolvedDml(attrs, probe.filter(predicate).queryExecution.analyzed
          .collectFirst { case f: LFilter => f.condition }, None)
    }
  }

  /** The `idCol = <literal>` a resolved DML condition pins (either
    * operand order, possibly under conjunctions) — the prunable
    * reference shape `WHERE <pk> = %s`. Anything else returns None →
    * full rewrite. */
  private def pinnedId(cond: Option[Expression], idCol: String)
      : Option[Long] = {
    def attrIs(e: Expression): Boolean = e match {
      case a: Attribute => a.name.equalsIgnoreCase(idCol)
      case _ => false
    }
    def litLong(e: Expression): Option[Long] =
      if (!e.foldable) None
      else e.eval() match {
        case l: Long => Some(l)
        case i: Int => Some(i.toLong)
        case _ => None
      }
    def walk(e: Expression): Option[Long] = e match {
      case EqualTo(l, r) if attrIs(l) => litLong(r)
      case EqualTo(l, r) if attrIs(r) => litLong(l)
      case And(l, r) => walk(l).orElse(walk(r))
      case _ => None
    }
    cond.flatMap(walk)
  }

  /** Multi-statement transaction (S7): stage every write, swap once. */
  final class Tx private[Catalog] (base: Manifest) {
    private[Catalog] var staged: Vector[Staged] = Vector.empty

    /** Pinned updates and deletes take the scan route whatever the hit
      * set's size ([[Catalog.scanPinned]]). */
    private[Catalog] var scanPinned = false

    /** Tables this transaction READ through [[read]] — validated at
      * commit exactly like written tables (state equality), so a body
      * that read dimension A and wrote fact B cannot commit against a
      * concurrently-changed A (write skew). This is Delta's
      * 'Serializable' level for cross-table read-write dependencies;
      * without it OCC gives only WriteSerializable. */
    private[Catalog] var readTables: Set[String] = Set.empty

    /** Tables whose staged write DEPENDS on the whole live table (DDL,
      * check addition validating all existing rows, restore/clone) —
      * these never file-level reconcile: any concurrent commit to the
      * table conflicts. Ops whose read set is contained in the files
      * they REMOVE (append: nothing; pinned update/delete and
      * replaceWhere: exactly the hit files; compact: everything, but it
      * also removes everything) are safely reconcilable. Merge/SCD2 sit
      * in between: their read set is the table's slice holding the
      * SOURCE BATCH'S KEY DOMAIN, so when that domain is provable from
      * manifest stats they record [[mergeKeyRanges]] instead and
      * reconcile against commits that stayed outside it. */
    private[Catalog] var strictTables: Set[String] = Set.empty
    /** CHECKs this transaction declared, per table — the one DDL shape
      * that can RECONCILE against a concurrent data commit:
      * the new constraint is re-validated against the concurrent
      * commit's added files at commit-replay time instead of failing
      * outright ([[Catalog.reconcile]]). */
    private[Catalog] var addedChecks: Map[String, Map[String, String]] =
      Map.empty

    /** Keyed-upsert domains for OCC (integral and string keys):
      * table -> (key column, provable domain) of the merge/SCD2 source
      * batch — Long-normalized for integral/timestamp keys, exact
      * strings (compared in UTF-8 binary order against the files'
      * BOUNDED stats) for string keys. At commit, a concurrent commit
      * to the table reconciles iff every file it removed or added
      * carries `keyCol` stats provably OUTSIDE this domain — the
      * many-disjoint-upsert-writers shape of a 100 TB dimension load
      * commits without serializing. Recorded only when the key is a
      * manifest stats column ([[Schemas.statsColumns]]); otherwise the
      * table goes strict exactly as before. */
    private[Catalog] var mergeKeyRanges
      : Map[String, (String, Catalog.KeyDomain)] = Map.empty

    /** Record a merge/SCD2 dependency on `table`: the source batch's
      * key-domain range when provable from stats, else whole-table
      * strict. Multiple merges on one table widen the range; mixing key
      * columns or a prior strict op keeps the table strict. Returns the
      * batch's own range (independent of the strict bookkeeping) so the
      * caller can stats-prune its candidate file scan. */
    private def markMergeDomain(table: String, src: DataFrame,
        keyCol: String): Option[Catalog.KeyDomain] = {
      import Catalog.{KeyDomain, LongDomain, StrDomain}
      val range: Option[KeyDomain] =
        if (!effStatsCols(table).contains(keyCol))
          None
        else statLong(src, keyCol) match {
          case Some(lc) =>
            val r = src.agg(min(lc), max(lc)).collect()(0)
            // all-NULL key batch: pure insert, but its staged file
            // carries no key stats for others to check — stay strict
            if (r.isNullAt(0)) None
            else Some(LongDomain(r.getLong(0), r.getLong(1)))
          case None
              if src.schema(keyCol).dataType ==
                org.apache.spark.sql.types.StringType =>
            val r = src.agg(min(col(keyCol)), max(col(keyCol))).collect()(0)
            if (r.isNullAt(0)) None
            else Some(StrDomain(r.getString(0), r.getString(1)))
          case None => None
        }
      range match {
        case Some(d) if !strictTables.contains(table) =>
          (mergeKeyRanges.get(table), d) match {
            case (Some((k, LongDomain(plo, phi))), LongDomain(lo, hi))
                if k == keyCol =>
              mergeKeyRanges += table -> (keyCol,
                LongDomain(math.min(plo, lo), math.max(phi, hi)))
            case (Some((k, StrDomain(plo, phi))), StrDomain(lo, hi))
                if k == keyCol =>
              mergeKeyRanges += table -> (keyCol, StrDomain(
                if (Catalog.utf8Compare(plo, lo) <= 0) plo else lo,
                if (Catalog.utf8Compare(phi, hi) >= 0) phi else hi))
            case (Some(_), _) => // two key columns in one tx: not provable
              strictTables += table; mergeKeyRanges -= table
            case (None, _) =>
              mergeKeyRanges += table -> (keyCol, d)
          }
        case _ =>
          strictTables += table; mergeKeyRanges -= table
      }
      range
    }

    /** Manifest paths of the files among `files` holding a row of
      * `rows` (a frame over exactly `files`) whose `keyCol` is among
      * `keys`: one broadcast semi-join, each row's file named by
      * `input_file_name()` and mapped back by
      * [[GraftTable.manifestPathOf]]. Merge and SCD2 rewrite only these
      * files. */
    private def hitPaths(rows: DataFrame, files: Vector[FileEntry],
        keys: DataFrame, keyCol: String): Set[String] = {
      val pathOf = GraftTable.manifestPathOf(root, files)
      rows.withColumn("__file", input_file_name())
        .join(broadcast(keys), Seq(keyCol), "left_semi")
        .select("__file").distinct().collect()
        .map(r => pathOf(r.getString(0))).toSet
    }

    /** Per-table id shift applied by a commit-time rebase (see
      * [[Catalog!.transaction]]): ids returned DURING the body are
      * provisional; `shiftOf` after commit yields the delta to the
      * final ids. The single-statement conveniences apply it for their
      * return values, as do callers of [[Catalog!.retried]] that return
      * staged ids. */
    private[Catalog] var idShifts: Map[String, Long] = Map.empty
    def shiftOf(table: String): Long =
      idShifts.getOrElse(table, 0L)

    /** Root-relative paths of the provisional files a commit-time id
      * rebase rewrote: no manifest references them once the rebased
      * commit lands (see [[Catalog!.transaction]]). */
    private[Catalog] var superseded: Vector[String] = Vector.empty

    /** Writer lease: a marker file under `_leases/` created before the
      * FIRST byte this transaction stages, deleted when the transaction
      * ends (commit or abort). [[Catalog.vacuum]] never reclaims files
      * newer than the oldest active lease, so an in-flight writer's
      * staged-but-unreferenced files are structurally vacuum-proof —
      * including under `retainMillis = 0` and under bodies that outlive
      * the default retention window. */
    private[Catalog] var lease: Option[String] = None
    private[Catalog] def ensureLease(): Unit = if (lease.isEmpty) {
      val dir = io.resolve(root, Catalog.LeaseDirName)
      io.mkdirs(dir)
      val p = io.resolve(dir,
        java.util.UUID.randomUUID().toString + ".lease")
      io.write(p, Array.emptyByteArray)
      lease = Some(p)
    }
    private[Catalog] def releaseLease(): Unit = {
      lease.foreach(io.deleteIfExists(_))
      lease = None
    }

    private def curState(table: String): TableState = {
      val st = staged.reverse
        .collectFirst { case Staged(`table`, s) => s }
        .orElse(base.get(table))
        .getOrElse(TableState(0L, Vector.empty))
      require(st != DroppedSentinel,
        s"table '$table' was dropped earlier in this transaction")
      st
    }

    /** Effective (schema, id column) for a table under any staged or
      * committed evolution. */
    private def schemaIdOf(table: String)
        : (org.apache.spark.sql.types.StructType, String) =
      (schemaOf(Some(curState(table)), table),
        idColOf(Some(curState(table)), table))

    /** Effective stats-column list through the IN-TX view — staged
      * createTable/setStatsColumns earlier in this transaction are
      * already visible to this transaction's own writes. */
    private def effStatsCols(table: String): Seq[String] =
      statsColsOf(Some(curState(table)), table)

    /** current in-tx view of a table (staged writes visible). Reading
      * registers the table in this transaction's read set: commit
      * validates read tables exactly like written ones, so decisions
      * the body based on this view cannot be invalidated by a
      * concurrent commit (serializable, not just write-serializable). */
    def read(table: String): DataFrame = {
      readTables += table
      val st = curState(table)
      GraftSqlShim.ofRows(spark, snapshotRelation(table, st.files,
        schemaOf(Some(st), table), idColOf(Some(st), table)))
    }

    /** DDL evolution: add a nullable column to the table's schema. Pure
      * metadata — no file is touched; pre-evolution files NULL-backfill
      * the column on read (parquet by-name resolution), and the widened
      * schema commits in the SAME atomic manifest swap as any data
      * staged in this transaction. Time travel to an earlier version
      * still reads the pre-evolution shape ([[Catalog.readAt]]). */
    /** Declare a CHECK constraint (Delta `ADD CONSTRAINT` analogue):
      * `constraint` is a boolean SQL expression over the table's
      * columns. Existing rows are validated FIRST (one scan — the price
      * Delta pays too); from this commit on every append/update/merge
      * validates its newly-written rows before the manifest swap, so a
      * violating write fails loudly and atomically (nothing lands).
      * ANSI CHECK semantics: NULL evaluates as pass (unknown). The
      * constraint text is versioned IN the manifest, so time travel and
      * changefeeds see the constraint set each snapshot actually had.
      * Constraints must reference DATA columns only — the engine-owned
      * surrogate id is absent from a merge's source batch, so an
      * id-referencing check fails analysis there (loudly). */
    def addCheck(table: String, name: String, constraint: String): Unit = {
      ensureLease()
      addedChecks += table ->
        (addedChecks.getOrElse(table, Map.empty) + (name -> constraint))
      val (schema, _) = schemaIdOf(table)
      val prev = curState(table)
      require(!prev.checks.contains(name),
        s"check '$name' already exists on '$table'")
      if (prev.files.nonEmpty) {
        val bad = readFiles(table, prev.files, schema,
            idColOf(Some(prev), table))
          .filter(!coalesce(expr(constraint), lit(true))).count()
        require(bad == 0L,
          s"cannot add check '$name' to '$table': $bad existing rows " +
            s"violate ($constraint)")
      }
      staged :+= Staged(table,
        prev.copy(checks = prev.checks + (name -> constraint)))
    }

    /** The table's effective CHECK set, sorted by name. */
    private def checksOf(table: String): Seq[(String, String)] =
      curState(table).checks.toSeq.sortBy(_._1)

    /** Validate `df`, rows that will land without passing through
      * [[stageFiles]] as they are, against the table's effective CHECK
      * set in ONE pass computing every check's violation count together
      * (see [[violations]]). A frame about to be staged passes its checks
      * to [[stageFiles]] instead. */
    private def enforceChecks(table: String, df: DataFrame): Unit = {
      val checks = checksOf(table)
      requireChecks(table, checks, violations(df, checks))
    }

    def addColumn(table: String,
        field: org.apache.spark.sql.types.StructField): Unit = {
      ensureLease(); strictTables += table
      require(field.nullable,
        s"added column '${field.name}' must be nullable: existing rows " +
          "have no value for it (NULL backfill)")
      val prev = curState(table)
      val (schema, _) = schemaIdOf(table)
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(field.name)),
        s"column '${field.name}' already exists on '$table'")
      // mirror renameColumn's historical-name guard: after
      // renameColumn(a, b), live files still carry 'a' and the reader
      // unions a prior-name twin for it — adding a NEW column 'a'
      // would put the name in the physical read schema twice and brick
      // every read of the table until the column is dropped
      val historical = prev.renames.valuesIterator.flatten.toSet
      require(!historical.exists(_.equalsIgnoreCase(field.name)),
        s"'${field.name}' is a historical name of a renamed column on " +
          s"'$table' — live files may still carry it and reads resolve " +
          "it as the renamed column's prior-name twin; compact the " +
          "table and vacuum first, or pick another name")
      staged :+= Staged(table, prev.copy(schema =
        Some(Catalog.stripPriorNames(
          org.apache.spark.sql.types.StructType(schema.fields :+ field)))))
    }

    /** Schema evolution, narrowing half (Delta DROP COLUMN analogue):
      * a pure-metadata commit removing `name` from the table's schema.
      * No file is rewritten — existing parquet keeps the column's bytes
      * and every read PROJECTS the manifest schema, so the column
      * simply stops existing from this version on, while time travel
      * to an earlier snapshot still reads it (per-snapshot schemas ride
      * the manifest, the [[addColumn]] contract). The surrogate id
      * column cannot be dropped (dense-id assignment and file pruning
      * key on it), and dropping an absent column fails loudly. */
    def dropColumn(table: String, name: String): Unit = {
      ensureLease(); strictTables += table
      val prev = curState(table)
      val (schema, idCol) = schemaIdOf(table)
      require(!name.equalsIgnoreCase(idCol),
        s"cannot drop surrogate id column '$idCol' of '$table'")
      require(schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column '$name' does not exist on '$table'")
      staged :+= Staged(table, prev.copy(schema =
        Some(Catalog.stripPriorNames(org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(_.name.equalsIgnoreCase(name)))))))
    }

    /** RENAME COLUMN: a pure-metadata
      * commit — no file is rewritten. The manifest records the column's
      * PRIOR names (`TableState.renames`); readers union the current
      * name with nullable prior-name twins and COALESCE, so files from
      * every epoch resolve by exactly the name they carry, stats
      * recorded under old names keep pruning, time travel reads each
      * snapshot through its own names, and clones inherit the mapping.
      * New files write the CURRENT name — compaction/OPTIMIZE migrate
      * the physical layout incrementally.
      *
      * Loud guards: the surrogate id is not renameable (dense-id
      * plumbing, DV masks); the target name must not collide with any
      * CURRENT column or any HISTORICAL name still resolvable (the
      * coalesce would pick the wrong bytes); a column referenced by a
      * CHECK constraint must drop/re-add the check first (constraint
      * text binds by name and would silently stop validating). */
    def renameColumn(table: String, from: String, to: String): Unit = {
      ensureLease(); strictTables += table
      val prev = curState(table)
      val (schema, idCol) = schemaIdOf(table)
      require(from != to, s"rename '$from' onto itself")
      require(schema.fieldNames.contains(from),
        s"column '$from' does not exist on '$table'")
      require(!from.equalsIgnoreCase(idCol),
        s"cannot rename surrogate id column '$idCol' of '$table'")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column '$to' already exists on '$table'")
      val renames = prev.renames
      val historical = renames.valuesIterator.flatten.toSet
      require(!historical.exists(_.equalsIgnoreCase(to)),
        s"'$to' is a historical name of a renamed column on '$table' " +
          "— live files may still carry it, and the rename resolution " +
          "would read their bytes; compact the table and vacuum first, " +
          "or pick another name")
      curState(table).checks.foreach { case (n, e) =>
        require(!s"[^A-Za-z0-9_]${java.util.regex.Pattern.quote(from)}([^A-Za-z0-9_]|$$)".r
            .findFirstIn(s" $e ").isDefined,
          s"check '$n' ($e) references '$from' — constraint text binds " +
            "by name; drop the check, rename, then re-add it against " +
            "the new name")
      }
      val newSchema = org.apache.spark.sql.types.StructType(
        Catalog.stripPriorNames(schema).fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      val priorChain = from +: renames.getOrElse(from, Nil)
      staged :+= Staged(table, prev.copy(
        schema = Some(newSchema),
        renames = (renames - from) + (to -> priorChain),
        // the stats designation follows the logical column — a
        // registry-backed designation naming `from` is pinned into the
        // manifest under the new name (the registry keeps the old one)
        statsCols = prev.statsCols.map(_.map(c =>
          if (c == from) to else c)).orElse {
          val eff = Schemas.statsColumns.getOrElse(table, Nil)
          if (eff.contains(from))
            Some(eff.map(c => if (c == from) to else c))
          else None
        }))
    }

    /** Append rows, assigning dense surrogate ids; returns the LAST id
      * (lastrowid parity, db.py:213/345/466). `orderBy` fixes the id
      * order for multi-row appends (default: every column of the
      * batch). Columns the batch does not carry (e.g. a later-added
      * column when an old-shape producer writes) must be nullable and
      * backfill NULL.
      *
      * Two routes, the same two as [[stageFiles]], giving the same ids
      * and the same stats:
      *  - an in-memory batch (a `LocalRelation` after optimization,
      *    carrying the table's column types) is sorted on the driver
      *    with Spark's own `InterpretedOrdering`, checked there, and
      *    staged by the driver route: the append runs no Spark job;
      *  - any other batch gets its ids from a parallel range-partitioned
      *    sort + zipWithIndex (no global window) over `InternalRow`s
      *    ([[indexedByJob]]) and takes the job route, whose one write job
      *    also evaluates the CHECKs and the non-nullable columns.
      * An empty batch (every partition empty included) stages no file
      * and returns the current last id. */
    def append(table: String, rows: DataFrame,
        orderBy: Seq[String] = Nil): Long = {
      ensureLease()
      val (schema, idCol) = schemaIdOf(table)
      val prev = curState(table)
      val baseId = prev.maxId
      val have = rows.columns.toSet
      schema.fields.filterNot(f => f.name == idCol || have(f.name))
        .foreach(f => require(f.nullable,
          s"append to '$table' is missing non-nullable column '${f.name}'"))
      val ordNames = if (orderBy.nonEmpty) orderBy else rows.columns.toSeq
      val local = localRows(rows).flatMap(localWithIds(table, _, ordNames,
        schema, idCol, baseId))
      val newFiles = local match {
        case Some(batch) => stageBatch(table, batch, idCol,
          effStatsCols(table), checksOf(table))
        case None => stageFiles(table, indexedByJob(table, rows, ordNames,
          schema, idCol, baseId), idCol, effStatsCols(table), checksOf(table))
      }
      val n = newFiles.map(f => f.maxId).maxOption.getOrElse(baseId)
      val files = prev.files ++ newFiles
      local.foreach(seedStaged(table, files, newFiles, _, schema))
      staged :+= Staged(table, prev.copy(maxId = math.max(n, baseId),
        files = files))
      math.max(n, baseId)
    }

    /** Compact a table's live file set into `numFiles` range-partitioned,
      * id-sorted files. Every COW append/update leaves one more file
      * group behind; over time reads pay per-file open cost and the id
      * ranges of different groups interleave, which blunts file-level
      * pruning (an id probe hits many overlapping ranges). Compaction is
      * the standard maintenance pass: one range shuffle on the id column
      * rebuilds DISJOINT per-file id ranges, so a pinned-id update or
      * point read touches exactly one file again. Old files stay on disk
      * until [[Catalog.vacuum]] — in-flight readers keep a consistent
      * snapshot. */
    def compact(table: String, numFiles: Int = 1): Unit = {
      ensureLease()
      val (schema, idCol) = schemaIdOf(table)
      val prev = curState(table)
      if (prev.files.size <= math.max(1, numFiles)) return
      val all = readFiles(table, prev.files, schema, idCol)
        .repartitionByRange(math.max(1, numFiles), col(idCol))
        .sortWithinPartitions(idCol)
      val newFiles = stageFiles(table, all, idCol, effStatsCols(table))
      staged :+= Staged(table, prev.copy(files = newFiles))
    }

    /** Selective small-file compaction (Delta's bin-packing
      * `OPTIMIZE` / auto-compaction analogue): folds ONLY the live
      * files whose visible row count (physical rows minus DV-dead
      * rows) is below `smallRows` into ~`targetRows`-row id-sorted
      * bins, and leaves every other file byte-identical IN PLACE —
      * unlike [[compact]], whose cost is O(table) because it rewrites
      * the whole live set. Streaming sinks and frequent small merges
      * mint one file group per commit; at 100 TB the maintenance pass
      * that keeps read fan-in bounded must cost O(small-file bytes),
      * not O(table bytes), or it can never be scheduled. Membership is
      * decided from MANIFEST-resident row counts — zero storage RPCs
      * (the same reason Delta keeps file sizes in its log: a
      * maintenance planner that stats the object store per file is
      * O(#files) round-trips before it moves a byte). Rows-as-proxy is
      * deliberate: byte size tracks row count at fixed schema width,
      * and row counts are already exact in every manifest entry.
      *
      * Folded files' deletion vectors fold away (their output carries
      * no dv) and renamed columns migrate to current names, exactly as
      * [[compact]]; a small file whose rows are ALL dead folds to
      * nothing — auto-compaction doubles as DV garbage collection.
      * Entries with unknown row counts (`rows == -1`)
      * are never classified small. OCC: the read set equals the
      * removed set, so the commit file-level reconciles against
      * concurrent appends/disjoint rewrites like any COW rewrite —
      * a maintenance pass never serializes the ingest path behind it.
      * No-ops (below `minSmallFiles` candidates) stage nothing.
      *
      * Returns the number of small files folded (0 = no-op). */
    def compactSmall(table: String, smallRows: Long,
        targetRows: Long, minSmallFiles: Int = 2): Int = {
      require(smallRows > 0, s"smallRows must be positive: $smallRows")
      require(targetRows >= smallRows,
        s"targetRows ($targetRows) must be >= smallRows ($smallRows) " +
          "— bins smaller than the threshold would stay compactable " +
          "forever")
      ensureLease()
      val (schema, idCol) = schemaIdOf(table)
      val prev = curState(table)
      def live(f: FileEntry): Long = f.rows - f.dv.map(_._2).getOrElse(0L)
      val small = prev.files.filter(f => f.rows >= 0 && live(f) < smallRows)
      if (small.size < math.max(2, minSmallFiles)) return 0
      val smallSet = small.map(_.path).toSet
      val bins = math.max(1L, (small.map(live).sum + targetRows - 1)
        / targetRows).toInt
      val rows = readFiles(table, small, schema, idCol)
        .repartitionByRange(bins, col(idCol))
        .sortWithinPartitions(idCol)
      val newFiles = stageFiles(table, rows, idCol, effStatsCols(table))
      staged :+= Staged(table, prev.copy(files =
        prev.files.filterNot(f => smallSet.contains(f.path)) ++ newFiles))
      small.size
    }

    /** Clustered compaction — `OPTIMIZE ... ZORDER BY` (Delta/Iceberg
      * analogue): a LAYOUT-ONLY commit that rewrites the live file set
      * clustered on one or two designated columns, so every file's
      * min/max stats window is tight on THOSE columns and the one stats
      * test ([[graft.store.sql.StatsPrune]]: [[Catalog.readRange]], the
      * SQL door's file skipping, merge candidates) skips files a
      * conjunctive box predicate provably misses. [[compact]] is the
      * id-clustered special case; this is what the merge scaladoc's
      * "pair the table with a key-clustered layout" refers to — after
      * `optimize(t, Seq(keyCol))`, a CDC tick's key batch hits the few
      * files whose key window intersects it, not every file.
      *
      * Two columns cluster on the Morton interleave
      * ([[graft.core.Morton]]) of each column scaled into the curve
      * domain by its global min/max (one tiny aggregate — ingest-time
      * cost; double-precision scaling, so locality is approximate
      * under heavy skew but stats stay EXACT — pruning soundness never
      * depends on the scaling). Rows keep their surrogate ids (content
      * is invariant — the gate row hashes it); deletion vectors fold
      * away like any COW rewrite; id ranges across files now overlap,
      * the documented tradeoff: point-id reads degrade toward
      * all-files while clustered-column scans win. Cluster columns
      * must be Long/Int/Timestamp (the stats-normalizable types) and
      * should be listed in [[Schemas.statsColumns]] — without stats
      * the layout still helps parquet row-group pruning, but file
      * skipping has nothing to prune on (a warning is not enough at
      * 100 TB: this throws). */
    def optimize(table: String, clusterBy: Seq[String],
        numFiles: Int = 32): Unit = {
      ensureLease()
      require(clusterBy.nonEmpty && clusterBy.size <= 2,
        s"optimize clusters on one or two columns; got $clusterBy")
      require(clusterBy.distinct.size == clusterBy.size,
        s"duplicate cluster column in $clusterBy")
      val (schema, idCol) = schemaIdOf(table)
      clusterBy.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"optimize: no column '$c' in '$table'")
        require(c != idCol,
          s"'$c' is the surrogate id — id clustering is compact()")
        require(effStatsCols(table).contains(c),
          s"optimize: '$c' carries no file stats (designate it via " +
            "createTable/setStatsColumns, or Schemas.statsColumns for " +
            "fixture tables) — the clustered layout would have " +
            "nothing to prune on")
      }
      val prev = curState(table)
      if (prev.files.isEmpty) return
      val all = readFiles(table, prev.files, schema, idCol)
      val scaled = clusterBy.map { c =>
        val lc = statLong(all, c).getOrElse(throw new IllegalArgumentException(
          s"optimize: '$c' (${schema(c).dataType.simpleString}) is not " +
            "a stats-normalizable type (long/int/timestamp)"))
        val r = all.agg(min(lc).as("mn"), max(lc).as("mx")).collect()(0)
        if (r.isNullAt(0) || r.getLong(0) == r.getLong(1)) lit(0L)
        else {
          val (mn, mx) = (r.getLong(0), r.getLong(1))
          // double scaling: exact rank is unnecessary (locality only);
          // Long arithmetic would overflow on micros-wide domains
          ((lc - lit(mn)).cast("double") / lit((mx - mn).toDouble) *
            lit(((1L << graft.core.Morton.Bits) - 1).toDouble))
            .cast("long")
        }
      }
      val zk =
        if (scaled.size == 1) scaled.head
        else graft.core.Morton.interleave(scaled(0), scaled(1))
      val out = all.withColumn("__graft_zk", zk)
        .repartitionByRange(math.max(1, numFiles), col("__graft_zk"))
        .sortWithinPartitions("__graft_zk")
        .drop("__graft_zk")
      val newFiles = stageFiles(table, out, idCol, effStatsCols(table))
      staged :+= Staged(table, prev.copy(files = newFiles))
    }

    /** Update: predicate + per-column assignments (S6). Files whose
      * id range cannot contain a predicate-pinned id survive by
      * reference.
      *
      * An id-pinned update (Portal's payment status flip) lands as
      * merge-on-read while `spark.graft.store.mergeOnRead` is not
      * `off`: a new deletion vector on each hit file kills the matched
      * rows' old images and one patch file carries their new images
      * under the same ids, so the bytes written follow the changed rows.
      * The matched rows come from [[pinnedRows]]: from driver memory
      * when [[DriverReads]] admits the hit set (no Spark job), else from
      * one scan job. Any other update is copy-on-write: the hit files
      * are rewritten whole, folding their deletion vectors away.
      *
      * Invariant: both read routes stage the same patch rows, the same
      * dead ids per file and so the same snapshot. */
    def update(table: String, predicate: Column,
        assignments: Map[String, Column]): Unit = {
      ensureLease()
      val (schema, idCol) = schemaIdOf(table)
      val prev = curState(table)
      if (prev.files.isEmpty) return
      val dml = resolveDml(schema, idCol, predicate, assignments.toSeq)
      val pinned = pinnedId(dml.cond, idCol)
      val (hit, carried) = pinned match {
        case Some(id) =>
          prev.files.partition(f => f.minId <= id && id <= f.maxId)
        case None => (prev.files, Vector.empty[FileEntry])
      }
      if (hit.isEmpty) return // pinned id outside every file's range
      if (pinned.isDefined && mergeOnRead) {
        val (images, dead) = pinnedRows(table, hit, schema, idCol, dml,
          df => assignments.foldLeft(df.filter(predicate)) {
            case (d, (c, v)) => d.withColumn(c, v)
          })
        if (dead.isEmpty) return // predicate matched nothing
        val patch = stageBatch(table, images, idCol, effStatsCols(table),
          checksOf(table))
        val files = carried ++ dvMarked(hit, deadIds(dead)) ++ patch
        seedStaged(table, files, patch, images, schema)
        staged :+= Staged(table, prev.copy(files = files))
      } else {
        val updated = assignments.foldLeft(readFiles(table, hit, schema,
            idCol)) { case (df, (c, v)) =>
          df.withColumn(c, when(predicate, v).otherwise(col(c)))
        }
        val newFiles = stageFiles(table, updated, idCol,
          effStatsCols(table), checksOf(table))
        staged :+= Staged(table, prev.copy(files = carried ++ newFiles))
      }
    }

    /** The new images of the rows of the id-pinned `hit` files (live
      * rows only) that the statement `dml` keeps, and the (manifest file
      * path, id) of each.
      *  - '''driver''' route, when [[DriverReads]] admits `hit` and
      *    `dml`'s images evaluate on the driver: the files' rows from
      *    driver memory, kept by the resolved condition and projected to
      *    their images with Spark's interpreted evaluators, with no plan
      *    and no Spark job; a row's file is the file it was read from.
      *  - '''scan''' route, otherwise: one job running `select` (the
      *    statement as frame operations; it may filter and reassign
      *    columns but keeps every column) over the scanned hit files, each
      *    row's file named by `input_file_name()` and mapped back by
      *    [[GraftTable.manifestPathOf]], which fails loudly on a name it
      *    cannot place. */
    private def pinnedRows(table: String, hit: Vector[FileEntry],
        schema: StructType, idCol: String, dml: ResolvedDml,
        select: DataFrame => DataFrame): (Batch, Seq[(String, Long)]) = {
      val fromDriver =
        if (scanPinned || dml.driver.isEmpty) None
        else driverReads.rowsOf(table, curState(table).files, hit, schema,
          idCol)
      (fromDriver, dml.driver) match {
        case (Some(perFile), Some((cond, images))) =>
          val keep = Predicate.createInterpreted(
            BindReferences.bindReference(cond, dml.attrs))
          val image = InterpretedUnsafeProjection.createProjection(
            BindReferences.bindReferences(images, dml.attrs))
          val id = dml.attrs.indexWhere(_.name == idCol)
          val kept = perFile.zip(hit).flatMap { case (rows, f) =>
            rows.filter(keep.eval).map(r =>
              (image(r).copy(): InternalRow, (f.path, r.getLong(id))))
          }
          (Batch(DataTypeUtils.fromAttributes(images.map(_.toAttribute)),
            kept.map(_._1)), kept.map(_._2))
        case _ =>
          val keyed = GraftTable.manifestPathOf(root, hit)
          val images = select(readFiles(table, hit, schema, idCol))
            .withColumn("__graft_src_file", input_file_name())
          val at = images.schema.fieldIndex("__graft_src_file")
          val id = images.schema.fieldIndex(idCol)
          val out = StructType(images.schema.fields.patch(at, Nil, 1))
          val toRow = CatalystTypeConverters.createToCatalystConverter(out)
          val rows = images.collect().toSeq
          (Batch(out, rows.map(r => toRow(Row.fromSeq(
              r.toSeq.patch(at, Nil, 1))).asInstanceOf[InternalRow])),
            rows.map(r => (keyed(r.getString(at)), r.getLong(id))))
      }
    }

    /** (manifest file path -> dead ids) of `matched` rows, a frame over
      * `hit`, attributed by [[GraftTable.manifestPathOf]] — collected to
      * the driver, which is changed-rows-sized by the merge-on-read
      * contract (the sidecar write needs the ids driver-side anyway). */
    private def collectDeadByFile(matched: DataFrame, idCol: String,
        hit: Vector[FileEntry]): Map[String, Vector[Long]] = {
      val pathOf = GraftTable.manifestPathOf(root, hit)
      deadIds(matched.select(input_file_name(), col(idCol)).collect().toSeq
        .map(r => (pathOf(r.getString(0)), r.getLong(1))))
    }

    /** (manifest file path -> dead ids) of (path, id) pairs. */
    private def deadIds(pairs: Seq[(String, Long)])
        : Map[String, Vector[Long]] =
      pairs.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).toVector }

    /** Put `batch`, just staged on the driver as `added`'s one file,
      * into [[DriverReads]]' cache for `table`, whose staged snapshot is
      * `files` read through `schema`. */
    private def seedStaged(table: String, files: Vector[FileEntry],
        added: Vector[FileEntry], batch: Batch, schema: StructType): Unit =
      added match {
        case Vector(f) => driverReads.seed(table, files, f.path, schema,
          batch.schema, batch.rows)
        case _ =>
      }

    /** Hit entries with `deadByFile` folded into their deletion
      * vectors: a file gaining dead ids gets a NEW sidecar carrying the
      * union of its old mask and the new ids (sidecars are immutable —
      * the old one keeps serving older snapshots); untouched hit files
      * survive unchanged. */
    private def dvMarked(hit: Vector[FileEntry],
        deadByFile: Map[String, Vector[Long]]): Vector[FileEntry] =
      hit.map { f =>
        deadByFile.get(f.path) match {
          case None => f
          case Some(ids) =>
            val old = f.dv.map(d => DvIO.read(io, root, d._1))
              .getOrElse(Array.empty[Long])
            val (p, n) = DvIO.write(io, root, old ++ ids)
            f.copy(dv = Some((p, n)))
        }
      }

    /** Hard DELETE (the COW counterpart of the reference's soft-delete
      * UPDATE): files whose id range cannot contain a predicate-pinned id
      * survive by reference. An id-pinned delete is merge-on-read (see
      * [[update]]): a new deletion vector on each hit file kills the
      * matched rows in place and no file is written; the matched ids
      * come from [[pinnedRows]], from driver memory when the hit set is
      * admitted. Any other delete rewrites the matching files WITHOUT
      * the matching rows, and a rewrite left empty contributes no file.
      * Returns the number of rows deleted. Deletes are observable in
      * [[Catalog.changesBetween]] as 'delete' rows with no paired
      * insert. */
    def delete(table: String, predicate: Column): Long = {
      ensureLease()
      val (schema, idCol) = schemaIdOf(table)
      val prev = curState(table)
      if (prev.files.isEmpty) return 0L
      val dml = resolveDml(schema, idCol, predicate, Nil)
      val pinned = pinnedId(dml.cond, idCol)
      val (hit, carried) = pinned match {
        case Some(id) =>
          prev.files.partition(f => f.minId <= id && id <= f.maxId)
        case None => (prev.files, Vector.empty[FileEntry])
      }
      if (hit.isEmpty) return 0L
      if (pinned.isDefined && mergeOnRead) {
        val (_, dead) = pinnedRows(table, hit, schema, idCol, dml,
          _.filter(coalesce(predicate, lit(false))))
        if (dead.isEmpty) return 0L
        staged :+= Staged(table,
          prev.copy(files = carried ++ dvMarked(hit, deadIds(dead))))
        return dead.size.toLong
      }
      val cur = readFiles(table, hit, schema, idCol)
      // one aggregate pass yields both counts (total and matching); the
      // only other read of the hit files is the rewrite itself
      val counts = cur.agg(
        count(lit(1)).as("n"),
        count(when(coalesce(predicate, lit(false)), 1)).as("nDel"))
        .collect()(0)
      val nDeleted = counts.getLong(1)
      if (nDeleted == 0L) return 0L
      val newFiles =
        if (counts.getLong(0) == nDeleted) Vector.empty
        else stageFiles(table,
          cur.filter(!coalesce(predicate, lit(false))), idCol,
          effStatsCols(table))
      staged :+= Staged(table, prev.copy(files = carried ++ newFiles))
      nDeleted
    }

    /** MERGE (keyed upsert): each source row either rewrites the target
      * rows sharing its `keyCol` value (surrogate id preserved, every
      * non-key column taken from the source — including NULLs, which is
      * why the matched branch tests a presence marker, not
      * `coalesce`) or, when no target row has the key, appends with a
      * fresh dense id. Returns (matched target rows, inserted rows).
      *
      * File pruning is by stats, then by CONTENT: the candidates are
      * the files whose key stats can hold a batch key
      * ([[Catalog.inKeyDomain]]), and one distributed semi-join of them
      * against the broadcast source keys collects the files that
      * actually hold a matched key ([[hitPaths]]); only those are
      * rewritten — every other file survives by reference. At 100 TB the source batch is the
      * small side (a CDC tick), the key semi-join is map-side against
      * the broadcast keys, and the rewrite cost is proportional to the
      * TOUCHED file set; pairing the table with a key-clustered layout
      * (bucketing / z-order on the key) is what keeps that set small.
      *
      * Duplicate keys in the source are rejected (ambiguous merge — the
      * same precondition Delta/Iceberg MERGE enforces). NULL source keys
      * never match and insert as new rows. Runs inside the transaction:
      * rewrite + append swap into the manifest atomically with the rest
      * of the tx. */
    def merge(table: String, source: DataFrame,
        keyCol: String,
        /** Partial-SET MERGE: `Some(map)` restricts the
          * MATCHED branch to rewriting only the mapped TARGET columns,
          * each taking the named SOURCE column's value — every other
          * column of a matched row keeps its TARGET value (the `WHEN
          * MATCHED THEN UPDATE SET c = s.x` subset shape; the SQL door
          * evaluates SET expressions into synthetic source columns and
          * maps onto them). Inserts are unaffected (the table-shaped
          * source columns verbatim; mapped extras are insert-invisible).
          * `None` = the classic star merge (every non-key column from
          * the same-named source column). Because partial post-images
          * MIX target and source values, they are CHECK-validated
          * directly (the star merge's source-only validation would
          * miss a cross-column constraint). */
        matchedCols: Option[Map[String, String]] = None,
        /** Target-reading SET expressions: target column -> deterministic SQL over aliases
          * `t` (the MATCHED target row) and `s` (its source row) —
          * `"total" -> "t.total + s.delta"` is THE incremental-
          * aggregate merge. Evaluated on the per-pair JOINED images
          * the partial-merge rewrite already stages (matched target
          * row ⋈ source row), so cost stays change-proportional: the
          * join reads only the TOUCHED files' matched rows against
          * the broadcast batch. Every reference must be `t.`- or
          * `s.`-qualified (bare names would be ambiguous across the
          * pair); the merge key and surrogate id are not assignable;
          * combines with `matchedCols` (disjoint column sets). Implies
          * a partial merge: un-listed columns keep target values and
          * the mixed post-images are CHECK-validated directly. */
        matchedExprs: Map[String, String] = Map.empty): (Long, Long) = {
      ensureLease()
      val (schema, idCol) = schemaIdOf(table)
      require(keyCol != idCol,
        s"merge key must be a natural key, not the surrogate id $idCol")
      val srcCols = schema.fieldNames.filterNot(_ == idCol).toSeq
      matchedCols.foreach { m =>
        require(m.nonEmpty, "partial merge with an empty SET")
        m.foreach { case (c, from) =>
          require(srcCols.contains(c),
            s"partial-merge SET column '$c' is not a writable column " +
              s"of '$table'")
          require(c != keyCol,
            s"partial-merge SET cannot reassign the merge key '$keyCol'")
          require(source.columns.contains(from),
            s"partial-merge SET source column '$from' (for '$c') is " +
              "not in the merge source")
        }
      }
      // target-reading SET expressions: parse (unresolved) to audit the
      // reference discipline and learn which extra SOURCE columns the
      // batch must carry; full resolution + determinism is probed below
      // against an empty joined shape, BEFORE any data moves
      val exprSrcRefs: Seq[String] = matchedExprs.toSeq.flatMap {
        case (c, sql) =>
          require(srcCols.contains(c),
            s"merge SET expression column '$c' is not a writable " +
              s"column of '$table'")
          require(c != keyCol,
            s"merge SET expression cannot reassign the merge key " +
              s"'$keyCol'")
          require(!matchedCols.exists(_.contains(c)),
            s"'$c' is assigned by both matchedCols and matchedExprs")
          val parsed = spark.sessionState.sqlParser.parseExpression(sql)
          parsed.collect {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              u.nameParts match {
                case Seq(q, n) if q.equalsIgnoreCase("t") =>
                  require(schema.fieldNames.contains(n),
                    s"SET $c = $sql reads t.$n, which is not a column " +
                      s"of '$table'")
                  None
                case Seq(q, n) if q.equalsIgnoreCase("s") =>
                  require(source.columns.contains(n),
                    s"SET $c = $sql reads s.$n, which is not in the " +
                      "merge source")
                  Some(n)
                case _ => throw new IllegalArgumentException(
                  s"SET $c = $sql: every column reference must be " +
                    "t.<col> (matched target row) or s.<col> (source " +
                    s"row); got '${u.name}'")
              }
          }.flatten
      }
      // does column f of a matched image take the SOURCE value, and
      // from WHICH source column?
      val partialSet = matchedCols.isDefined || matchedExprs.nonEmpty
      val takesSrc: String => Boolean =
        f => if (!partialSet) true
          else matchedCols.exists(_.contains(f))
      val srcNameOf: String => String =
        f => matchedCols.flatMap(_.get(f)).getOrElse(f)
      // the matched image of column f, over the joined pair namespace
      // (alias t = matched target row, alias s = source row)
      val imageOf: String => Column = f =>
        if (f == idCol || f == keyCol) col(s"t.$f")
        else matchedExprs.get(f) match {
          case Some(sql) => expr(sql)
          case None =>
            if (takesSrc(f)) col(s"s.${srcNameOf(f)}") else col(s"t.$f")
        }
      // the materialized batch carries the table-shaped columns plus
      // any mapped extras (the SQL door's evaluated SET expressions)
      // plus every source column a target-reading expression names
      val batchCols = (srcCols ++ matchedCols.map(_.values.toSeq)
        .getOrElse(Nil) ++ exprSrcRefs).distinct
      // materialize the source ONCE before anything reads it (same rule
      // as replaceWhere): the batch feeds the duplicate check, the CHECK
      // validation, the matched rewrite, the insert anti-join, AND the
      // OCC key-domain recording — a non-deterministic source must not
      // pass validation on one evaluation and write different rows (or
      // record a different key domain) on the next
      val src = {
        import graft.core.Eager.EagerCheckpoint
        source.select(batchCols.map(col): _*).eagerCheckpoint()
      }
      val domain = markMergeDomain(table, src, keyCol)
      // NULL keys are exempt from the duplicate check: they can never
      // match the same target row (NULL matches nothing), so several of
      // them are not ambiguous — they all insert as new rows
      require(src.filter(col(keyCol).isNotNull)
        .groupBy(keyCol).count().filter(col("count") > 1).isEmpty,
        s"ambiguous merge: source has duplicate '$keyCol' values")
      // STAR merge: every newly-written value comes from the source
      // batch (matched rewrites take source columns; inserts ARE source
      // rows), so validating src once covers both branches — surviving
      // target rows were validated by their own writing commit.
      // PARTIAL merge: raw source values are NOT what lands — a matched
      // row takes the mapped SET-expression value (e.g. `s.value / 10`),
      // so validating src would falsely abort a merge whose landed
      // images are all valid. Matched mixed post-images are validated
      // at the rewrite (both MOR and COW branches below) and insert
      // rows by [[append]] itself — nothing lands unvalidated.
      if (!partialSet) enforceChecks(table, src)
      // probe target-reading SET expressions against an EMPTY joined
      // shape before any data moves: resolution errors (wrong types,
      // misqualified names) and the determinism contract fail loudly
      // even when this merge happens to match zero rows
      if (matchedExprs.nonEmpty) {
        val emptyTarget = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        val probe = emptyTarget.alias("t")
          .join(src.limit(0).alias("s"),
            col(s"t.$keyCol") === col(s"s.$keyCol"))
          .select(schema.fieldNames.toIndexedSeq.map(f =>
            imageOf(f).as(f)): _*)
        require(probe.queryExecution.analyzed.expressions
            .forall(_.deterministic),
          "merge SET expressions must be deterministic — the engine " +
            "re-evaluates them across OCC conflict retries, so two " +
            "evaluations must agree")
      }
      val prev = curState(table)
      val keys = src.select(keyCol)
      // stats pre-prune: the hit-file semi-join reads only files whose
      // key range can intersect the batch domain
      val cand = domain.fold(prev.files)(
        Catalog.inKeyDomain(prev.files, schema, idCol, keyCol, _))
      val (nUpd, inserted) =
        if (cand.isEmpty) (0L, src)
        else {
          val hitRel = hitPaths(readFiles(table, cand, schema, idCol), cand,
            keys, keyCol)
          val (hit, carried) = prev.files.partition(f => hitRel(f.path))
          if (hit.nonEmpty && mergeOnRead) {
            // merge-on-read: kill the matched target rows by
            // deletion vector and write ONE patch file of source images
            // under the preserved target ids — bytes written follow the
            // BATCH, not the touched files (a 100-key CDC tick against
            // 128 MB files writes kilobytes, not gigabytes)
            val matchedRows = readFiles(table, hit, schema, idCol)
              .join(broadcast(keys), Seq(keyCol), "left_semi")
            val deadByFile = collectDeadByFile(matchedRows, idCol, hit)
            if (deadByFile.nonEmpty) {
              // partial SET keeps every un-SET column from the TARGET
              // row, so the patch image projects the full matched row
              // joined with the source and picks per column
              val images = matchedRows.alias("t")
                .join(broadcast(src).alias("s"),
                  col(s"t.$keyCol") === col(s"s.$keyCol"))
                .select(schema.fieldNames.toIndexedSeq.map(f =>
                  imageOf(f).as(f)): _*)
              // mixed post-images are validated directly (see the
              // matchedCols scaladoc); the star merge keeps the
              // cheaper source-only validation above
              val patch = stageFiles(table, images, idCol,
                effStatsCols(table), if (partialSet) checksOf(table) else Nil)
              staged :+= Staged(table, prev.copy(files =
                carried ++ dvMarked(hit, deadByFile) ++ patch))
            }
          } else if (hit.nonEmpty) {
            val marked = src.withColumn("__m", lit(true))
            val hitFrame = readFiles(table, hit, schema, idCol)
            // explicit join condition (not USING): target-reading SET
            // expressions address BOTH sides by alias, including the key
            val applied = hitFrame.alias("t")
              .join(broadcast(marked).alias("s"),
                col(s"t.$keyCol") === col(s"s.$keyCol"), "left")
              .select(schema.fieldNames.toIndexedSeq.map { f =>
                if (f == idCol || f == keyCol) col(s"t.$f").as(f)
                else when(col("__m"), imageOf(f))
                  .otherwise(col(s"t.$f")).as(f)
              }: _*)
            // partial SET: validate the MIXED matched post-images (the
            // inner join restricts to matched rows only)
            if (partialSet)
              enforceChecks(table, hitFrame.alias("t")
                .join(broadcast(src).alias("s"),
                  col(s"t.$keyCol") === col(s"s.$keyCol"))
                .select(schema.fieldNames.toIndexedSeq.map(f =>
                  imageOf(f).as(f)): _*))
            val rewritten = stageFiles(table, applied, idCol, effStatsCols(table))
            staged :+= Staged(table,
              prev.copy(files = carried ++ rewritten))
          }
          // a matched key's file is by construction a hit file, so the
          // matched count and the inserted anti-join read ONLY the hit
          // files — never the carried remainder of a large table
          val hitRows = readFiles(table, hit, schema, idCol)
          val matched = hitRows
            .join(broadcast(keys), Seq(keyCol), "left_semi").count()
          (matched,
            src.join(hitRows.select(keyCol), Seq(keyCol), "left_anti"))
        }
      // inserts are the TABLE-shaped source rows; the mapped extras
      // (evaluated SET expressions) are matched-branch-only
      val insertRows = inserted.select(srcCols.map(col): _*)
      val nIns = insertRows.count()
      // order by ALL source columns, not just the key: several NULL-key
      // rows are legal in one merge (they all insert), and the key alone
      // would leave their id assignment partition-order-dependent
      if (nIns > 0)
        append(table, insertRows,
          orderBy = keyCol +: srcCols.filterNot(_ == keyCol))
      (nUpd, nIns)
    }

    /** SCD Type-2 MERGE (dimension-history upsert, Kimball type 2):
      * apply one batch of (natural key, tracked attributes) observations
      * effective AT `at` to a validity-interval dimension. Per batch row:
      *
      *   - no current row with the key → INSERT a new current version
      *     `[at, null)`;
      *   - a current row exists with every tracked attribute equal
      *     (null-safe) → NO-OP, so re-applying a batch is idempotent;
      *   - a current row exists and differs → CLOSE it (`effective_to =
      *     at`, `is_current = false`) and INSERT the new version.
      *
      * Historic (non-current) rows are never touched; the closed
      * episode's `effective_to` equals the new episode's
      * `effective_from`, so intervals tile. Returns (closed, inserted).
      *
      * Scale shape is [[merge]]'s: the batch is the broadcast-small side
      * (a dimension CDC tick), and the close-out rewrites ONLY the files
      * holding a changed key's CURRENT row: stats pruning
      * ([[Catalog.inKeyDomain]]), then content pruning by a broadcast
      * semi-join on the changed keys ([[hitPaths]]).
      * Pairing the dimension with a key-clustered layout keeps the
      * touched file set small; a [[compact]] pass additionally migrates
      * settled history out of the hot files over time. The dimension's
      * full attribute set must equal key + tracked (checked) — an SCD2
      * row is completely determined by its batch observation. */
    def scd2Merge(table: String, source: DataFrame, keyCol: String,
        tracked: Seq[String], at: java.sql.Timestamp): (Long, Long) = {
      import graft.core.Eager.EagerCheckpoint
      ensureLease()
      val (schema, idCol) = schemaIdOf(table)
      val metaCols = Seq("effective_from", "effective_to", "is_current")
      require(metaCols.forall(schema.fieldNames.contains),
        s"'$table' is not an SCD2 dimension (needs ${metaCols.mkString(", ")})")
      require(keyCol != idCol && !metaCols.contains(keyCol),
        s"SCD2 key must be a natural key column, got '$keyCol'")
      val attrs = schema.fieldNames
        .filterNot(f => f == idCol || metaCols.contains(f))
      require(attrs.toSet == (keyCol +: tracked).toSet,
        s"SCD2 batch must determine the whole row: '$table' attributes " +
          s"${attrs.mkString(", ")} vs key+tracked " +
          s"${(keyCol +: tracked).mkString(", ")}")
      // materialized once for the same reason as merge: dup/NULL checks,
      // change detection, and the OCC key domain must see ONE batch
      val src = source.select((keyCol +: tracked).map(col): _*)
        .eagerCheckpoint()
      val domain = markMergeDomain(table, src, keyCol)
      require(src.filter(col(keyCol).isNull).isEmpty,
        "SCD2 batch has NULL natural keys")
      require(src.groupBy(keyCol).count().filter(col("count") > 1).isEmpty,
        s"ambiguous SCD2 batch: duplicate '$keyCol' values")
      val prev = curState(table)
      // stats pre-prune: a batch key's current row can only live in a
      // file whose key range covers it, so both the change detection
      // and the new-key anti-join read the touched range, never the
      // whole dimension
      val cand = domain.fold(prev.files)(
        Catalog.inKeyDomain(prev.files, schema, idCol, keyCol, _))
      val cur = readFiles(table, cand, schema, idCol)
        .filter(col("is_current"))
      // keys whose current tracked values differ from the batch's
      // (null-safe difference on any tracked column)
      val differs = tracked.map(a => !(col(s"t.$a") <=> col(s"s.$a")))
        .reduce(_ || _)
      val changedKeys = cur.alias("t")
        .join(broadcast(src.alias("s")),
          col(s"t.$keyCol") === col(s"s.$keyCol"))
        .filter(differs)
        .select(col(s"t.$keyCol").as(keyCol))
        .eagerCheckpoint()
      val newKeys = src.select(keyCol)
        .join(cur.select(keyCol), Seq(keyCol), "left_anti")
        .eagerCheckpoint()
      val nClosed = changedKeys.count()
      if (nClosed > 0) {
        val hitRel = hitPaths(cur, cand, changedKeys, keyCol)
        val (hit, carried) = prev.files.partition(f => hitRel(f.path))
        val marked = changedKeys.withColumn("__m", lit(true))
        val closed = readFiles(table, hit, schema, idCol)
          .join(broadcast(marked), Seq(keyCol), "left")
          .withColumn("__close",
            coalesce(col("__m"), lit(false)) && col("is_current"))
          .withColumn("effective_to",
            when(col("__close"), lit(at)).otherwise(col("effective_to")))
          .withColumn("is_current",
            when(col("__close"), lit(false)).otherwise(col("is_current")))
          .select(schema.fieldNames.toIndexedSeq.map(col): _*)
        val rewritten = stageFiles(table, closed, idCol, effStatsCols(table))
        staged :+= Staged(table, prev.copy(files = carried ++ rewritten))
      }
      // open a new current version for brand-new AND changed keys
      val openKeys = newKeys.unionByName(changedKeys)
      val inserts = src
        .join(broadcast(openKeys), Seq(keyCol), "left_semi")
        .withColumn("effective_from", lit(at))
        .withColumn("effective_to", lit(null).cast("timestamp"))
        .withColumn("is_current", lit(true))
        .select(schema.fieldNames.filterNot(_ == idCol).toIndexedSeq
          .map(col): _*)
      val nIns = inserts.count()
      if (nIns > 0) append(table, inserts, orderBy = Seq(keyCol))
      (nClosed, nIns)
    }

    /** Dynamic range overwrite (Delta `replaceWhere` / dynamic-partition-
      * overwrite analogue, the batch partition-reload shape): atomically
      * replace exactly the rows whose stats column `column` falls inside
      * the inclusive normalized range [lo, hi] with `rows`, in one
      * commit. Delta's contract is enforced: every incoming row must
      * land inside the range (a reload cannot smuggle rows into other
      * partitions). File pruning is the stats test [[readRange]] uses
      * ([[Catalog.inKeyDomain]]) — a file whose [min,max] window misses
      * the range survives by reference (never read, never rewritten), so
      * reloading one day of a year-partitioned fact costs one day's
      * files + the new data, not the table. Rows with NULL in `column`
      * are outside every range: kept on the target side, rejected on
      * the source side. Returns (rows deleted, last assigned id). */
    def replaceWhere(table: String, column: String, lo: Long, hi: Long,
        rows: DataFrame): (Long, Long) = {
      ensureLease()
      val (schema, idCol) = schemaIdOf(table)
      val prev = curState(table)
      // materialize the source ONCE before validating: a
      // non-deterministic source (sample / shuffle-dependent) must not
      // pass the range check on one evaluation and append different
      // rows on the next — validation and append see the same bytes
      val src = {
        import graft.core.Eager.EagerCheckpoint
        rows.eagerCheckpoint()
      }
      val rc = statLong(src, column).getOrElse(
        throw new IllegalArgumentException(
          s"replaceWhere needs an integral/timestamp column, got " +
            s"'$column' of ${src.schema(column).dataType}"))
      val bad = src.filter(rc.isNull || rc < lo || rc > hi).count()
      require(bad == 0,
        s"replaceWhere: $bad source row(s) outside [$lo, $hi] on '$column'")
      val hit = Catalog.inKeyDomain(prev.files, schema, idCol, column,
        Catalog.LongDomain(lo, hi))
      val carried = prev.files.filterNot(hit.toSet)
      val nDeleted = if (hit.isEmpty) 0L else {
        val cur = readFiles(table, hit, schema, idCol)
        val c = statLong(cur, column).get
        val inRange = c.isNotNull && c >= lo && c <= hi
        val counts = cur.agg(count(lit(1)).as("n"),
          count(when(inRange, 1)).as("nDel")).collect()(0)
        val newFiles =
          if (counts.getLong(0) == counts.getLong(1)) Vector.empty
          else stageFiles(table, cur.filter(!inRange), idCol,
            effStatsCols(table))
        staged :+= Staged(table, prev.copy(files = carried ++ newFiles))
        counts.getLong(1)
      }
      val lastId = append(table, src)
      (nDeleted, lastId)
    }

    /** Zero-copy SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`
      * analogue): stage `dst` as an exact copy of `src`'s current in-tx
      * state — same file references (nothing is read, copied, or
      * rewritten), same maxId high-water mark, same checks — with the
      * effective schema and id column pinned INTO the manifest so the
      * clone is fully readable and writable without a [[Schemas]]
      * registration. COW makes divergence free: a write to either table
      * stages new files under its own directory and only re-points its
      * own manifest entry; the shared files stay shared until one side
      * stops referencing them. [[Catalog.vacuum]] liveness is root-wide,
      * so vacuuming the source never reclaims files a clone still
      * references. */
    /** CREATE TABLE: a DYNAMIC table whose whole identity —
      * schema, surrogate-id column, CHECK set — lives in the manifest,
      * exactly like a shallow clone's (the [[Schemas.registry]] is the
      * fixture bootstrap, not a closed world). `schema` must CONTAIN
      * the id column as a non-nullable BIGINT; the engine assigns its
      * values (dense, monotone) on every write path. The new table is
      * immediately writable through both doors (Scala API and SQL —
      * INSERT/UPDATE/DELETE/MERGE route the same). DDL is
      * whole-table-dependent: any concurrent commit touching the same
      * name conflicts. */
    def createTable(table: String,
        schema: org.apache.spark.sql.types.StructType,
        idCol: String,
        /** Columns to collect per-file min/max stats for (the
          * manifest-carried analogue of [[Schemas.statsColumns]]):
          * every subsequent write stages value stats for these in the
          * same job as the id stats, enabling readRange/SQL-door file
          * skipping, `optimize ZORDER`, and provable merge key-domain
          * disjointness under OCC — the skipping a dynamic table needs
          * to not be a full-scan trap at 100 TB. Must exist in the
          * schema, not be the surrogate id, and be of a
          * stats-normalizable type (BIGINT/INT/TIMESTAMP) or STRING
          * (bounded UTF-8 prefix stats). Empty = no value-column
          * skipping (id/row/null stats always collect). */
        statsColumns: Seq[String] = Nil): Unit = {
      ensureLease()
      require(table.nonEmpty && !table.startsWith("_"),
        s"invalid table name '$table'")
      require(!Schemas.registry.contains(table),
        s"'$table' collides with a registry table")
      require(!base.contains(table) &&
        !staged.exists(_.table == table),
        s"table '$table' already exists")
      require(schema.fieldNames.distinct.length == schema.fields.length,
        "duplicate column names")
      val idField = schema.fields.find(_.name == idCol).getOrElse(
        throw new IllegalArgumentException(
          s"id column '$idCol' is not in the schema — the surrogate id " +
            "is part of the table's shape (engine-assigned values)"))
      require(idField.dataType == org.apache.spark.sql.types.LongType &&
        !idField.nullable,
        s"id column '$idCol' must be a non-nullable BIGINT; got " +
          s"${idField.dataType.simpleString}" +
          (if (idField.nullable) " (nullable)" else ""))
      validateStatsColumns(table, schema, idCol, statsColumns)
      staged :+= Staged(table,
        TableState(0L, Vector.empty, Some(schema), Map.empty, Some(idCol),
          statsCols =
            if (statsColumns.isEmpty) None else Some(statsColumns)))
      strictTables += table
    }

    /** Re-designate a table's stats-column list (ALTER-shaped
      * DDL): FUTURE writes collect per-file stats for `cols`;
      * existing files keep whatever stats they were staged with
      * (pruning on a stat-less file conservatively keeps it — never a
      * correctness difference, so no rewrite is forced; run
      * `optimize`/`compact` to rewrite the layout WITH the new stats).
      * Works on any table — including registry fixtures, where the
      * manifest list overrides [[Schemas.statsColumns]] from this
      * commit on. Whole-table-dependent like all DDL. */
    def setStatsColumns(table: String, cols: Seq[String]): Unit = {
      ensureLease()
      val cur = curState(table)
      require(base.contains(table) || Schemas.registry.contains(table) ||
        staged.exists(_.table == table),
        s"no such table '$table'")
      val (schema, idCol) = schemaIdOf(table)
      validateStatsColumns(table, schema, idCol, cols)
      staged :+= Staged(table, cur.copy(statsCols = Some(cols)))
      strictTables += table
    }

    private def validateStatsColumns(table: String,
        schema: org.apache.spark.sql.types.StructType, idCol: String,
        cols: Seq[String]): Unit = {
      require(cols.distinct.length == cols.length,
        s"duplicate stats column in $cols")
      cols.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"stats column '$c' is not in '$table''s schema")
        require(c != idCol,
          s"'$idCol' is the surrogate id — id stats always collect; " +
            "designate VALUE columns only")
        val dt = schema(c).dataType
        val ok = dt == org.apache.spark.sql.types.LongType ||
          dt == org.apache.spark.sql.types.IntegerType ||
          dt == org.apache.spark.sql.types.TimestampType ||
          dt == org.apache.spark.sql.types.StringType
        require(ok,
          s"stats column '$c' has type ${dt.simpleString} — only " +
            "BIGINT/INT/TIMESTAMP (orderable-Long stats) and STRING " +
            "(bounded prefix stats) are stats-normalizable; a " +
            "designated column that could never collect would be a " +
            "silent no-op at 100 TB, so this fails loudly")
      }
    }

    /** DROP TABLE: removes the table's manifest key as a
      * tombstoned commit. History BELOW the drop stays readable (time
      * travel, restore, clones pinned at past versions) until vacuum
      * retention passes; the data files lose their last current
      * reference and retire with that history. Registry tables are not
      * droppable — their identity lives in code and would silently
      * respawn on the next read; drop applies to created/cloned
      * tables. */
    def dropTable(table: String): Unit = {
      ensureLease()
      require(!Schemas.registry.contains(table),
        s"'$table' is a registry table (identity lives in code — it " +
          "would respawn empty on the next read); drop applies to " +
          "created/cloned tables")
      require(base.contains(table) ||
        staged.exists(s => s.table == table && s.state != DroppedSentinel),
        s"no such table '$table'")
      staged :+= Staged(table, DroppedSentinel)
      strictTables += table
    }

    /** RENAME TABLE: ONE
      * commit moves the manifest key — the new name takes the full
      * TableState (files by reference, maxId high-water, schema,
      * checks, stats designation, column-rename map) and the old key
      * is tombstoned, so the rename is atomic, zero-copy, and
      * time-travelable (snapshots below it read the OLD name, the
      * [[dropTable]] history contract). Data files keep their paths
      * (entries are root-relative); dense ids continue. A tail stream
      * on the old name fails LOUDLY at the tombstone (readAppends'
      * dropped guard) — consumers re-point to the new name, the same
      * contract as every other non-append commit. Registry tables are
      * not renameable (identity lives in code; the old name would
      * respawn empty and the new one would shadow a fixture), and the
      * target must not collide with a live or registry name. The
      * effective schema is pinned into the moved state like a clone's,
      * so a renamed REGISTRY-derived table stays fully readable. */
    def renameTable(from: String, to: String): Unit = {
      ensureLease()
      require(from != to, s"rename '$from' onto itself")
      require(!Schemas.registry.contains(from),
        s"'$from' is a registry table (identity lives in code); " +
          "renaming applies to created/cloned tables")
      require(to.nonEmpty && !to.startsWith("_"),
        s"invalid table name '$to'")
      require(!Schemas.registry.contains(to),
        s"'$to' collides with a registry table")
      require(base.contains(from) ||
        staged.exists(s => s.table == from && s.state != DroppedSentinel),
        s"no such table '$from'")
      require(!base.contains(to) &&
        !staged.exists(s => s.table == to && s.state != DroppedSentinel),
        s"table '$to' already exists")
      val st = curState(from)
      staged :+= Staged(to, st.copy(
        schema = Some(Catalog.stripPriorNames(schemaOf(Some(st), from))),
        idCol = Some(idColOf(Some(st), from)),
        // data files stay under the OLD-name directory (zero-copy), so
        // the moved state records it: vacuum on the NEW name sweeps the
        // prior directories too — otherwise dead pre-rename rewrites
        // under `from/` would never be reclaimed (no caller vacuums the
        // tombstoned old name). Chained renames accumulate.
        priorDirs = (st.priorDirs :+ from).distinct.filterNot(_ == to)))
      staged :+= Staged(from, DroppedSentinel)
      strictTables += from
      strictTables += to
    }

    def cloneTable(src: String, dst: String,
        versionAsOf: Option[Long] = None,
        /** Clone the snapshot current AT this wall-clock time (Delta
          * `TIMESTAMP AS OF`): resolved to a version via
          * [[Catalog.versionAsOf]] — same loud guards (no silent
          * nearest-match, vacuumed history refuses). Mutually exclusive
          * with `versionAsOf`. */
        timestampAsOf: Option[Long] = None): Unit = {
      ensureLease()
      require(src != dst, "clone onto itself")
      require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
        "pass versionAsOf OR timestampAsOf, not both")
      require(curState(dst).files.isEmpty && !base.contains(dst) &&
        !Schemas.registry.contains(dst),
        s"clone target '$dst' already exists")
      readTables += src
      // VERSION AS OF: freeze the table as a PAST snapshot recorded it
      // (experiment reproducibility at a pinned version) — same loud
      // guards as restoreTo: the version must exist and its files must
      // not have been vacuumed away
      val st = versionAsOf
        .orElse(timestampAsOf.map(Catalog.this.versionAsOf)) match {
        case None => curState(src)
        case Some(v) =>
          val hist = try manifestAt(v) catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(
                s"cannot clone '$src' at v$v: never committed, or " +
                  "already vacuumed past the retention window", e)
          }
          val s0 = hist.getOrElse(src, throw new IllegalArgumentException(
            s"cannot clone '$src' at v$v: table did not exist then"))
          val gone = s0.files
            .filterNot(f => io.exists(io.resolve(root, f.path)))
          if (gone.nonEmpty)
            throw new IllegalStateException(
              s"cannot clone '$src' at v$v: ${gone.size} referenced " +
                s"file(s) vacuumed (first: ${gone.head.path})")
          s0
      }
      staged :+= Staged(dst, st.copy(
        schema = Some(Catalog.stripPriorNames(schemaOf(Some(st), src))),
        idCol = Some(idColOf(Some(st), src)),
        // pin the source's EFFECTIVE stats list: a clone of
        // a registry fixture keeps collecting the same value stats on
        // its own writes and stays optimize-able — without pinning,
        // the clone's name misses the registry and new files would
        // silently lose skipping
        statsCols = Some(statsColsOf(Some(st), src))))
      strictTables += dst
    }

    /** Stage a full-root state rewind (see [[Catalog.restoreTo]]):
      * every table in `hist` takes its historical state verbatim;
      * tables that exist now but not then are staged empty. */
    private[Catalog] def restoreStates(hist: Manifest): Unit = {
      ensureLease()
      hist.foreach { case (t, st) => staged :+= Staged(t, st) }
      val nowTables = base.keySet ++ staged.map(_.table)
      (nowTables -- hist.keySet).foreach { t =>
        // the table did not exist at the restore point: its DATA rewinds
        // to empty, but its catalog identity (pinned schema / id column —
        // a clone's only schema source — and CHECK constraints, which
        // cloneTable documents as part of identity) must survive or the
        // table becomes unreadable / silently unvalidated (schema+idCol
        // found by StoreFuzzSpec seed 31337)
        val cur = curState(t)
        staged :+= Staged(t,
          TableState(0L, Vector.empty, cur.schema, cur.checks, cur.idCol,
            cur.statsCols, cur.renames, cur.priorDirs))
      }
      strictTables ++= staged.map(_.table)
    }
  }

  /** RESTORE to a committed snapshot (Delta `RESTORE ... VERSION AS OF`
    * analogue, root-wide to match the store's cross-table transaction
    * scope): stages every table's state back to what snapshot `version`
    * recorded, as a NEW commit — the version chain only ever moves
    * forward, so the restore itself is time-travelable and shows up in
    * the changefeed like any other commit. Tables created after
    * `version` are restored to empty (they did not exist then); maxId
    * rewinds with the state, so dense-id assignment resumes from the
    * restored high-water mark. COW makes this pure manifest surgery:
    * no file is read, copied, or rewritten — but every file the old
    * snapshot references must still exist, so a vacuum past the
    * retention window fails the restore loudly (same guard as
    * [[readAt]]). */
  def restoreTo(version: Long): Unit = transaction { tx =>
    val hist = try manifestAt(version) catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"cannot restore '$root' to v$version: never committed, or " +
            "already vacuumed past the retention window", e)
    }
    val gone = hist.values.flatMap(_.files)
      .filterNot(f => io.exists(io.resolve(root, f.path)))
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"cannot restore '$root' to v$version: ${gone.size} referenced " +
          s"file(s) vacuumed (first: ${gone.head.path}); raise the " +
          "vacuum retention window to keep snapshots restorable")
    tx.restoreStates(hist)
  }

  /** Run `body` against a transaction; all staged writes become visible
    * atomically at the end (or not at all if body throws).
    *
    * '''Optimistic concurrency.''' `body` runs
    * against a SNAPSHOT manifest with NO lock held — every Spark job a
    * [[Tx.merge]] runs (duplicate-key precondition, broadcast semi-join
    * over the live table, pruned-file rewrite, insert append) stages
    * uniquely-named files without blocking any other writer. The
    * per-root monitor (in-JVM) + OS file lock (cross-process) are held
    * only for the commit: re-read the current manifest, verify that
    * every table THIS transaction staged is byte-identical to the
    * snapshot it read (no concurrent commit touched it), and swap the
    * staged states in — milliseconds, independent of how much data the
    * transaction wrote. Writers on DISJOINT tables therefore never
    * serialize behind a long merge; writers on the SAME table conflict,
    * and the loser fails loudly with [[Catalog.ConcurrentWriteException]]
    * (its staged files are unreferenced and reclaimed by [[vacuum]]).
    * This is the Delta/Iceberg OCC model; the single-statement
    * conveniences below retry a bounded number of times because
    * re-running their one-op body against the fresh snapshot is always
    * safe, while multi-statement `transaction` callers own their retry
    * (re-running an arbitrary body is theirs to reason about): a body
    * its caller knows to be safe to re-run goes through [[retried]].
    *
    * Conflict detection is FILE-level: a concurrent commit
    * to a staged table aborts only when the two commits fail to
    * commute — overlapping file rewrites, schema/CHECK changes, ops
    * whose staged bytes depend on the whole live table, a commit
    * inside a merge/SCD2's key domain (keyed upserts record
    * their source key range and reconcile against commits whose file
    * stats prove disjointness — many-writer dimension loads), or
    * concurrent id allocation inside a multi-table body. Commuting
    * commits (two loaders reloading two different days, an append
    * beside a pinned update) are RECONCILED under the lock — the
    * transaction's file delta replays onto the current state, with a
    * commit-time id rebase when both sides appended — so neither
    * writer re-runs its body (see [[reconcile]]). Cross-table
    * read-write dependencies stay serializable: tables read via
    * [[Tx.read]] but not written are validated by state equality at
    * commit, so a body that read dimension A and wrote fact B aborts
    * if A changed under it (no write skew).
    *
    * '''Vacuum''': an in-flight transaction's staged files are on disk
    * but unreferenced; they are protected STRUCTURALLY by writer
    * leases — vacuum (any retention, including 0) never deletes files
    * newer than the oldest active lease (see [[vacuum]]). */
  def transaction[A](body: Tx => A): A = {
    val base = readManifest()
    val tx = new Tx(base)
    try {
      val out = body(tx)
      if (tx.staged.nonEmpty) {
        val deferredCheckpoint = withCommitLock {
          val cur = readManifest()
          val stagedFinal = tx.staged.groupBy(_.table)
            .map { case (t, ss) => t -> ss.last.state }
          // read-set serializability: a table this tx READ (and based
          // decisions on) but did not write must be unchanged —
          // otherwise write skew
          (tx.readTables -- stagedFinal.keySet).foreach { t =>
            if (cur.get(t) != base.get(t))
              throw new Catalog.ConcurrentWriteException(
                s"table '$t' of '$root', READ by this transaction, " +
                  "was committed concurrently since its snapshot; " +
                  "re-run against the new state")
          }
          val merged = stagedFinal.map { case (t, st) =>
            if (cur.get(t) == base.get(t)) t -> st
            else t -> reconcile(tx, stagedFinal.size, t,
              base.get(t), cur.get(t), st)
          }
          writeCommit(cur, merged)
        }
        if (tx.superseded.nonEmpty) removeSuperseded(tx.superseded)
        // the O(live-files) checkpoint (every CheckpointInterval-th
        // commit) writes OUTSIDE the lock — no other writer serializes
        // behind it; see writeCommit. The COMMIT (the delta rename) is
        // already durable here, so a checkpoint IO failure must NOT
        // surface as a transaction failure — the caller would retry a
        // transaction that actually landed and double-apply it. The
        // checkpoint is best-effort maintenance: warn and move on
        // (replay stays anchored on the previous checkpoint; the next
        // interval writes a fresh one).
        deferredCheckpoint.foreach { ck =>
          try { ck(); checkpointFailStreak.set(0) }
          catch {
            case e: Exception =>
              // escalate on REPEATED failure: a persistently failing
              // checkpoint (disk quota, permissions) means the replay
              // tail grows without bound and vacuum can never retire
              // anything past the last landed checkpoint — one stderr
              // line per incident plus a streak count, and fsck's
              // log-chain audit reports the on-disk lag independently
              // (survives this JVM)
              val n = checkpointFailStreak.incrementAndGet()
              System.err.println(
                s"[graft.store] ${if (n >= 3) "SEVERE" else "WARN"} " +
                  s"checkpoint write failed for '$root' ($n consecutive; " +
                  "commit already durable; replay anchors on the previous " +
                  "checkpoint" +
                  (if (n >= 3) "; the log tail is growing unboundedly and " +
                    "vacuum cannot retire past the last landed checkpoint — " +
                    "fix the storage fault and run fsck" else "") +
                  s"): $e")
          }
        }
      }
      out
    } finally tx.releaseLease()
  }

  /** Remove the provisional files a commit-time id rebase rewrote, and
    * the staging directories they emptied, once the rebased commit is
    * durable: no manifest references them. Best effort — a leftover is
    * an ordinary orphan for vacuum, and a directory still holding a
    * file is not removed. */
  private def removeSuperseded(paths: Vector[String]): Unit = {
    val dirs = paths.map(p => p.take(p.lastIndexOf('/')))
      .filter(_.split('/').last.startsWith("snap-")).distinct
    (paths ++ dirs).foreach(p =>
      try io.deleteIfExists(io.resolve(root, p))
      catch { case NonFatal(_) => })
  }

  /** File-level OCC reconciliation (Delta-style commit rebase): called
    * under the commit locks when table `t` changed between this
    * transaction's snapshot (`baseOpt`) and the current manifest
    * (`curOpt`). The transaction's delta — files it removed, files it
    * added, ids it allocated — is replayed onto the CURRENT state iff
    * the two commits are commutative:
    *
    *  - neither side touched the table's schema or CHECK set (a check
    *    added concurrently can never be bypassed by rows validated
    *    against the old set);
    *  - the file sets they rewrote/deleted are DISJOINT (two loaders
    *    reloading two different days via [[Tx.replaceWhere]], an append
    *    landing beside a pinned update). Overlap = a true write-write
    *    conflict, [[Catalog.ConcurrentWriteException]];
    *  - the op's read set was contained in the files it removed, OR —
    *    for merge/SCD2, whose read set is the table slice holding the
    *    source batch's key domain — the concurrent delta's stats ranges
    *    prove it stayed outside that domain ([[Tx.mergeKeyRanges]]).
    *    [[Tx.strictTables]] marks the ops whose staged bytes depend on
    *    the WHOLE live table (DDL/check, and merges whose key is not a
    *    stats column); they never reconcile.
    *
    * If both sides allocated surrogate ids, this transaction's new rows
    * are ID-REBASED: its added files are rewritten with ids shifted
    * past the concurrent high-water mark (only ids above the snapshot
    * maxId shift — rows carried through a COW rewrite keep theirs), so
    * ids stay dense and unique with NO body re-run. The rebase touches
    * only this transaction's own new data — milliseconds-to-seconds for
    * a batch, never proportional to the table. It is refused for
    * multi-table transactions ([[Catalog.ConcurrentWriteException]]):
    * the engine cannot see id values the body may have copied into
    * OTHER tables' staged rows (foreign keys), and shifting one side
    * would corrupt the other. Ids returned during such a rebased body
    * are provisional; the single-statement conveniences return the
    * FINAL (shifted) ids. */
  private def reconcile(tx: Tx, nStagedTables: Int, table: String,
      baseOpt: Option[TableState], curOpt: Option[TableState],
      st: TableState): TableState = {
    def conflict(why: String): Nothing =
      throw new Catalog.ConcurrentWriteException(
        s"table '$table' of '$root' was committed concurrently since " +
          s"this transaction's snapshot ($why); re-run against the new " +
          "state")
    if (tx.strictTables.contains(table))
      conflict("whole-table-dependent op: DDL/restore, or a " +
        "merge/SCD2 whose key domain is not provable from stats")
    // a concurrent DROP removed the manifest key: replaying this tx's
    // delta onto "empty" would silently RESURRECT the table
    if (baseOpt.isDefined && curOpt.isEmpty)
      conflict("the table was DROPPED concurrently")
    val b = baseOpt.getOrElse(TableState(0L, Vector.empty))
    val c = curOpt.getOrElse(TableState(0L, Vector.empty))
    // addCheck vs concurrent data commit: the constraint was
    // validated against THIS tx's snapshot; a concurrent commit only
    // invalidates that proof through the files it ADDED — re-validate
    // exactly those at replay time. A violating concurrent append makes
    // the addCheck fail (same contract as its own existing-rows check);
    // a conforming one lands alongside the constraint.
    val newChecks = tx.addedChecks.getOrElse(table, Map.empty)
    if (newChecks.nonEmpty) {
      if (st.files != b.files || st.maxId != b.maxId ||
          st.schema != b.schema || st.statsCols != b.statsCols ||
          st.renames != b.renames ||
          st.checks != b.checks ++ newChecks)
        conflict("check DDL mixed with other staged changes on this " +
          "table cannot reconcile")
      if (c.schema != b.schema || c.statsCols != b.statsCols ||
          c.renames != b.renames)
        conflict("schema, stats designation, or renames changed " +
          "concurrently under an ADD CONSTRAINT")
      if (newChecks.keySet.exists(c.checks.keySet))
        conflict("a check of the same name was added concurrently")
      val bPaths = b.files.toSet
      val curAdded = c.files.filterNot(bPaths.contains)
        // a DV-only entry change re-adds the path; its PATCH content is
        // covered by the file-level diff (new patch files appear here)
        .filterNot(f => b.files.exists(_.path == f.path))
      if (curAdded.nonEmpty) {
        val rows = readFiles(table, curAdded,
          schemaOf(Some(c), table), idColOf(Some(c), table))
        newChecks.toSeq.sortBy(_._1).foreach { case (n, e) =>
          val bad = rows.filter(!coalesce(expr(e), lit(true))).count()
          if (bad > 0L)
            conflict(s"$bad concurrently-written rows violate the new " +
              s"check '$n' ($e)")
        }
      }
      return c.copy(checks = c.checks ++ newChecks)
    }
    if (st.schema != b.schema || st.checks != b.checks ||
        c.schema != b.schema || c.checks != b.checks ||
        st.statsCols != b.statsCols || c.statsCols != b.statsCols ||
        st.renames != b.renames || c.renames != b.renames ||
        st.priorDirs != b.priorDirs || c.priorDirs != b.priorDirs)
      conflict("schema, CHECK set, stats designation, or renames changed")
    if (c.maxId < b.maxId)
      conflict("id high-water rewound (concurrent restore)")
    val stFiles = st.files.toSet
    val curFiles = c.files.toSet
    val bFiles = b.files.toSet
    val removed = b.files.filterNot(stFiles.contains).toSet
    val added = st.files.filterNot(bFiles.contains)
    val curRemoved = b.files.filterNot(curFiles.contains).toSet
    if (removed.exists(curRemoved.contains))
      conflict("overlapping file rewrites")
    // keyed-upsert domain check: a merge/SCD2 read exactly the table
    // slice holding its source keys, so it reconciles iff no file of the
    // concurrent commit's delta can hold a key of that domain — a file
    // the stats cannot rule out (one without key stats, e.g. an
    // all-NULL-key insert or a pre-stats file) is a conflict
    tx.mergeKeyRanges.get(table).foreach { case (keyCol, dom) =>
      val delta = curRemoved.toVector ++ c.files.filterNot(bFiles.contains)
      Catalog.inKeyDomain(delta, schemaOf(Some(c), table),
        idColOf(Some(c), table), keyCol, dom).headOption.foreach(f =>
        conflict(s"concurrent commit touched this merge's '$keyCol' " +
          s"domain $dom: the stats of file ${f.path} cannot rule it out"))
    }
    val alloc = st.maxId - b.maxId
    val curAlloc = c.maxId - b.maxId
    val (finalAdded, finalMaxId) =
      if (alloc > 0 && curAlloc > 0) {
        if (nStagedTables > 1)
          conflict("concurrent id allocation in a multi-table " +
            "transaction (staged rows in other tables may reference " +
            "the provisional ids)")
        val idCol = idColOf(Some(c), table)
        val shifted = readFiles(table, added, schemaOf(Some(st), table),
          idCol)
          .withColumn(idCol, when(col(idCol) > b.maxId,
            col(idCol) + lit(curAlloc)).otherwise(col(idCol)))
        val rebased = stageFiles(table, shifted, idCol,
          statsColsOf(Some(c), table))
        // what this transaction wrote itself: data files and sidecars no
        // committed snapshot references
        val committed = (b.files ++ c.files)
          .flatMap(f => f.path +: f.dv.map(_._1).toSeq).toSet
        tx.superseded ++= added.flatMap(f => f.path +: f.dv.map(_._1).toSeq)
          .filterNot(committed)
        tx.idShifts += table -> curAlloc
        (rebased, c.maxId + alloc)
      } else (added, math.max(c.maxId, st.maxId))
    TableState(finalMaxId,
      c.files.filterNot(removed.contains) ++ finalAdded,
      c.schema, c.checks, c.idCol, c.statsCols, c.renames, c.priorDirs)
  }

  /** [[transaction]] with a bounded retry on
    * [[Catalog.ConcurrentWriteException]] (8 attempts), for a body that
    * is SAFE TO RE-RUN: it derives everything it stages from the
    * snapshot its `Tx` reads and from its own arguments, and has no
    * effect outside the transaction. Each attempt re-runs the body
    * against the fresh snapshot; a failed attempt's files are
    * unreferenced (vacuum reclaims them). The one-op conveniences below
    * use it; so does a multi-statement body such as a payment, whose
    * conflict on concurrent id allocation needs a re-run. A body that
    * returns ids it staged should return them as a thunk adding
    * `tx.shiftOf(table)` (see [[append]]). */
  def retried[A](body: Tx => A): A = {
    val maxAttempts = 8
    var attempt = 1
    while (attempt < maxAttempts) {
      try return transaction(body)
      catch { case _: Catalog.ConcurrentWriteException => attempt += 1 }
    }
    transaction(body)
  }

  /** [[transaction]] whose pinned updates and deletes take the scan
    * route whatever the hit set's size (test hook for driver-vs-scan
    * parity, as [[scanRead]] is for reads). */
  private[store] def scanPinned[A](body: Tx => A): A =
    transaction { tx => tx.scanPinned = true; body(tx) }

  /** Single-statement conveniences (conflict-retried, see [[retried]]).
    * The id-returning ones ([[append]], [[replaceWhere]]) return the
    * FINAL ids: the body's provisional value plus any commit-time
    * rebase shift (a thunk evaluated after the commit landed). */
  def append(table: String, rows: DataFrame,
      orderBy: Seq[String] = Nil): Long =
    retried { tx =>
      val raw = tx.append(table, rows, orderBy)
      () => raw + tx.shiftOf(table)
    }()

  def update(table: String, predicate: Column,
      assignments: Map[String, Column]): Unit =
    retried(_.update(table, predicate, assignments))

  def merge(table: String, source: DataFrame, keyCol: String,
      matchedCols: Option[Map[String, String]] = None,
      matchedExprs: Map[String, String] = Map.empty): (Long, Long) =
    retried(_.merge(table, source, keyCol, matchedCols, matchedExprs))

  def addCheck(table: String, name: String, constraint: String): Unit =
    retried(_.addCheck(table, name, constraint))

  def renameColumn(table: String, from: String, to: String): Unit =
    retried(_.renameColumn(table, from, to))

  def renameTable(from: String, to: String): Unit =
    retried(_.renameTable(from, to))

    def addColumn(table: String,
      field: org.apache.spark.sql.types.StructField): Unit =
    retried(_.addColumn(table, field))

  def dropColumn(table: String, name: String): Unit =
    retried(_.dropColumn(table, name))

  def scd2Merge(table: String, source: DataFrame, keyCol: String,
      tracked: Seq[String], at: java.sql.Timestamp): (Long, Long) =
    retried(_.scd2Merge(table, source, keyCol, tracked, at))

  def delete(table: String, predicate: Column): Long =
    retried(_.delete(table, predicate))

  def compact(table: String, numFiles: Int = 1): Unit =
    retried(_.compact(table, numFiles))

  def compactSmall(table: String, smallRows: Long, targetRows: Long,
      minSmallFiles: Int = 2): Int =
    retried(_.compactSmall(table, smallRows, targetRows, minSmallFiles))

  def optimize(table: String, clusterBy: Seq[String],
      numFiles: Int = 32): Unit =
    retried(_.optimize(table, clusterBy, numFiles))

  def cloneTable(src: String, dst: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): Unit =
    retried(_.cloneTable(src, dst, versionAsOf, timestampAsOf))

  def createTable(table: String,
      schema: org.apache.spark.sql.types.StructType, idCol: String,
      statsColumns: Seq[String] = Nil): Unit =
    retried(_.createTable(table, schema, idCol, statsColumns))

  def setStatsColumns(table: String, cols: Seq[String]): Unit =
    retried(_.setStatsColumns(table, cols))

  def dropTable(table: String): Unit =
    retried(_.dropTable(table))

  def replaceWhere(table: String, column: String, lo: Long, hi: Long,
      rows: DataFrame): (Long, Long) =
    retried { tx =>
      val (nDel, lastId) = tx.replaceWhere(table, column, lo, hi, rows)
      () => (nDel, lastId + tx.shiftOf(table))
    }()

  /** Timestamp-column overload (inclusive instant range). */
  def replaceWhere(table: String, column: String,
      lo: java.time.Instant, hi: java.time.Instant,
      rows: DataFrame): (Long, Long) =
    replaceWhere(table, column,
      lo.getEpochSecond * 1000000L + lo.getNano / 1000L,
      hi.getEpochSecond * 1000000L + hi.getNano / 1000L, rows)

  /** Run `f` holding the COMMIT locks (per-root monitor + OS file
    * lock) without committing anything — for maintenance that must be
    * atomic against concurrent commits. A `transaction {}` BODY holds
    * no lock (only its commit phase does), so maintenance code needing mutual exclusion with commits
    * must take the locks explicitly. */
  private def withCommitLock[A](f: => A): A = commitLock.withLock(f)

  /** Delete parquet files under the table's directory that no longer
    * appear in the manifest (left behind by COW updates and compaction).
    * Holds the COMMIT locks for the whole sweep ([[withCommitLock]] —
    * a lock-free OCC transaction body would NOT give that), so no
    * commit can land mid-sweep: in particular [[restoreTo]] cannot
    * re-reference an old file between this sweep's liveness read and
    * its deletion.
    *
    * Reader-snapshot grace (the Delta retention-window analogue): a file
    * is only deleted once it has been dead for at least `retainMillis`
    * (mtime-based — COW never rewrites a file in place, so mtime is the
    * file's creation and an upper bound on when it went dead). A reader
    * holding a pre-vacuum DataFrame keeps resolving for the window;
    * `retainMillis = 0` is the explicit immediate-reclaim escape hatch
    * (same contract as Delta's `RETAIN 0 HOURS`) — with it, callers must
    * ensure no reader still holds a pre-vacuum snapshot. The reference's
    * MySQL tier gets this from InnoDB MVCC purge for free. Returns the
    * number of files deleted.
    *
    * Writer-lease guard: an in-flight transaction's staged files are on
    * disk but referenced by NO manifest yet, so retention alone cannot
    * protect a body that runs longer than the window (exactly the long
    * merge OCC exists for). Every transaction drops a lease file under
    * `_leases/` before staging its first byte ([[Tx.ensureLease]]);
    * vacuum never deletes a file newer than the OLDEST active lease —
    * whatever `retainMillis` says, including 0. A lease older than
    * [[Catalog.WriterLeaseTtlMillis]] is presumed crashed and ignored
    * (and reclaimed), bounding how long an orphan can stall cleanup. */
  def vacuum(table: String,
      retainMillis: Long = Catalog.DefaultVacuumRetainMillis): Int =
    withCommitLock {
    // liveness is ROOT-wide, not per-table: a shallow clone references its
    // source's files from another table entry, so vacuuming the source
    // must see the clone's references too
    val manifest = readManifest()
    val live = manifest.values.flatMap(_.files)
      .map(f => io.canon(io.resolve(root, f.path))).toSet
    // a RENAMED table's files stay under the old-name directory
    // (zero-copy move); sweep those too — vacuum(oldName) is routed to
    // by nobody after the rename, so without this the old path collects
    // unbounded dead rewrites (TableState.priorDirs)
    val sweepDirs = (table +: manifest.get(table)
        .map(_.priorDirs).getOrElse(Nil)).distinct
      .map(io.resolve(root, _)).filter(io.exists(_))
    if (sweepDirs.isEmpty) 0
    else {
      val now = System.currentTimeMillis()
      val leaseDir = io.resolve(root, Catalog.LeaseDirName)
      val leaseFloor = {
        val mtimes = io.list(leaseDir)
          .filter(e => !e.isDir && e.name.endsWith(".lease"))
        val (stale, active) =
          mtimes.partition(_.mtimeMs <= now - Catalog.WriterLeaseTtlMillis)
        stale.foreach(e => io.deleteIfExists(e.path))
        active.map(_.mtimeMs).minOption
      }
      // a file is reclaimable only if dead past the retention window AND
      // older than every in-flight writer's lease (strictly: files a
      // leased writer staged carry mtimes at-or-after its lease)
      val cutoff = leaseFloor
        .map(f => math.min(now - retainMillis, f - 1))
        .getOrElse(now - retainMillis)
      // data files first: only *.parquet, never a live one (markers and
      // .crc sidecars of partially-live groups are kept), never one still
      // inside the retention window
      val dead = sweepDirs.flatMap { tableDir =>
        io.walk(tableDir)
          .filter(e => !e.isDir && e.name.endsWith(".parquet"))
          .filterNot(e => live.contains(e.path))
          .filter(_.mtimeMs <= cutoff)
      }
      dead.foreach(e => io.delete(e.path))
      // then whole file groups with no parquet left (live OR retained —
      // a dir holding a file still in its grace window must survive so
      // the snapshot reader can resolve it): their markers and sidecars
      // go with them (deepest-first so children empty first)
      sweepDirs.foreach { tableDir =>
        val tableDirCanon = io.canon(tableDir)
        val dirs = io.walk(tableDir).filter(_.isDir)
          .sortBy(_.depth)(Ordering[Int].reverse)
        dirs.filter(_.path != tableDirCanon).foreach { d =>
          val sub = io.walk(d.path)
          val hasParquet =
            sub.exists(e => !e.isDir && e.name.endsWith(".parquet"))
          if (!hasParquet)
            sub.sortBy(_.depth)(Ordering[Int].reverse)
              .foreach(v => io.deleteIfExists(v.path))
        }
      }
      // deletion-vector sidecars: same rules as data files — retire a
      // sidecar no current entry references once it ages past the
      // cutoff (a replaced DV, or one whose snapshot fell out of the
      // retention window; the lease floor covers in-flight writers)
      val dvDir = io.resolve(root, DvIO.DirName)
      if (io.exists(dvDir)) {
        val liveDv = manifest.values.flatMap(_.files)
          .flatMap(_.dv.map(d => io.canon(io.resolve(root, d._1)))).toSet
        val deadDv = io.list(dvDir)
          .filter(e => !e.isDir && e.name.endsWith(".dv"))
          .filterNot(e => liveDv.contains(e.path))
          .filter(_.mtimeMs <= cutoff)
        deadDv.foreach(e => io.delete(e.path))
      }
      // retire commit-log files aged past the window: the time-travel
      // horizon IS the vacuum retention window, so snapshot availability
      // and file availability expire together. Replayability constraint:
      // every RETAINED version v must keep a checkpoint C <= v plus the
      // deltas (C, v] — so the floor F is the oldest version still
      // in-window (or current), C is the newest checkpoint at or below
      // F, and everything strictly below C (old deltas AND old
      // checkpoints, plus the delta AT C — the checkpoint covers it)
      // can go. With no checkpoint at or below F yet, nothing is
      // retired (the log only starts shrinking once checkpoints exist —
      // every CheckpointInterval commits).
      val log = commitLog.list()
      if (log.nonEmpty) {
        val cur = log.map(_._1).max
        val retained = log.filter { case (v, _, p) =>
          v == cur || io.mtimeMs(p) > cutoff
        }.map(_._1)
        val floor = retained.minOption.getOrElse(cur)
        log.filter(e => e._2 && e._1 <= floor).map(_._1).maxOption
          .foreach { ckptFloor =>
            // ascending, as [[version]]'s forward probe relies on
            log.sortBy(_._1).foreach { case (v, isCkpt, p) =>
              if (v < ckptFloor || (!isCkpt && v == ckptFloor))
                io.deleteIfExists(p)
            }
          }
      }
      dead.size
    }
  }
}

object Catalog {

  /** In-memory rows laid out as `schema`: the unit the driver route
    * stages and seeds into [[DriverReads]]. */
  private final case class Batch(schema: StructType, rows: Seq[InternalRow]) {
    def frame(spark: SparkSession): DataFrame = GraftSqlShim.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }

  /** A DML statement resolved once against its table's scan attributes
    * `attrs` ([[DriverReads.scanSchema]]): the predicate `cond` (None
    * when it does not analyze to a filter), and `driver`, the statement
    * as Spark's interpreted evaluators run it over one row: the
    * condition that keeps the row, and its new image, one expression per
    * scan column (the assignments applied in order, each seeing the ones
    * before it, as chained `withColumn`s apply them). `driver` is None
    * when the statement cannot be evaluated on the driver: an assignment
    * to the id column or to a column the table lacks, or an expression
    * that is not deterministic or needs the optimizer (a subquery). */
  private final case class ResolvedDml(attrs: Seq[Attribute],
      cond: Option[Expression],
      driver: Option[(Expression, Seq[NamedExpression])])

  /** `e` with every `RuntimeReplaceable` expression replaced by its
    * replacement, as the optimizer's `ReplaceExpressions` replaces them:
    * the form Spark's evaluators run. */
  private[store] def replaced(e: Expression): Expression = e match {
    case r: RuntimeReplaceable => replaced(r.replacement)
    case _ => e.mapChildren(replaced)
  }

  /** Thrown by [[Catalog!.transaction]] when a table this transaction
    * staged was committed concurrently since its snapshot (OCC conflict).
    * The transaction's staged files are unreferenced; re-run the body
    * against the new state (the one-op conveniences do so themselves). */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Field-metadata key carrying a renamed column's PRIOR names (set
    * by `schemaOf`, consumed by the scan's rename coalescing and the
    * stat-key fallbacks; see `TableState.renames`). */
  private[store] val PriorNamesKey = "graft.priorNames"

  /** Prior names of a (possibly renamed) column, newest first. */
  private[store] def priorsOf(
      f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(PriorNamesKey))
      f.metadata.getStringArray(PriorNamesKey).toSeq
    else Nil

  /** Current name -> prior names (newest first) of every renamed
    * column of `schema`: a file carries stats under whatever its column
    * was called when it was staged. */
  private[store] def priorNames(
      schema: org.apache.spark.sql.types.StructType)
      : Map[String, Seq[String]] =
    schema.fields.map(f => f.name -> priorsOf(f)).filter(_._2.nonEmpty)
      .toMap

  private[store] def stripPriorNames(
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (!schema.fields.exists(_.metadata.contains(PriorNamesKey))) schema
    else org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (!f.metadata.contains(PriorNamesKey)) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(PriorNamesKey)
        f.copy(metadata = mb.build())
      }
    })

  /** The parquet read schema of a LOGICAL schema (prior names in field
    * metadata): each field followed by nullable twins under its prior
    * names, newest first; the logical schema itself when nothing was
    * renamed. */
  private[store] def physicalSchema(
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      stripPriorNames(schema).fields.flatMap { f =>
        f +: priorsOf(schema(f.name)).map(p =>
          org.apache.spark.sql.types.StructField(p, f.dataType,
            nullable = true)).toArray
      })

  /** A keyed upsert's provable source-key domain ([[Tx.mergeKeyRanges]]):
    * Long-normalized for integral/timestamp keys, bounded-binary-order
    * for string keys. */
  private[store] sealed trait KeyDomain
  private[store] final case class LongDomain(lo: Long, hi: Long)
    extends KeyDomain
  private[store] final case class StrDomain(lo: String, hi: String)
    extends KeyDomain

  /** Max recorded length of a string file stat: longer values record a
    * truncated BOUND instead (Delta truncates at 32 too). Chosen so a
    * million-file manifest's string stats stay megabytes. */
  private[store] val StringStatMaxLen = 32

  /** Null-probe keep rule of [[graft.store.sql.StatsPrune]]: a file is
    * skippable for
    * an `IS NULL` probe when it recorded ZERO nulls in the column, and
    * for an `IS NOT NULL` probe when every physical row is null. Both
    * claims stay sound under deletion vectors (masking only shrinks the
    * visible subset) and absent stats always keep the file. */
  private[store] def nullProbeKeeps(rows: Long, nullCount: Option[Long],
      isNull: Boolean): Boolean = nullCount match {
    case None => true
    case Some(nc) =>
      if (isNull) nc > 0L
      else !(rows >= 0L && nc == rows)
  }

  /** UTF-8 binary comparison — the order Spark's default (UTF8_BINARY)
    * string comparisons use. Driver-side stat comparisons MUST use this,
    * not String.compareTo: UTF-16 code-unit order disagrees with UTF-8
    * byte order for supplementary characters, and a pruning decision in
    * the wrong order silently drops rows. */
  private[store] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** True when every surrogate in `s` is a well-formed high+low pair —
    * the precondition for the truncation bounds below (a lone surrogate
    * encodes as '?' in UTF-8 and breaks the ordering argument). Strings
    * failing this simply record no stats. */
  private[store] def wellFormedUtf16(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c)) {
        if (i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1)))
          return false
        i += 2
      } else if (Character.isLowSurrogate(c)) return false
      else i += 1
    }
    true
  }

  /** Lower bound of a string value for file stats: the value itself when
    * short, else a char prefix that never splits a surrogate pair — its
    * UTF-8 bytes are then a byte-prefix of the value's, hence <= it in
    * binary order. */
  private[store] def strStatLo(s: String): String =
    if (s.length <= StringStatMaxLen) s
    else {
      var n = StringStatMaxLen
      if (Character.isHighSurrogate(s.charAt(n - 1))) n -= 1
      s.substring(0, n)
    }

  /** Upper bound of a string value for file stats: the value itself when
    * short, else the truncated prefix with its LAST safely-incrementable
    * char bumped by one (skipping chars whose successor lands in the
    * surrogate range or past the BMP) — strictly greater, in UTF-8
    * binary order, than every string sharing the prefix. None when no
    * char can be bumped: the value records no stat (conservative — a
    * stats-less column never prunes). */
  private[store] def strStatHi(s: String): Option[String] =
    if (s.length <= StringStatMaxLen) Some(s)
    else {
      val p = strStatLo(s)
      def bumpable(c: Char): Boolean =
        c < 0xD7FF.toChar || (c >= 0xE000.toChar && c < 0xFFFF.toChar)
      val i = p.lastIndexWhere(bumpable)
      if (i < 0) None
      else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
    }

  /** Both bounds of a file's (exact) string min/max, or None when either
    * is unrepresentable (ill-formed UTF-16, unbumpable max prefix). */
  private[store] def strStatBounds(mn: String, mx: String)
      : Option[(String, String)] =
    if (!wellFormedUtf16(mn) || !wellFormedUtf16(mx)) None
    else strStatHi(mx).map(hi => (strStatLo(mn), hi))

  /** The message of a NULL met in a non-nullable column by an append. */
  private[store] def nullInNonNullable(table: String, column: String)
      : String =
    s"append to '$table' has NULL in non-nullable column '$column'"

  /** A staged file's [[FileEntry]] stats, built one row at a time in
    * constant memory: the surrogate id range, the row count, min/max of
    * every designated long/int/timestamp column (timestamps as epoch
    * micros), the bounded min/max ([[strStatBounds]]) of every
    * designated string column in UTF-8 binary order, and a NULL count
    * for every column of `schema` (zeros recorded: presence in the map
    * is the "column existed at stage time" witness null pruning depends
    * on). A column whose values are all NULL records no value stats.
    * String bounds are copied when taken: write tasks reuse their row
    * objects. */
  private[store] final class FileStats(schema: StructType, idCol: String,
      statsCols: Seq[String]) {
    private val idIdx = schema.fieldIndex(idCol)
    private val designated =
      statsCols.distinct.filter(schema.fieldNames.contains)
    /** (column, ordinal, is it an int) of the long-valued stats. */
    private val longs = designated.flatMap { c =>
      schema(c).dataType match {
        case TimestampType | LongType => Some((c, schema.fieldIndex(c), false))
        case IntegerType => Some((c, schema.fieldIndex(c), true))
        case _ => None
      }
    }.toArray
    private val strs = designated.filter(c => schema(c).dataType == StringType)
      .map(c => (c, schema.fieldIndex(c))).toArray
    private var rows = 0L
    private var idMin = Long.MaxValue
    private var idMax = Long.MinValue
    private val lo = Array.fill(longs.length)(Long.MaxValue)
    private val hi = Array.fill(longs.length)(Long.MinValue)
    private val sLo = new Array[UTF8String](strs.length)
    private val sHi = new Array[UTF8String](strs.length)
    private val nulls = new Array[Long](schema.length)

    def add(r: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < nulls.length) {
        if (r.isNullAt(i)) nulls(i) += 1
        i += 1
      }
      if (!r.isNullAt(idIdx)) {
        val id = r.getLong(idIdx)
        if (id < idMin) idMin = id
        if (id > idMax) idMax = id
      }
      i = 0
      while (i < longs.length) {
        val (_, j, isInt) = longs(i)
        if (!r.isNullAt(j)) {
          val v = if (isInt) r.getInt(j).toLong else r.getLong(j)
          if (v < lo(i)) lo(i) = v
          if (v > hi(i)) hi(i) = v
        }
        i += 1
      }
      i = 0
      while (i < strs.length) {
        val j = strs(i)._2
        if (!r.isNullAt(j)) {
          val v = r.getUTF8String(j)
          if (sLo(i) == null || v.compareTo(sLo(i)) < 0) sLo(i) = v.clone()
          if (sHi(i) == null || v.compareTo(sHi(i)) > 0) sHi(i) = v.clone()
        }
        i += 1
      }
    }

    /** The entry of the file at `path` holding the rows added so far. */
    def entry(path: String): FileEntry = {
      if (idMin > idMax) throw new IllegalStateException(
        s"staged rows carry no '$idCol' surrogate id")
      val cols = longs.indices.filter(i => lo(i) <= hi(i)).map(i =>
        longs(i)._1 -> ((lo(i), hi(i)))).toMap
      val scols = strs.indices.filter(sLo(_) != null).flatMap(i =>
        strStatBounds(sLo(i).toString, sHi(i).toString)
          .map(strs(i)._1 -> _)).toMap
      FileEntry(path, idMin, idMax, cols, scols, None, rows,
        schema.fieldNames.toSeq.zip(nulls).toMap)
    }
  }

  /** The write loop of both staging routes (run by each task of the job
    * route, and once on the driver): streams `rows` — the columns of
    * `schema` followed by `nFlags` boolean CHECK violation flags — into
    * ONE new file `part-<part>-...` in `dir`, writing only the `schema`
    * columns, feeding each written row to a [[FileStats]] and counting
    * each flag. Yields the file's entry (path absolute) with its flag
    * counts, or nothing for an empty input, which writes no file. A
    * write that fails, or a task killed meanwhile, deletes its file. */
  private[store] def writeFile(writer: DriverParquet.Writer, dir: String,
      schema: StructType, idCol: String, statsCols: Seq[String],
      nFlags: Int)(part: Int, rows: Iterator[InternalRow])
      : Iterator[(FileEntry, Array[Long])] =
    if (!rows.hasNext) Iterator.empty
    else {
      val n = schema.length
      val data: InternalRow => InternalRow =
        if (nFlags == 0) identity
        else {
          val d = ProjectingInternalRow(schema, 0 until n)
          r => { d.project(r); d }
        }
      val stats = new FileStats(schema, idCol, statsCols)
      val flags = new Array[Long](nFlags)
      val (path, out) = writer.open(dir, part)
      var open = true
      try {
        rows.foreach { r =>
          val row = data(r)
          out.write(row)
          stats.add(row)
          var k = 0
          while (k < nFlags) {
            if (r.getBoolean(n + k)) flags(k) += 1
            k += 1
          }
        }
        open = false
        out.close()
        if (Option(TaskContext.get()).exists(_.isInterrupted()))
          throw new TaskKilledException("staged file discarded")
      } catch {
        case e: Throwable =>
          if (open) try out.close() catch { case NonFatal(_) => }
          writer.discard(path)
          throw e
      }
      Iterator.single((stats.entry(path), flags))
    }

  /** The files of `files` whose stats can hold a `keyCol` value inside
    * `domain` (inclusive ends): [[StatsPrune.prune]] over the conjunct
    * `keyCol >= lo AND keyCol <= hi`, with the prior names of a renamed
    * key from `schema`. A file without stats for the key is kept, so a
    * dropped file provably holds no key of the domain. Merge and SCD2
    * read only these as candidates, replaceWhere rewrites only these,
    * and OCC counts a concurrent file among these as a conflict. */
  private[store] def inKeyDomain(files: Vector[FileEntry],
      schema: org.apache.spark.sql.types.StructType, idCol: String,
      keyCol: String, domain: KeyDomain): Vector[FileEntry] = {
    val (lo, hi) = domain match {
      case LongDomain(l, h) => (Literal(l), Literal(h))
      case StrDomain(l, h) => (Literal(l), Literal(h))
    }
    val k = AttributeReference(keyCol, lo.dataType)()
    StatsPrune.prune(files, idCol,
      Seq(And(GreaterThanOrEqual(k, lo), LessThanOrEqual(k, hi))),
      priorNames(schema))
  }

  /** Checkpoint cadence of the commit log: every N-th commit also
    * writes a full-manifest checkpoint beside its delta, bounding any
    * snapshot replay at one checkpoint parse + at most N-1 deltas.
    * Delta Lake's default is 10 commits for the same reason: small
    * enough that the replay tail stays trivial, large enough that the
    * O(live-files) checkpoint write amortizes to noise against the
    * per-commit delta cost. */
  val CheckpointInterval: Long = 10L

  /** Default reader-snapshot grace for [[Catalog.vacuum]]: 10 minutes —
    * far longer than any single query over a store this size, far shorter
    * than Delta's 7-day default because the time-travel horizon served
    * here ([[Catalog!.readAt]]) is in-flight-reader + short-audit scale,
    * not a week of `VERSION AS OF`. Raise it per-store when older
    * snapshots must stay readable. */
  val DefaultVacuumRetainMillis: Long = 10L * 60 * 1000

  /** Directory (under the store root) of in-flight writer lease files —
    * see the lease guard on [[Catalog!.vacuum]]. */
  private[store] val LeaseDirName = "_leases"

  /** Age past which a writer lease is presumed to belong to a crashed
    * process and stops shielding files from [[Catalog!.vacuum]]: 6 h —
    * far beyond any sane transaction body, far short of stalling
    * cleanup forever on an orphan. */
  val WriterLeaseTtlMillis: Long = 6L * 3600 * 1000

}

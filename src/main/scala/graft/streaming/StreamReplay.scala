package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** MULTI-batch fixture replay for the stateful streaming gate rows —
  * the contract upgrade over the retired single-batch pin: instead of
  * pinning the whole fixture into micro-batch 0, the fixture table is
  * staged as [[Batches]] time-ordered parquet files and re-read with
  * `maxFilesPerTrigger = 1`, so the state machines are exercised across
  * REAL micro-batch boundaries — watermark advances between batches,
  * event-time timeouts actually fire mid-stream, stream-stream join
  * state is filled and evicted incrementally, and state handoff (not a
  * single in-group sort) has to reproduce the batch oracle.
  *
  * == Why time-ordered splits keep the batch oracles exact ==
  *
  *  - The split is `repartitionByRange(timeCols)`: every event in
  *    batch k+1 sorts at-or-after every event in batch k, so no event
  *    ever arrives behind the watermark (which only advances to batch
  *    k's max ts).
  *  - Pending-pattern timeouts purge only state whose step bound is
  *    already unreachable: a purged state's last event is > bound older
  *    than the watermark, and every later event is at-or-after the
  *    watermark, so it could not have extended the pattern anyway.
  *  - Horizon reaping (EWMA / attribution, 7 d) cannot fire mid-history
  *    for any fixture user: the max per-user inter-event gap is ~4.1 d
  *    at sf0.01 (asserted in StreamingReplaySpec), so a user always has
  *    data in some batch before their timeout crosses the watermark.
  *  - Completed-funnel tombstones (24 h) DO expire mid-replay (the
  *    fixture spans ~30 d), so a user can re-complete and re-emit;
  *    the funnel's sink is therefore keyed MIN-per-user, which realizes
  *    the oracle's first-completion semantics under ANY batching.
  *  - Stream-stream interval joins ([[StreamJoin]]) stay exact because
  *    a click is evicted only once the purchase-side watermark passes
  *    `c_ts + window`, and every purchase in a later batch sorts
  *    at-or-after the watermark frontier — so a purchase can never need
  *    an already-evicted click. The LEFT OUTER null rows flush in the
  *    watermark-advance batches between (and after) the data batches.
  *  - Sessionization closes a session mid-stream only when the
  *    watermark passes `last + gap`; any event that could still have
  *    extended it (`ts <= last + gap < watermark`) sorts before the
  *    watermark frontier and therefore already arrived.
  *  - Commutative/idempotent state (KMV's bounded min-set) and
  *    prefix-moment state (anomaly) are slicing-invariant by
  *    construction; the multi-batch replay makes the gate prove it.
  */
private[graft] object StreamReplay {

  /** Number of staged time-range files = number of data micro-batches. */
  val Batches = 3

  private def stagingDir(s: SparkSession, table: String): Path =
    graft.ext.PreparedTables.warehousePath(s)
      .resolve(s"stream_replay_$table")

  private def stage(table: String, timeCols: Seq[String])(
      s: SparkSession, d: String): Unit = {
    val dir = stagingDir(s, table)
    s.read.parquet(s"$d/$table.parquet")
      .repartitionByRange(Batches, timeCols.map(col): _*)
      .write.mode("overwrite").parquet(dir.toString)
    // keep only the part files; pin ascending mtimes so the file source
    // (oldest-first) replays the ranges in time order one per trigger
    val all = {
      val st = Files.list(dir)
      try st.iterator().asScala.toSeq finally st.close()
    }
    all.filterNot(_.getFileName.toString.endsWith(".parquet"))
      .foreach(Files.deleteIfExists(_))
    val parts = all.filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    val t0 = System.currentTimeMillis() - 60000L * (parts.size + 1)
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + 60000L * i))
    }
  }

  private val stagers = TrieMap.empty[(String, Seq[String]),
    graft.ext.PreparedTables]

  /** Streaming read of a staged [[Batches]]-way time-range split of
    * `table`, one file per micro-batch. `timeCols` define the replay
    * order (a total order: lead with event time, break ties on a unique
    * id). `schema` comes from the caller's batch read of the original
    * table (the staged copy is written from the same read, so types
    * match). */
  def sourceFor(s: SparkSession, d: String, table: String,
      timeCols: Seq[String], schema: StructType): DataFrame = {
    val stager = stagers.getOrElseUpdate((table, timeCols),
      new graft.ext.PreparedTables(Seq(s"$table.parquet"),
        Seq(s"stream_replay_$table"), stage(table, timeCols)))
    stager.ensurePrepared(s, d)
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stagingDir(s, table).toString)
  }

  /** The events-table replay every event-keyed stream row shares. */
  def source(s: SparkSession, d: String, schema: StructType): DataFrame =
    sourceFor(s, d, "events", Seq("ts", "event_id"), schema)

  /** Loud contract: the finished replay must have run >= [[Batches]]
    * data-carrying micro-batches (plus any no-data watermark batches).
    * A data batch is one whose source OFFSET advanced — not one with
    * `numInputRows > 0`, because rows-read is an execution metric: a
    * `foreachBatch` body that rejects a replayed batch without running
    * an action on it (the [[StreamIngest]] ledger) legitimately reads
    * zero rows from three real batches. */
  def requireMultiBatch(q: StreamingQuery): Unit = {
    val n = q.recentProgress.count(p => p.numInputRows > 0 ||
      p.sources.exists(s =>
        s.endOffset != null && s.endOffset != s.startOffset))
    require(n >= Batches,
      s"multi-batch replay contract: expected >= $Batches data " +
        s"micro-batches, saw $n")
  }
}

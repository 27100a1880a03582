package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Q

/** [EXT] stateful streaming sessionization:
  * `KeyValueGroupedDataset.flatMapGroupsWithState` with event-time timeout —
  * the Structured Streaming pattern for custom per-key state (SURVEY §2.9
  * marks all streaming as engine extensions).
  *
  * A session closes when the event-time watermark passes its last event +
  * gap; closed sessions are emitted in Append mode. Sessions still open at
  * end-of-input are held in state (correct streaming semantics — they may
  * yet grow), so the oracle compares exactly the closed set: every
  * non-final session per user plus final sessions whose timeout precedes
  * the final watermark. The fixture replays in [[StreamReplay.Batches]]
  * time-ordered micro-batches, so mid-stream timeouts really fire.
  */
object StatefulSessions {

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double) {
    def tsUs: Long = {
      val i = ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
  }
  case class Session(user_id: Long, n_events: Long, t_start_us: Long,
      t_end_us: Long, total_cents: Long)
  case class State(n: Long, startUs: Long, lastUs: Long,
      cents: Long)

  private val GapUs = 1800L * 1000000L

  /** Ties round AWAY from zero (C `round`), matching DuckDB's ROUND —
    * Scala's `math.round` is floor(x+0.5) (toward +inf on negative ties),
    * which would diverge from the oracle on values like -0.125. */
  private def roundHalfAway(x: Double): Long =
    math.copySign(math.floor(math.abs(x) + 0.5), x).toLong

  private def step(userId: Long, evs: Iterator[Ev],
      state: GroupState[State]): Iterator[Session] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      return Iterator(Session(userId, s.n, s.startUs, s.lastUs, s.cents))
    }
    var closed = List.empty[Session]
    var cur = state.getOption
    evs.toSeq.sortBy(_.tsUs).foreach { e =>
      cur match {
        case Some(s) if e.tsUs - s.lastUs <= GapUs =>
          cur = Some(State(s.n + 1, s.startUs, e.tsUs,
            s.cents + roundHalfAway(e.value * 100)))
        case Some(s) =>
          closed ::= Session(userId, s.n, s.startUs, s.lastUs, s.cents)
          cur = Some(State(1, e.tsUs, e.tsUs, roundHalfAway(e.value * 100)))
        case None =>
          cur = Some(State(1, e.tsUs, e.tsUs, roundHalfAway(e.value * 100)))
      }
    }
    cur.foreach { s =>
      state.update(s)
      // close when watermark passes last event + gap
      state.setTimeoutTimestamp((s.lastUs + GapUs) / 1000L + 1L)
    }
    closed.reverseIterator
  }

  /** Run the stateful streaming query to completion over the fixture file
    * and return the emitted (closed) sessions. */
  def run(spark: SparkSession, dir: String): DataFrame =
    runCounting(spark, dir)._1

  /** [[run]] plus the query's FINAL keyed-state row count
    * (`stateOperators.numRowsTotal` after the last batch — including the
    * no-data timeout batches): the sessions still held open. The
    * StreamingSessionsSpec pins this against
    * [[StreamStateCensus]].`open_state_keys`, tying the census row to
    * the real state store ( -1 when the engine reported no progress). */
  private[graft] def runCounting(spark: SparkSession, dir: String)
      : (DataFrame, Long) =
      graft.core.Sessions.withShufflePartitions(spark, 8) {
    import spark.implicits._
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val name = "sessions_" + UUID.randomUUID().toString.replace("-", "")
    // multi-batch replay (StreamReplay): a mid-stream timeout closes a
    // session only when the watermark passes last+gap, and any event that
    // could still have extended it (ts <= last+gap < watermark) sorts
    // before the watermark frontier, so it already arrived — sessions
    // closed across real batch boundaries equal the batch oracle's set
    val stream = StreamReplay.source(spark, dir, batch.schema)
    val withTs =
      if (batch.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else stream
    implicit val evEnc = Encoders.product[Ev]
    implicit val stEnc = Encoders.product[State]
    implicit val outEnc = Encoders.product[Session]
    // keep the watermarked `ts` attribute itself in the typed row — a
    // lambda projection would detach the event-time watermark tag
    val sessions = withTs
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    val stateRows = try {
      q.processAllAvailable()
      StreamReplay.requireMultiBatch(q)
      // the FINAL progress event can be a no-data batch without a state
      // operator entry (or reporting can lag processAllAvailable), so
      // scan recentProgress newest-first for the last entry that
      // actually carries one instead of trusting lastProgress alone
      (Option(q.lastProgress).toSeq ++ q.recentProgress.reverse)
        .flatMap(p => Option(p).toSeq.flatMap(_.stateOperators.headOption))
        .headOption.map(_.numRowsTotal).getOrElse(-1L)
    } finally q.stop()
    (spark.table(name)
      .select(col("user_id"), col("n_events"),
        timestamp_micros(col("t_start_us")).as("t_start"),
        timestamp_micros(col("t_end_us")).as("t_end"),
        (col("total_cents") / 100.0).as("total"))
      .orderBy("user_id", "t_start"), stateRows)
  }

  /** Gate entry. The emitted set is deterministic given the final
    * watermark, so it IS oracle-checkable: a session is closed either by a
    * successor event of the same user inside the batch (every non-final
    * session per user) or by event-time timeout — the state's timeout
    * timestamp, `(t_end_us + gap)/1000 + 1` ms (see [[step]]), falling
    * strictly below the final watermark `max(ts) // 1ms`. The oracle
    * mirrors both rules and the cents arithmetic (`round(value*100)`
    * summed as integers, divided once at the end). */
  val statefulSessions: Q = Q(
    "ext_stream_sessions",
    """WITH numbered AS (
      |  SELECT user_id, ts, event_id, value,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_seq
      |  FROM (
      |    SELECT user_id, ts, event_id, value,
      |      CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |          IS NULL
      |      THEN 1 ELSE 0 END AS is_new
      |    FROM events) flagged),
      |sess AS (
      |  SELECT user_id, session_seq, COUNT(*) AS n_events,
      |    MIN(ts) AS t_start, MAX(ts) AS t_end,
      |    SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total,
      |    MAX(session_seq) OVER (PARTITION BY user_id) AS max_seq
      |  FROM numbered GROUP BY user_id, session_seq),
      |wm AS (SELECT MAX(epoch_us(ts)) // 1000 AS wm_ms FROM events)
      |SELECT user_id, n_events, t_start, t_end, total FROM sess, wm
      |WHERE session_seq < max_seq
      |   OR (epoch_us(t_end) + 1800000000) // 1000 + 1 < wm_ms
      |ORDER BY user_id, t_start""".stripMargin)(run _)

  val all: Seq[Q] = Seq(statefulSessions)
}

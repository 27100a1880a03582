package graft.ext

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** [EXT] sessionization on the typed Dataset API
  * (`KeyValueGroupedDataset.flatMapGroups`): same 30-minute-gap semantics
  * as [[EventsOps.sessionize]] and the same oracle, but computed
  * imperatively per user group — the pattern to reach for when session
  * logic outgrows window functions (custom state machines, per-session
  * model calls). One shuffle on user_id; each group is buffered and
  * time-sorted before the fold (see `sessions` note on group-size bounds).
  */
object TypedSessionize {

  case class Ev(user_id: Long, tsUs: Long, event_id: Long,
      value: Double)
  case class SessionOut(user_id: Long, session_seq: Long,
      n_events: Long, t_start_us: Long, t_end_us: Long,
      total_cents: Long)

  private val GapUs = 1800L * 1000000L

  /** Fold a user's events into sessions. The group is buffered and sorted
    * by (ts, event_id) — flatMapGroups guarantees no intra-group order, and
    * a single user's history fits comfortably in memory (bound the group or
    * use a secondary-sort mapPartitions if that ever stops being true).
    * `value` is summed in integer cents (exact, order-free) to mirror the
    * oracle's decimal sum. */
  private def sessions(userId: Long, evs: Iterator[Ev]): Iterator[SessionOut] =
    new Iterator[SessionOut] {
      private val it = evs.toVector.sortBy(e => (e.tsUs, e.event_id))
        .iterator.buffered
      private var sessionIdx = 0L
      def hasNext: Boolean = it.hasNext
      def next(): SessionOut = {
        sessionIdx += 1
        val first = it.next()
        var n = 1L
        var last = first.tsUs
        var cents = math.round(first.value * 100)
        while (it.hasNext && it.head.tsUs - last <= GapUs) {
          val e = it.next()
          n += 1; last = e.tsUs; cents += math.round(e.value * 100)
        }
        SessionOut(userId, sessionIdx, n, first.tsUs, last, cents)
      }
    }

  val typedSessionize: Q = Q(
    "ext_sessionize_typed",
    EventsOps.sessionize.oracle.get // identical semantics, identical oracle
  ) { (s, d) =>
    implicit val evEnc = Encoders.product[Ev]
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val keyEnc = Encoders.scalaLong
    val evs = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tsUs"),
        col("event_id"), col("value"))
      .as[Ev]
    evs.groupByKey(_.user_id)
      .flatMapGroups((k: Long, it: Iterator[Ev]) => sessions(k, it))
      .toDF()
      .select(col("user_id"), col("session_seq"), col("n_events"),
        timestamp_micros(col("t_start_us")).as("t_start"),
        timestamp_micros(col("t_end_us")).as("t_end"),
        (col("total_cents") / 100.0).as("total"))
      .select("user_id", "session_seq", "n_events", "t_start", "t_end",
        "total")
      .orderBy("user_id", "session_seq")
  }

  val all: Seq[Q] = Seq(typedSessionize)
}

package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot
import graft.streaming.ChangefeedFollower

/** [EXT] gate row for the changefeed FOLLOWER
  * ([[ChangefeedFollower]]): a per-type summary maintained
  * tick-by-tick from the store's own CDC feed, interleaved with the
  * data commits — the continuous-pipeline consumption pattern
  * (`ext_store_cdc_view` proves one-shot delta algebra; this proves the
  * stateful consumer: watermark ledger, multi-tick accumulation,
  * exactly-once commit coupling, no-op when caught up).
  *
  * Fixture prep stages its own root with the SAME first three data
  * ticks as [[StoreFeed]] (base append / delete-errors+append / COW
  * click-value doubling), but runs a follower tick BETWEEN each — so
  * the summary is built from three separate feed slices whose versions
  * interleave with the follower's own commits — then a final tick that
  * must no-op (caught up). The gate reads the maintained summary; the
  * oracle aggregates the final snapshot directly from the raw fixture,
  * so the hash proves fold-over-ticks == recompute-from-scratch.
  */
object StoreFollow {

  private val Root = "graft_cdc_follow_root"

  private val prepared = new PreparedTables(
    Seq("events.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_cdc_follow_root (v${cat.version}) survived prep")
    val ev = Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    def tick(expectAdvance: Boolean): Unit = {
      val n = ChangefeedFollower.tick(cat, "events_ingest", "follow_gate")
      require((n > 0) == expectAdvance,
        s"follower advanced $n versions, expected advance=$expectAdvance")
    }
    cat.append("events_ingest",
      ev.filter(col("event_id") <= StoreFeed.V1Max),
      orderBy = Seq("event_id"))
    tick(expectAdvance = true)
    cat.transaction { tx =>
      tx.delete("events_ingest", col("event_type") === "error")
      tx.append("events_ingest",
        ev.filter(col("event_id") > StoreFeed.V1Max &&
          col("event_id") <= StoreFeed.V2Max),
        orderBy = Seq("event_id"))
    }
    tick(expectAdvance = true)
    cat.update("events_ingest", col("event_type") === "click",
      Map("value" -> (col("value") * 2)))
    tick(expectAdvance = true)
    tick(expectAdvance = false) // caught up: an empty feed must not commit
  }

  val follow: Q = Q(
    "ext_store_cdc_follow",
    s"""${StoreFeed.v3Sql}
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
       |    AS total_value
       |FROM v3 GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root))
      .read("events_type_summary")
      .filter(col("n_rows") > 0)
      .select(col("event_type"), col("n_rows"),
        (col("total_cents").cast("double") / 100.0).as("total_value"))
      .orderBy("event_type")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] = Seq(follow)
}

package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Q
import graft.store.Catalog

import PreparedTables.storeRoot
import graft.streaming.StreamIngest

/** [EXT] the full streaming→store ingestion path as a GATE row: the
  * events fixture replayed in [[graft.streaming.StreamReplay.Batches]]
  * real micro-batches, each landed in the COW store by
  * [[StreamIngest.commitBatch]] — batch rows and the (query, batchId)
  * ledger row in ONE atomic manifest swap — then the WHOLE stream
  * replayed a second time under the same query name, which the ledger
  * must reject batch-by-batch (exactly-once under at-least-once
  * delivery, the Delta txn-version pattern).
  *
  * The oracle is blind to batching, the ledger, and the store: it just
  * numbers the raw fixture by (ts, event_id). That is exactly the
  * point — ids are assigned per batch in (ts, event_id) order, and the
  * replay batches are time-range splits on the same key, so batch k's
  * rows ALL sort before batch k+1's and the concatenated per-batch
  * numbering equals the global one. The id sequence is a pure function
  * of the data, independent of where the batch boundaries fall — a
  * duplicated batch (broken ledger), a lost batch, or a nondeterministic
  * id order all go hash-red. `batches_committed` pins the ledger row
  * count: the second run must add data rows AND ledger rows nowhere.
  *
  * At 100 TB/day this is the shape of every warehouse streaming sink —
  * bounded ledger probe per batch, parallel id-assigned append,
  * idempotence from transactional co-commit rather than dedup scans
  * (see [[StreamIngest]] scaladoc).
  */
object StreamIngestFeed {

  private val QueryName = "gate_ingest"

  private val Root = "graft_stream_ingest_root"

  private val prepared = new PreparedTables(
    Seq("events.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  /** Run the ingestion TWICE on a fresh root: the first run must land
    * every fixture row across >= 3 offset-advancing micro-batches, the
    * replayed second run must land zero (every batch id already in the
    * ledger). Both outcomes are loud fixture failures, not weak gate
    * rows. */
  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_stream_ingest_root (v${cat.version}) survived prep")
    val ts = Seq("ts", "event_id")
    val n1 = StreamIngest.ingestEvents(s, d, cat, QueryName, orderBy = ts)
    require(n1 > 0L, "first ingestion run landed no rows")
    val n2 = StreamIngest.ingestEvents(s, d, cat, QueryName, orderBy = ts)
    require(n2 == 0L,
      s"replayed run landed $n2 rows past the exactly-once ledger")
  }

  val ingest: Q = Q(
    "ext_stream_store_ingest",
    """WITH f AS (SELECT event_id, ts, user_id, event_type, value, props
      |  FROM events)
      |SELECT row_number() OVER (ORDER BY ts, event_id) AS ingest_id,
      |  event_id, ts, user_id, event_type, value, props,
      |  CAST(3 AS BIGINT) AS batches_committed
      |FROM f ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    val cat = new Catalog(s, storeRoot(s, Root))
    val ledger = cat.read("stream_offsets")
      .agg(count(lit(1)).cast("long").as("batches_committed"))
    cat.read("events_ingest")
      .crossJoin(broadcast(ledger))
      .orderBy("ingest_id")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] = Seq(ingest)
}

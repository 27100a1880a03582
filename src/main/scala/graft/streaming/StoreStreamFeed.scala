package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.ext.PreparedTables
import graft.ext.PreparedTables.storeRoot
import graft.store.Catalog

/** [EXT] the store-as-a-streaming-source made gate-visible (round 15,
  * [[GraftStreamProvider]]): a REAL `readStream` query tails the
  * fixture store's commits — versions are offsets, one commit per
  * micro-batch (`maxVersionsPerBatch=1`, the multi-batch contract the
  * other streaming rows follow) — and the drained sink is hashed
  * against a DuckDB oracle replaying the commits from the raw fixture.
  * This is the 100 TB "downstream of the warehouse" shape: ingest
  * lands transactionally, every consumer pipeline tails the table (or
  * its changefeed) incrementally instead of rescanning it.
  *
  * Two rows:
  *  - `ext_stream_store_tail` — appends-only tail over a three-commit
  *    root: full-snapshot backfill + paced per-commit batches must
  *    reassemble the exact table (ids included);
  *  - `ext_stream_store_cdf` — `readChangeFeed=true` over an
  *    append + merge-on-read UPDATE + broad DELETE root: the stream
  *    must deliver the insert backfill, the paired
  *    update_preimage/update_postimage images, and the delete images,
  *    one commit per batch.
  * StoreStreamSpec pins the mechanics the oracle cannot see
  * (exactly-once restart, loud non-append/evolution failures,
  * startingVersion=latest, pacing across restart). */
object StoreStreamFeed {

  private val TailSlice = 300L // x3 appends => event_id <= 900
  private val CdfSlice = 600L
  private val FlipId = 123L

  private val TailRoot = "graft_tailstream_root"

  private val CdfRoot = "graft_cdfstream_root"

  private def ingestCols(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  private val tailPrepared = new PreparedTables(
    Seq("events.parquet"), Seq(TailRoot),
    (s, d) => {
      val cat = new Catalog(s, storeRoot(s, TailRoot))
      require(cat.version == 0L, "stale graft_tailstream_root")
      val ev = ingestCols(s, d)
      (1 to 3).foreach { i =>
        cat.append("events_ingest",
          ev.filter(col("event_id") > (i - 1) * TailSlice &&
            col("event_id") <= i * TailSlice),
          orderBy = Seq("event_id"))
      }
      require(cat.version == 3L, "tail fixture must be three commits")
    })

  private val cdfPrepared = new PreparedTables(
    Seq("events.parquet"), Seq(CdfRoot),
    (s, d) => {
      val cat = new Catalog(s, storeRoot(s, CdfRoot))
      require(cat.version == 0L, "stale graft_cdfstream_root")
      cat.append("events_ingest",
        ingestCols(s, d).filter(col("event_id") <= CdfSlice),
        orderBy = Seq("event_id"))
      cat.update("events_ingest", col("ingest_id") === FlipId,
        Map("event_type" -> lit("flip"), "value" -> (col("value") * 10)))
      cat.delete("events_ingest", col("event_type") === "error")
      require(cat.version == 3L, "cdf fixture must be three commits")
    })

  private def drainToTable(s: SparkSession, root: String,
      cdf: Boolean): DataFrame = graft.core.Sessions
      .withShufflePartitions(s, 8) {
    val name = "store_stream_" + UUID.randomUUID().toString
      .replace("-", "")
    var r = s.readStream.format(classOf[GraftStreamProvider].getName)
      .option("root", root).option("table", "events_ingest")
      .option("maxVersionsPerBatch", "1")
    if (cdf) r = r.option("readChangeFeed", "true")
    val q = r.load().writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      StreamReplay.requireMultiBatch(q)
    } finally q.stop()
    s.table(name)
  }

  /** Shared oracle prefix: the CDF root's v1 state replay. */
  private val v1Sql: String =
    s"""WITH f AS (SELECT event_id, ts, user_id, event_type, value, props
       |  FROM events WHERE event_id <= $CdfSlice),
       |v1 AS (SELECT row_number() OVER (ORDER BY event_id) AS ingest_id, *
       |  FROM f)""".stripMargin

  val tail: Q = Q(
    "ext_stream_store_tail",
    s"""SELECT row_number() OVER (ORDER BY event_id) AS ingest_id,
       |  event_id, ts, user_id, event_type, value, props
       |FROM events WHERE event_id > 0 AND event_id <= ${3 * TailSlice}
       |ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    tailPrepared.ensurePrepared(s, d)
    drainToTable(s, storeRoot(s, TailRoot), cdf = false).orderBy("ingest_id")
  }.copy(setup = Some(tailPrepared.ensurePrepared _))

  val cdfStream: Q = Q(
    "ext_stream_store_cdf",
    s"""$v1Sql
       |SELECT * FROM (
       |  SELECT v1.*, 'insert' AS _change_type FROM v1
       |  UNION ALL
       |  SELECT ingest_id, event_id, ts, user_id, event_type, value,
       |    props, 'update_preimage' FROM v1 WHERE ingest_id = $FlipId
       |  UNION ALL
       |  SELECT ingest_id, event_id, ts, user_id, 'flip', value * 10,
       |    props, 'update_postimage' FROM v1 WHERE ingest_id = $FlipId
       |  UNION ALL
       |  SELECT v1.*, 'delete' FROM v1
       |    WHERE event_type = 'error' AND ingest_id <> $FlipId)
       |ORDER BY ingest_id, _change_type""".stripMargin
  ) { (s, d) =>
    cdfPrepared.ensurePrepared(s, d)
    drainToTable(s, storeRoot(s, CdfRoot), cdf = true)
      .orderBy("ingest_id", "_change_type")
  }.copy(setup = Some(cdfPrepared.ensurePrepared _))

  private val SinkRoot = "graft_sinkstream_root"

  /** Tail-root fixture piped through the streaming SINK twice: the
    * first drain lands three ledgered micro-batches; the second —
    * FRESH checkpoint, SAME ledger key (the crash-replay shape:
    * at-least-once delivery) — re-delivers all three and the ledger
    * must reject each. Loud fixture requires, oracle-checked state. */
  private val sinkPrepared = new PreparedTables(
    Seq("events.parquet"),
    Seq(SinkRoot), // the tail root belongs to tailPrepared
    (s, d) => {
      tailPrepared.ensurePrepared(s, d)
      val dst = storeRoot(s, SinkRoot)
      require(new Catalog(s, dst).version == 0L,
        "stale graft_sinkstream_root survived fixture prep")
      def pipe(): Unit = {
        val q = s.readStream
          .format(classOf[GraftStreamProvider].getName)
          .option("root", storeRoot(s, TailRoot))
          .option("table", "events_ingest")
          .option("maxVersionsPerBatch", "1")
          .load()
          .drop("ingest_id") // the sink's table assigns its own ids
          .writeStream
          .format(classOf[GraftStreamProvider].getName)
          .option("root", dst).option("table", "events_ingest")
          .option("ledgerQuery", "gate_sink")
          .option("orderBy", "event_id")
          .option("checkpointLocation", java.nio.file.Files
            .createTempDirectory("graft_sink_ckpt").toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      pipe()
      val cat = new Catalog(s, dst)
      val n1 = cat.read("events_ingest").count()
      require(n1 > 0L, "sink run landed no rows")
      require(cat.read("stream_offsets").count() == 3L,
        "expected one ledger row per micro-batch")
      pipe() // fresh checkpoint, same ledger: all batches rejected
      require(cat.read("events_ingest").count() == n1,
        "ledger replay duplicated rows through the sink")
    })

  /** The sink-landed table equals the numbered raw fixture — batch
    * boundaries, the ledger, and the second (fully-rejected) run are
    * all invisible to the oracle, which is the exactly-once claim. */
  val sinkStream: Q = Q(
    "ext_stream_store_sink",
    s"""SELECT row_number() OVER (ORDER BY event_id) AS ingest_id,
       |  event_id, ts, user_id, event_type, value, props
       |FROM events WHERE event_id > 0 AND event_id <= ${3 * TailSlice}
       |ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    sinkPrepared.ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, SinkRoot)).read("events_ingest")
      .orderBy("ingest_id")
  }.copy(setup = Some(sinkPrepared.ensurePrepared _))

  private val UpsertRoot = "graft_upsertstream_root"

  /** UPDATE-MODE AGGREGATE through the MERGE SINK (round 18): a real
    * `readStream` per-user rollup (count / decimal sum / max ts) over
    * the three-batch replayed events stream lands its changed-key
    * emissions as upserts keyed on user_id — the CDC-apply shape every
    * warehouse's streaming-aggregate path needs. Exactly-once is
    * load-bearing, not decorative: MERGE re-applied would regress keys
    * to stale intermediate aggregates, so the second run (FRESH
    * checkpoint — the agg re-computes batch 1's partial rollups —
    * SAME ledger) must have every batch REJECTED or the final state
    * visibly corrupts; the require + the oracle hash pin exactly
    * that. */
  private val upsertPrepared = new PreparedTables(
    Seq("events.parquet"), Seq(UpsertRoot),
    (s, d) => {
      val dst = storeRoot(s, UpsertRoot)
      val cat = new Catalog(s, dst)
      require(cat.version == 0L, "stale graft_upsertstream_root")
      cat.createTable("user_rollup",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rollup_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_events",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("total_value",
            org.apache.spark.sql.types.DecimalType(12, 2)),
          org.apache.spark.sql.types.StructField("last_ts",
            org.apache.spark.sql.types.TimestampType))),
        "rollup_id")
      def pipe(): Unit = {
        val batch = s.read.parquet(s"$d/events.parquet")
        val stream = StreamReplay.source(s, d, batch.schema)
        val withTs =
          if (batch.schema("ts").dataType ==
              org.apache.spark.sql.types.LongType)
            stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          else stream
        val agg = withTs.groupBy("user_id").agg(
            count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(10,2)"))
              .cast("decimal(12,2)").as("total_value"),
            max(col("ts")).as("last_ts"))
        val q = agg.writeStream
          .outputMode("update")
          .format(classOf[GraftStreamProvider].getName)
          .option("root", dst).option("table", "user_rollup")
          .option("mergeKey", "user_id")
          .option("ledgerQuery", "gate_upsert")
          .option("checkpointLocation", java.nio.file.Files
            .createTempDirectory("graft_upsert_ckpt").toString)
          .start()
        try {
          q.processAllAvailable()
          StreamReplay.requireMultiBatch(q)
        } finally q.stop()
      }
      pipe()
      val n1 = cat.read("user_rollup").count()
      require(n1 > 0L, "merge sink landed no rollups")
      require(cat.read("stream_offsets").count() == 3L,
        "expected one ledger row per micro-batch")
      val v1 = cat.version
      pipe() // fresh checkpoint, same ledger: every replayed batch's
             // stale partial aggregates must be REJECTED, not merged
      require(cat.version == v1,
        "ledger replay committed through the merge sink")
    }, version = "dec12")

  /** Final per-key state == the global rollup over the raw fixture:
    * batch boundaries, intermediate update-mode emissions, the merge
    * plumbing, and the fully-rejected replay run are all invisible —
    * the exactly-once upsert claim, oracle-hashed. */
  val upsertStream: Q = Q(
    "ext_stream_store_upsert",
    """SELECT user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
      |    AS total_value,
      |  MAX(ts) AS last_ts
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  ) { (s, d) =>
    upsertPrepared.ensurePrepared(s, d)
    // exact decimal at rest; DOUBLE at the gate boundary (the money
    // convention — graft.core.Determinism)
    new Catalog(s, storeRoot(s, UpsertRoot)).read("user_rollup")
      .select(col("user_id"), col("n_events"),
        col("total_value").cast("double").as("total_value"),
        col("last_ts"))
      .orderBy("user_id")
  }.copy(setup = Some(upsertPrepared.ensurePrepared _))

  val all: Seq[Q] = Seq(tail, cdfStream, sinkStream, upsertStream)
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.Catalog

/** [EXT] streaming ingestion INTO the COW store: `foreachBatch` landing
  * each micro-batch in [[graft.store.Catalog]] with exactly-once batch
  * admission.
  *
  * Structured Streaming's `foreachBatch` gives at-least-once delivery —
  * after a crash the restarted query replays its last batch. The standard
  * remedy (the txn-version pattern Delta's idempotent writes use) is to
  * record the (query, batchId) watermark INSIDE the same transaction as
  * the data: here the batch's rows and its `stream_offsets` ledger row
  * are staged together and become visible in ONE atomic manifest swap, so
  * a replayed batch is detected and skipped — no duplicates, no lost
  * batches, regardless of where the previous attempt died.
  *
  * Scale shape: the admission check reads the offsets ledger (a few rows
  * per query, file-pruned), not the data table; the append itself is the
  * store's parallel id-assignment path: a range sort orders the batch
  * (its sample and shuffle jobs), `zipWithIndex` numbers it, and ONE
  * write job stages it, each write task building its file's manifest
  * stats from the rows it writes. At 100 TB/day this is the shape
  * of every warehouse streaming sink: bounded ledger, append-only data,
  * idempotence from transactional co-commit rather than dedup scans.
  */
object StreamIngest {

  /** Admit one micro-batch transactionally iff (query, batchId) has not
    * been committed. Returns true when the batch landed, false when the
    * replay guard rejected it. `orderBy` fixes the id assignment order
    * within the batch; with the replay's time-range batching, ordering
    * by the replay's own time columns makes the GLOBAL id sequence a
    * pure function of the data — independent of where the batch
    * boundaries fall ([[graft.ext.StreamIngestFeed]]). */
  def commitBatch(cat: Catalog, table: String, query: String,
      batchId: Long, rows: DataFrame,
      orderBy: Seq[String] = Seq("event_id")): Boolean =
    cat.transaction { tx =>
      import rows.sparkSession.implicits._
      val replay = tx.read("stream_offsets")
        .filter(col("query") === query && col("batch_id") === batchId)
        .limit(1).count() > 0 // tiny ledger: one row per committed batch
      if (replay) false
      else {
        tx.append(table, rows, orderBy = orderBy)
        tx.append("stream_offsets",
          Seq((query, batchId)).toDF("query", "batch_id"))
        true
      }
    }

  /** The UPSERT twin of [[commitBatch]] (round 18 — the CDC-apply /
    * update-mode-aggregate sink shape): each micro-batch MERGES into
    * the table by `keyCol` and lands with its (query, batchId) ledger
    * row in ONE atomic manifest swap. The ledger is what makes this
    * exactly-once under at-least-once replay — MERGE is NOT naturally
    * idempotent (re-applying a batch after later batches touched the
    * same keys would regress them to stale images; a target-reading
    * SET would double-apply), so replayed batch ids must be REJECTED,
    * not re-merged, and the atomic co-commit guarantees a crash
    * between the merge and the ledger write is impossible. Returns
    * false on a rejected replay. */
  def mergeBatch(cat: Catalog, table: String, query: String,
      batchId: Long, rows: DataFrame, keyCol: String): Boolean =
    cat.transaction { tx =>
      import rows.sparkSession.implicits._
      val replay = tx.read("stream_offsets")
        .filter(col("query") === query && col("batch_id") === batchId)
        .limit(1).count() > 0
      if (replay) false
      else {
        tx.merge(table, rows, keyCol)
        tx.append("stream_offsets",
          Seq((query, batchId)).toDF("query", "batch_id"))
        true
      }
    }

  /** Stream the `events` fixture into `events_ingest` and return the
    * number of rows THIS invocation landed (table growth across the run,
    * so pre-existing rows — or a fully-replayed no-op re-run — report 0,
    * not the table's total). Restart-safe: re-running with the same
    * `query` name replays batch ids the ledger already holds and skips
    * them. */
  def ingestEvents(spark: SparkSession, dir: String, cat: Catalog,
      query: String, orderBy: Seq[String] = Seq("event_id")): Long = {
    val before = cat.read("events_ingest").count() // 0 if not created yet
    val batch = spark.read.parquet(s"$dir/events.parquet")
    // multi-batch replay: the (query, batchId) ledger is exercised with
    // THREE distinct batch ids per run, so a replayed run must skip each
    val stream = StreamReplay.source(spark, dir, batch.schema)
    val withTs =
      if (batch.schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
        stream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else stream
    val q = withTs.writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        commitBatch(cat, "events_ingest", query, id, df, orderBy): Unit
      }
      .start()
    try {
      q.processAllAvailable()
      StreamReplay.requireMultiBatch(q)
    } finally q.stop()
    cat.read("events_ingest").count() - before
  }
}

package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.store.Catalog

/** The store as a streaming SINK ([[GraftStreamProvider.createSink]]):
  * `writeStream.format(...)` lands micro-batches through the
  * transactional (ledger, batchId) co-commit — exactly-once under
  * at-least-once replay with no dedup state. The spec composes it with
  * the store SOURCE: store A tails into store B, and B must equal A. */
class StoreSinkSpec extends SparkSuite {

  private def sourceRoot(slices: Int): String = {
    val dir = Files.createTempDirectory("graft-sinksrc").toString
    val cat = new Catalog(spark, dir)
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    (1 to slices).foreach { i =>
      cat.append("events_ingest",
        ev.filter(col("event_id") > (i - 1) * 100 &&
          col("event_id") <= i * 100),
        orderBy = Seq("event_id"))
    }
    dir
  }

  private def pipe(src: String, dst: String, ckpt: String,
      ledger: String): Unit = {
    val q = spark.readStream
      .format(classOf[GraftStreamProvider].getName)
      .option("root", src).option("table", "events_ingest")
      .option("maxVersionsPerBatch", "1")
      .load()
      .drop("ingest_id") // the SINK's table assigns its own dense ids
      .writeStream
      .format(classOf[GraftStreamProvider].getName)
      .option("root", dst).option("table", "events_ingest")
      .option("ledgerQuery", ledger)
      .option("orderBy", "event_id")
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    q.awaitTermination()
  }

  private def rows(root: String): Seq[String] =
    new Catalog(spark, root).read("events_ingest")
      .orderBy("ingest_id").collect().map(_.toString).toSeq

  test("source→sink pipe: store B reassembles store A exactly (ids " +
    "included — per-batch event_id order over version-ordered batches " +
    "equals the global order); checkpoint replay and ledger replay " +
    "are both exactly-once") {
    val a = sourceRoot(3)
    val b = Files.createTempDirectory("graft-sinkdst").toString
    val ckpt = Files.createTempDirectory("ckpt-pipe").toString
    pipe(a, b, ckpt, "pipe1")
    assert(rows(b) == rows(a), "sink did not reassemble the source")
    val bCat = new Catalog(spark, b)
    val vAfter = bCat.version
    assert(bCat.read("stream_offsets")
      .filter(col("query") === "pipe1").count() == 3,
      "expected one ledger row per micro-batch")

    // same checkpoint: the SOURCE delivers nothing new
    pipe(a, b, ckpt, "pipe1")
    assert(bCat.version == vAfter, "checkpoint replay re-committed")

    // FRESH checkpoint, same ledger: the source re-delivers all three
    // batches and the LEDGER must reject each (at-least-once delivery
    // with exactly-once admission — the crash-replay shape)
    pipe(a, b, Files.createTempDirectory("ckpt-pipe2").toString, "pipe1")
    assert(rows(b) == rows(a), "ledger replay duplicated rows")

    // a DIFFERENT ledger key is a different logical writer: it lands
    // a second copy (proving the guard is the ledger, not luck)
    pipe(a, b, Files.createTempDirectory("ckpt-pipe3").toString, "pipe2")
    assert(new Catalog(spark, b).read("events_ingest").count() ==
      2L * rows(a).size)
  }

  test("autoCompact at the sink: micro-batch file debris folds as the " +
    "stream runs, content and ledger stay exact, tuning knobs without " +
    "the switch are loud") {
    val a = sourceRoot(6)
    val b = Files.createTempDirectory("graft-sinkac").toString
    val q = spark.readStream
      .format(classOf[GraftStreamProvider].getName)
      .option("root", a).option("table", "events_ingest")
      .option("maxVersionsPerBatch", "1")
      .load()
      .drop("ingest_id")
      .writeStream
      .format(classOf[GraftStreamProvider].getName)
      .option("root", b).option("table", "events_ingest")
      .option("ledgerQuery", "ac1")
      .option("orderBy", "event_id")
      .option("autoCompact", "true")
      .option("autoCompactSmallRows", "150")
      .option("autoCompactTargetRows", "600")
      .option("autoCompactMinFiles", "3")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-ac").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    q.awaitTermination()
    // content exact (ids included) AND the per-batch debris folded:
    // 6 one-file batches under minFiles=3 leave at most 3 live files
    assert(rows(b) == rows(a), "autoCompact sink lost/changed content")
    val bCat = new Catalog(spark, b)
    val live = bCat.liveFiles("events_ingest")
    assert(live.size <= 3,
      s"expected the 6 micro-batch files folded to <= 3, got: $live")
    assert(bCat.read("stream_offsets")
      .filter(col("query") === "ac1").count() == 6,
      "exactly one ledger row per micro-batch, none for maintenance")
    // the maintenance pass must never mint ledger rows or ids: a
    // fresh-checkpoint replay is still fully rejected by the ledger
    pipe(a, b, Files.createTempDirectory("ckpt-ac2").toString, "ac1")
    assert(rows(b) == rows(a), "ledger replay after autoCompact duped")
    // tuning knob without the switch: loud, pointed
    assert(intercept[Exception] {
      spark.readStream
        .format(classOf[GraftStreamProvider].getName)
        .option("root", a).option("table", "events_ingest").load()
        .writeStream
        .format(classOf[GraftStreamProvider].getName)
        .option("root", b).option("table", "events_ingest")
        .option("ledgerQuery", "ac2")
        .option("autoCompactSmallRows", "10")
        .option("checkpointLocation",
          Files.createTempDirectory("ckpt-ac3").toString)
        .start()
    }.getMessage.contains("autoCompact is not enabled"))
  }

  test("out-of-contract sink shapes fail loudly: aggregate output " +
    "modes, partitionBy, and a missing exactly-once identity") {
    val a = sourceRoot(1)
    val b = Files.createTempDirectory("graft-sinkdst2").toString
    def msg(body: => Unit): String =
      intercept[Exception](body).getMessage
    val src = spark.readStream
      .format(classOf[GraftStreamProvider].getName)
      .option("root", a).option("table", "events_ingest").load()
    assert(msg {
      src.groupBy("event_type").count().writeStream
        .format(classOf[GraftStreamProvider].getName)
        .option("root", b).option("table", "events_type_summary")
        .option("ledgerQuery", "x")
        .option("checkpointLocation",
          Files.createTempDirectory("ckpt-c").toString)
        .outputMode("complete").start()
    }.contains("complete mode"))
    // the round-18 merge-sink contract: each half of (update mode,
    // mergeKey) is useless without the other — both misuses are loud
    assert(msg {
      src.groupBy("event_type").count().writeStream
        .format(classOf[GraftStreamProvider].getName)
        .option("root", b).option("table", "events_type_summary")
        .option("ledgerQuery", "x")
        .option("checkpointLocation",
          Files.createTempDirectory("ckpt-u").toString)
        .outputMode("update").start()
    }.contains("mergeKey"))
    assert(msg {
      src.writeStream
        .format(classOf[GraftStreamProvider].getName)
        .option("root", b).option("table", "events_ingest")
        .option("ledgerQuery", "x")
        .option("mergeKey", "event_id")
        .option("checkpointLocation",
          Files.createTempDirectory("ckpt-m").toString)
        .start() // append mode + mergeKey
    }.contains("update output mode"))
    assert(msg {
      src.writeStream
        .format(classOf[GraftStreamProvider].getName)
        .option("root", b).option("table", "events_ingest")
        .option("ledgerQuery", "x")
        .option("checkpointLocation",
          Files.createTempDirectory("ckpt-p").toString)
        .partitionBy("event_type").start()
    }.contains("partitionBy"))
    assert(msg {
      // no checkpointLocation AND no ledgerQuery: Spark would assign a
      // RANDOM temp checkpoint, so replay identity would be luck
      src.writeStream
        .format(classOf[GraftStreamProvider].getName)
        .option("root", b).option("table", "events_ingest")
        .start()
    }.contains("exactly-once identity"))
  }
}

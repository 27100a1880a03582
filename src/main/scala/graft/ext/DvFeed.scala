package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot

/** [EXT] merge-on-read deletion vectors made gate-visible (round 15):
  * the reference's own hottest write shape is the one-row status flip
  * (`record_payment`, db.py:459-463) — under copy-on-write that
  * rewrites every file holding the key (~128 MB per flipped row at
  * 100 TB); under merge-on-read it writes a sidecar + a 1-row patch.
  * These rows prove the DV path end-to-end against a DuckDB oracle
  * that replays the logical effect from the raw fixture: same rows, no
  * resurrected deletes, changefeed still pairs the update.
  *
  * Fixture (PreparedTables memo): v1 appends the `event_id <= 2000`
  * slice (dense ingest ids in event_id order), v2 is a POINT update of
  * ingest_id 500 (event_type -> 'flip', value x10) — lands as DV +
  * patch, original file untouched — and v3 a POINT delete of
  * ingest_id 700 (pure-DV commit). DeletionVectorSpec pins the
  * mechanics (files byte-identical, bytes ∝ changed rows, fsck
  * witnesses); the gate rows pin the SEMANTICS cross-engine. */
object DvFeed {

  private val Slice = 2000L
  private val FlipId = 500L
  private val DropId = 700L

  private val Root = "graft_dv_root"

  private val prepared = new PreparedTables(
    Seq("events.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_dv_root (v${cat.version}) survived fixture prep")
    cat.append("events_ingest",
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .filter(col("event_id") <= Slice),
      orderBy = Seq("event_id"))
    cat.update("events_ingest", col("ingest_id") === FlipId,
      Map("event_type" -> lit("flip"), "value" -> (col("value") * 10)))
    cat.delete("events_ingest", col("ingest_id") === DropId)
    require(cat.version == 3L,
      s"dv fixture ended at v${cat.version}, expected 3")
    val cold = new Catalog(s, storeRoot(s, Root))
    val dvLs = java.nio.file.Files.list(
      java.nio.file.Paths.get(storeRoot(s, Root), "_dv"))
    val nDv = try dvLs.count() finally dvLs.close()
    require(nDv >= 2, "the point ops did not land as deletion vectors")
    // ingest ids are dense 1..maxId; exactly one row (DropId) is masked
    require(cold.read("events_ingest").count() ==
        cold.maxId("events_ingest") - 1,
      "dv fixture row count off")
  }

  private val v1Sql: String =
    s"""f AS (SELECT event_id, ts, user_id, event_type, value, props
       |  FROM events WHERE event_id <= $Slice),
       |v1 AS (SELECT row_number() OVER (ORDER BY event_id) AS ingest_id, *
       |  FROM f)""".stripMargin

  /** Current state through the masks: the flipped row shows its patch
    * image exactly once, the deleted row is gone, everything else is
    * byte-identical to the append. */
  val dvRead: Q = Q(
    "ext_store_dv_update",
    s"""WITH $v1Sql
       |SELECT ingest_id, event_id, ts, user_id,
       |  CASE WHEN ingest_id = $FlipId THEN 'flip' ELSE event_type END
       |    AS event_type,
       |  CASE WHEN ingest_id = $FlipId THEN value * 10 ELSE value END
       |    AS value,
       |  props
       |FROM v1 WHERE ingest_id <> $DropId ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root)).read("events_ingest")
      .orderBy("ingest_id")
  }.copy(setup = Some(ensurePrepared _))

  /** The v1→v2 changefeed across a DV-only commit: the file's PATH
    * never changed — only its deletion vector — yet the feed must carry
    * exactly one paired update (entry diff is by (path, dv); untouched
    * residents cancel in the multiset difference). */
  val dvFeed: Q = Q(
    "ext_store_dv_feed",
    s"""WITH $v1Sql
       |SELECT ingest_id, event_id, ts, user_id, event_type, value, props,
       |  'update_preimage' AS _change_type
       |FROM v1 WHERE ingest_id = $FlipId
       |UNION ALL
       |SELECT ingest_id, event_id, ts, user_id, 'flip', value * 10, props,
       |  'update_postimage'
       |FROM v1 WHERE ingest_id = $FlipId
       |ORDER BY ingest_id, _change_type""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root))
      .changesWithUpdates("events_ingest", 1L, 2L)
      .orderBy("ingest_id", "_change_type")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] = Seq(dvRead, dvFeed)
}

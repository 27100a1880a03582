package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot

/** [EXT] SQL DML made gate-visible (round 15,
  * [[graft.store.sql.GraftSqlDmlRule]]): the fixture store is mutated
  * ONLY through `spark.sql` text — a point `UPDATE` (merge-on-read
  * deletion vector), a broad `DELETE FROM` (COW), and a star
  * `MERGE INTO` (keyed upsert) — and the gate rows hash the resulting
  * state and changefeed against DuckDB oracles that replay the logical
  * effect from the raw fixture. This is the reference's whole write
  * surface as text: `record_payment` (db.py:459-463) is an UPDATE,
  * `save_card` upserts, cleanup jobs DELETE — after this round all
  * three work verbatim against the store.
  *
  * Fixture (PreparedTables memo), versions:
  *  v1 Scala append of the `event_id <= 800` slice (dense ids in
  *     event_id order) — the only non-SQL step, it stages the table;
  *  v2 SQL `UPDATE ... WHERE ingest_id = 400` (event_type -> 'flip',
  *     value x10) — id-pinned, lands as DV + 1-row patch;
  *  v3 SQL `DELETE FROM ... WHERE event_type = 'error'` — broad COW
  *     delete (the flipped row 400 is no longer 'error', so it
  *     survives even when it started as one);
  *  v4 SQL `MERGE INTO` with a `(700, 900]` source slice re-typed
  *     'merged': keys `<= 800` still present update in place
  *     (preserved ids), keys `> 800` insert with fresh dense ids
  *     continuing from the v1 high-water mark (deletes never lower
  *     it);
  *  v5 SQL PARTIAL-SET `MERGE INTO` (round 16) with a `(820, 950]`
  *     slice whose view triples `value` and re-types 'late': `WHEN
  *     MATCHED THEN UPDATE SET value = s.value * 2` rewrites ONLY the
  *     value column — through a SET EXPRESSION evaluated on the
  *     source batch — while matched rows keep their standing
  *     event_type ('merged' from v4) and every other column from the
  *     TARGET, and unmatched keys `> 900` insert the full source row;
  *  v6 SQL TARGET-READING MERGE (round 17, SURVEY §7.7.3 closed) with
  *     a `(930, 1000]` slice re-typed 'accum': `WHEN MATCHED THEN
  *     UPDATE SET value = t.value + s.value` — THE incremental-
  *     aggregate merge — reads the standing TARGET value on the
  *     engine's per-pair joined images and lands old+delta, keeping
  *     every other column from the target; keys `> 950` insert raw.
  * SqlDmlSpec pins the mechanics (DV sidecar, byte-identical
  * originals, CHECK enforcement, loud rejections); these rows pin the
  * cross-engine SEMANTICS of the SQL-door writes. */
object SqlDmlFeed {

  private val V1Max = 800L
  private val FlipId = 400L
  private val MergeLo = 700L
  private val MergeHi = 900L
  private val PartialLo = 820L
  private val PartialHi = 950L
  private val AccumLo = 930L
  private val AccumHi = 1000L

  /** Catalog name for the SQL-DML fixture root. */
  private val CatName = "graftdml"

  private val Root = "graft_sqldml_root"

  private val prepared = new PreparedTables(
    Seq("events.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit = {
    s.conf.set(s"spark.sql.catalog.$CatName",
      classOf[graft.store.sql.GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$CatName.root", storeRoot(s, Root))
    prepared.ensurePrepared(s, d)
  }

  private def srcView(s: SparkSession, d: String): String = {
    Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > MergeLo && col("event_id") <= MergeHi)
      .withColumn("event_type", lit("merged"))
      .withColumn("ingest_id", lit(null).cast("bigint"))
      .createOrReplaceTempView("graft_sqldml_src")
    "graft_sqldml_src"
  }

  /** v5 source: the view transforms value x3 (exercising view-side
    * pre-computation) and the MERGE statement ADDS a SET expression
    * (`s.value * 2`) on top — both layers of the round-16
    * expression-capable partial merge in one fixture commit. */
  private def srcView2(s: SparkSession, d: String): String = {
    Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > PartialLo && col("event_id") <= PartialHi)
      .withColumn("event_type", lit("late"))
      .withColumn("value", col("value") * 3)
      .withColumn("ingest_id", lit(null).cast("bigint"))
      .createOrReplaceTempView("graft_sqldml_src2")
    "graft_sqldml_src2"
  }

  /** v6 source: raw values re-typed 'accum' — the MERGE itself reads
    * `t.value` so the accumulation lives in the statement, not the
    * view. */
  private def srcView3(s: SparkSession, d: String): String = {
    Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > AccumLo && col("event_id") <= AccumHi)
      .withColumn("event_type", lit("accum"))
      .withColumn("ingest_id", lit(null).cast("bigint"))
      .createOrReplaceTempView("graft_sqldml_src3")
    "graft_sqldml_src3"
  }

  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_sqldml_root (v${cat.version}) survived fixture prep")
    cat.append("events_ingest",
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .filter(col("event_id") <= V1Max),
      orderBy = Seq("event_id"))
    // every mutation below is pure SQL text through the DSv2 door
    s.sql(s"UPDATE $CatName.events_ingest SET event_type = 'flip', " +
      s"value = value * 10 WHERE ingest_id = $FlipId")
    s.sql(s"DELETE FROM $CatName.events_ingest " +
      "WHERE event_type = 'error'")
    val src = srcView(s, d)
    s.sql(
      s"""MERGE INTO $CatName.events_ingest t USING $src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // v5: PARTIAL-SET merge with a SET EXPRESSION — matched rows take
    // value = s.value * 2 (evaluated on the source batch), everything
    // else keeps its target value; inserts take the raw source row
    val src2 = srcView2(s, d)
    s.sql(
      s"""MERGE INTO $CatName.events_ingest t USING $src2 s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET value = s.value * 2
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // v6: TARGET-READING merge — matched rows land old+delta (the
    // incremental-aggregate shape), inserts take the raw source row
    val src3 = srcView3(s, d)
    s.sql(
      s"""MERGE INTO $CatName.events_ingest t USING $src3 s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET value = t.value + s.value
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(cat.version == 6L,
      s"sql-dml fixture ended at v${cat.version}, expected 6")
    val dvLs = java.nio.file.Files.list(
      java.nio.file.Paths.get(storeRoot(s, Root), "_dv"))
    val nDv = try dvLs.count() finally dvLs.close()
    require(nDv >= 1, "the SQL point update did not land as a DV")
  }

  /** Oracle CTE chain replaying v1..v4 from the raw events fixture. */
  private val replaySql: String =
    s"""WITH f AS (SELECT event_id, ts, user_id, event_type, value, props
       |  FROM events),
       |v1 AS (SELECT row_number() OVER (ORDER BY event_id) AS ingest_id, *
       |  FROM f WHERE event_id <= $V1Max),
       |v2 AS (SELECT ingest_id, event_id, ts, user_id,
       |    CASE WHEN ingest_id = $FlipId THEN 'flip' ELSE event_type END
       |      AS event_type,
       |    CASE WHEN ingest_id = $FlipId THEN value * 10 ELSE value END
       |      AS value,
       |    props FROM v1),
       |v3 AS (SELECT * FROM v2 WHERE event_type <> 'error'),
       |src AS (SELECT event_id, ts, user_id, 'merged' AS event_type,
       |    value, props
       |  FROM f WHERE event_id > $MergeLo AND event_id <= $MergeHi),
       |kept AS (SELECT * FROM v3
       |  WHERE event_id NOT IN (SELECT event_id FROM src)),
       |upd AS (SELECT t.ingest_id, s.event_id, s.ts, s.user_id,
       |    s.event_type, s.value, s.props
       |  FROM v3 t JOIN src s ON t.event_id = s.event_id),
       |ins AS (SELECT (SELECT MAX(ingest_id) FROM v1)
       |    + row_number() OVER (ORDER BY event_id) AS ingest_id, *
       |  FROM src
       |  WHERE event_id NOT IN (SELECT event_id FROM v3)),
       |state4 AS (SELECT * FROM kept UNION ALL SELECT * FROM upd
       |  UNION ALL SELECT * FROM ins),
       |src2 AS (SELECT event_id, ts, user_id, 'late' AS event_type,
       |    value * 3 AS value, props
       |  FROM f WHERE event_id > $PartialLo AND event_id <= $PartialHi),
       |kept5 AS (SELECT * FROM state4
       |  WHERE event_id NOT IN (SELECT event_id FROM src2)),
       |upd5 AS (SELECT t.ingest_id, t.event_id, t.ts, t.user_id,
       |    t.event_type, s.value * 2 AS value, t.props
       |  FROM state4 t JOIN src2 s ON t.event_id = s.event_id),
       |ins5 AS (SELECT (SELECT MAX(ingest_id) FROM state4)
       |    + row_number() OVER (ORDER BY event_id) AS ingest_id, *
       |  FROM src2
       |  WHERE event_id NOT IN (SELECT event_id FROM state4)),
       |state5 AS (SELECT * FROM kept5 UNION ALL SELECT * FROM upd5
       |  UNION ALL SELECT * FROM ins5),
       |src3 AS (SELECT event_id, ts, user_id, 'accum' AS event_type,
       |    value, props
       |  FROM f WHERE event_id > $AccumLo AND event_id <= $AccumHi),
       |kept6 AS (SELECT * FROM state5
       |  WHERE event_id NOT IN (SELECT event_id FROM src3)),
       |upd6 AS (SELECT t.ingest_id, t.event_id, t.ts, t.user_id,
       |    t.event_type, t.value + s.value AS value, t.props
       |  FROM state5 t JOIN src3 s ON t.event_id = s.event_id),
       |ins6 AS (SELECT (SELECT MAX(ingest_id) FROM state5)
       |    + row_number() OVER (ORDER BY event_id) AS ingest_id, *
       |  FROM src3
       |  WHERE event_id NOT IN (SELECT event_id FROM state5))""".stripMargin

  /** Final state after the five SQL-text mutations (partial-SET and
    * target-reading merges included) — read back through pure SQL as
    * well (write AND read both cross the DSv2 door). */
  val dmlState: Q = Q(
    "ext_sql_dml_state",
    s"""$replaySql
       |SELECT * FROM (
       |  SELECT * FROM kept6 UNION ALL
       |  SELECT * FROM upd6 UNION ALL
       |  SELECT * FROM ins6)
       |ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    s.sql(
      s"""SELECT ingest_id, event_id, ts, user_id, event_type, value, props
         |FROM $CatName.events_ingest ORDER BY ingest_id""".stripMargin)
  }.copy(setup = Some(ensurePrepared _))

  /** The changefeed across the SQL UPDATE commit (v1→v2): the SQL door
    * must produce the same DV-only commit the Scala API produces — the
    * file's path unchanged, exactly one paired update in the feed. */
  val dmlFeed: Q = Q(
    "ext_sql_dml_feed",
    s"""$replaySql
       |SELECT * FROM (
       |  SELECT v1.*, 'update_preimage' AS _change_type FROM v1
       |    WHERE ingest_id = $FlipId
       |  UNION ALL
       |  SELECT ingest_id, event_id, ts, user_id, 'flip', value * 10,
       |    props, 'update_postimage' FROM v1 WHERE ingest_id = $FlipId)
       |ORDER BY _change_type""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root))
      .changesWithUpdates("events_ingest", 1L, 2L)
      .orderBy("_change_type")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] = Seq(dmlState, dmlFeed)
}

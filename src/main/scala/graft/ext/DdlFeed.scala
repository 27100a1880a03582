package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot

/** [EXT] dynamic-table DDL made gate-visible (round 15,
  * `Catalog.createTable`/`dropTable` + the SQL door): the fixture
  * lifecycle is PURE SQL text — `CREATE TABLE` (manifest identity,
  * engine-assigned surrogate ids), `INSERT INTO ... SELECT` (an
  * aggregate of the raw fixture), a point `UPDATE`, and a scratch
  * table created and `DROP`ped — and the gate hashes the final table
  * against a DuckDB oracle replaying the same derivation from the raw
  * fixture. This closes the last interface gap of the SQL door: before
  * this round a user could only query/write the REGISTRY tables; now
  * the full table lifecycle (create → load → mutate → drop) is SQL.
  * StoreDdlSpec pins the mechanics (identity, dense-id restart on
  * recreate, history below a drop, OCC anti-resurrection); the fuzz
  * model composes create/drop with every other store op. */
object DdlFeed {

  private val Slice = 600L
  private val BumpId = 5L

  private val CatName = "graftddl"

  private val Root = "graft_ddl_root"

  private val prepared = new PreparedTables(
    Seq("events.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit = {
    s.conf.set(s"spark.sql.catalog.$CatName",
      classOf[graft.store.sql.GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$CatName.root", storeRoot(s, Root))
    prepared.ensurePrepared(s, d)
  }

  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_ddl_root (v${cat.version}) survived fixture prep")
    Tables.events(s, d).filter(col("event_id") <= Slice)
      .createOrReplaceTempView("graft_ddl_src")
    s.sql(s"CREATE TABLE $CatName.user_metrics (m_id BIGINT NOT NULL, " +
      "user_id BIGINT, n_events BIGINT, total_value DOUBLE) " +
      "TBLPROPERTIES('id_column'='m_id')")
    s.sql(
      s"""INSERT INTO $CatName.user_metrics
         |SELECT CAST(NULL AS BIGINT), user_id, COUNT(*),
         |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
         |FROM graft_ddl_src GROUP BY user_id""".stripMargin)
    s.sql(s"UPDATE $CatName.user_metrics SET total_value = " +
      s"total_value + 1 WHERE m_id = $BumpId")
    // a scratch table proves DROP through SQL leaves no current trace
    s.sql(s"CREATE TABLE $CatName.scratch (txt STRING)")
    s.sql(s"INSERT INTO $CatName.scratch VALUES (NULL, 'tmp')")
    s.sql(s"DROP TABLE $CatName.scratch")
    require(!s.sql(s"SHOW TABLES IN $CatName").collect()
        .map(_.getString(1)).contains("scratch"),
      "DROP TABLE left the scratch table visible")
    require(cat.version == 6L,
      s"ddl fixture ended at v${cat.version}, expected 6")

    // ---- round 16: manifest-carried stats columns on a PURE-SQL table.
    // CREATE TABLE designates 'user_id' via TBLPROPERTIES; three INSERT
    // slices land with fully-overlapping user domains (every file
    // covers the whole user range — the unclustered 100 TB trap);
    // OPTIMIZE ZORDER BY through the SQL door then range-clusters on
    // the designated column, and the require below PINS that a narrow
    // user window now opens strictly fewer files than the table holds.
    // Every step is SQL text — no Scala Catalog call in the lifecycle.
    Tables.events(s, d).filter(col("event_id") <= 3 * SpanSlice)
      .createOrReplaceTempView("graft_ddl_span_src")
    s.sql(s"CREATE TABLE $CatName.span_metrics (m_id BIGINT NOT NULL, " +
      "user_id BIGINT, n_events BIGINT, total_value DOUBLE) " +
      "TBLPROPERTIES('id_column'='m_id','stats_columns'='user_id')")
    (0 until 3).foreach { k =>
      s.sql(
        s"""INSERT INTO $CatName.span_metrics
           |SELECT CAST(NULL AS BIGINT), user_id, COUNT(*),
           |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
           |FROM graft_ddl_span_src
           |WHERE event_id > ${k * SpanSlice}
           |  AND event_id <= ${(k + 1) * SpanSlice}
           |GROUP BY user_id""".stripMargin)
    }
    // the prune REQUIRE uses an SF-ADAPTIVE window (first eighth of the
    // observed user domain) so the claim holds at any fixture scale —
    // at sf0.1 the user domain is sparse per slice and a tiny fixed
    // window is not covered by every file's stats; the GATE query's
    // constants below stay fixed (the DuckDB gate runs at sf0.01)
    val dom = cat.read("span_metrics")
      .agg(min(col("user_id")), max(col("user_id"))).collect()(0)
    val (uLo, uHi) = (dom.getLong(0),
      dom.getLong(0) + (dom.getLong(1) - dom.getLong(0)) / 8)
    val preTotal = cat.liveFiles("span_metrics").size
    val preHit = cat.rangeFiles("span_metrics", "user_id",
      uLo, uHi)._1.size
    require(preHit == preTotal && preTotal >= 3,
      s"span fixture expected every file to cover the user window " +
        s"[$uLo,$uHi] pre-optimize ($preHit of $preTotal)")
    s.sql(s"OPTIMIZE $CatName.span_metrics ZORDER BY (user_id) " +
      "INTO 4 FILES")
    val (hit, total) = cat.rangeFiles("span_metrics", "user_id",
      uLo, uHi)
    require(hit.nonEmpty && hit.size < total,
      s"SQL-created table did not prune after OPTIMIZE ZORDER: " +
        s"window [$uLo,$uHi] opens ${hit.size} of $total files — " +
        "manifest-carried stats columns are not collecting")
  }

  /** 300-event slices keep all three span INSERTs non-empty at every
    * SF (sf0.001 has 1000 events); the [0,3] user window is a strict
    * subset of every SF's user domain (0..14 at sf0.001), so the
    * post-ZORDER prune claim holds at any scale the fixture runs at. */
  private val SpanSlice = 300L
  private val SpanLo = 0L
  private val SpanHi = 3L

  val ddlLifecycle: Q = Q(
    "ext_store_ddl",
    s"""WITH agg AS (SELECT user_id, COUNT(*) AS n_events,
       |    CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
       |      AS total_value
       |  FROM events WHERE event_id <= $Slice GROUP BY user_id),
       |m AS (SELECT row_number() OVER (ORDER BY user_id) AS m_id, *
       |  FROM agg)
       |SELECT m_id, user_id, n_events,
       |  CASE WHEN m_id = $BumpId THEN total_value + 1
       |    ELSE total_value END AS total_value
       |FROM m ORDER BY m_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    s.sql(s"SELECT m_id, user_id, n_events, total_value " +
      s"FROM $CatName.user_metrics ORDER BY m_id")
  }.copy(setup = Some(ensurePrepared _))

  /** Round 16: the manifest-carried stats-column lifecycle, end to end
    * in SQL — CREATE TABLE designating `stats_columns`, three INSERTs
    * whose files all straddle the user domain, `OPTIMIZE ... ZORDER BY`
    * re-clustering on the designated column (fixture prep REQUIRES the
    * post-optimize file prune: a narrow user window opens < total
    * files — the [[graft.store.sql.GraftTableCatalog]] skipping now
    * working on a dynamic table), then a range query the oracle
    * replays. The 100 TB story this closes: a SQL user's CREATE
    * TABLE'd fact table gets the same value-column file skipping as
    * the engine's fixture tables — no full-scan trap. */
  val statsLifecycle: Q = Q(
    "ext_ddl_stats_prune",
    s"""WITH src AS (SELECT * FROM events
       |  WHERE event_id <= ${3 * SpanSlice}),
       |s1 AS (SELECT user_id, COUNT(*) AS n_events,
       |    CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
       |      AS total_value
       |  FROM src WHERE event_id > 0 AND event_id <= $SpanSlice
       |  GROUP BY user_id),
       |s2 AS (SELECT user_id, COUNT(*) AS n_events,
       |    CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
       |      AS total_value
       |  FROM src WHERE event_id > $SpanSlice
       |    AND event_id <= ${2 * SpanSlice} GROUP BY user_id),
       |s3 AS (SELECT user_id, COUNT(*) AS n_events,
       |    CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
       |      AS total_value
       |  FROM src WHERE event_id > ${2 * SpanSlice}
       |    AND event_id <= ${3 * SpanSlice} GROUP BY user_id),
       |m AS (
       |  SELECT row_number() OVER (ORDER BY user_id) AS m_id, *
       |  FROM s1
       |  UNION ALL
       |  SELECT (SELECT COUNT(*) FROM s1)
       |    + row_number() OVER (ORDER BY user_id) AS m_id, * FROM s2
       |  UNION ALL
       |  SELECT (SELECT COUNT(*) FROM s1) + (SELECT COUNT(*) FROM s2)
       |    + row_number() OVER (ORDER BY user_id) AS m_id, * FROM s3)
       |SELECT m_id, user_id, n_events, total_value FROM m
       |WHERE user_id BETWEEN $SpanLo AND $SpanHi
       |ORDER BY m_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    s.sql(s"SELECT m_id, user_id, n_events, total_value " +
      s"FROM $CatName.span_metrics " +
      s"WHERE user_id BETWEEN $SpanLo AND $SpanHi ORDER BY m_id")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] = Seq(ddlLifecycle, statsLifecycle)
}

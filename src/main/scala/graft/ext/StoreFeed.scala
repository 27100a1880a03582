package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot

/** [EXT] gate-visible row-level changefeed over the COW store
  * ([[Catalog.changesBetween]] — the Delta CDF / Iceberg changelog
  * analogue).
  *
  * Fixture prep stages a SIX-version store root ([[PreparedTables]]
  * memo): version 1 appends the events fixture's `event_id <= V1Max`
  * slice into `events_ingest` (dense ingest ids assigned in event_id
  * order), version 2 is ONE transaction that hard-deletes every
  * 'error' row and appends the `(V1Max, V2Max]` slice, version 3
  * is a COW UPDATE doubling every click's value (feeding
  * [[timetravel]] and [[updatePairs]]), version 4 compacts the file
  * layout ([[compactInvariant]]), version 5 adds a nullable `quality`
  * column as pure metadata, and version 6 appends a slice carrying it
  * ([[schemaEvolution]]). The [[changefeed]] gate query
  * reads the v1→v2 changefeed; because COW carries untouched rows
  * through both manifests, the file-level diff equals the full multiset
  * difference of the two snapshots, which the DuckDB oracle — blind to
  * the store — recomputes from the raw fixture with the same
  * `EXCEPT ALL` semantics after replaying the id assignment
  * (`row_number` in event_id order = the store's range-partitioned
  * zipWithIndex order).
  *
  * At 100 TB a CDC tick's changefeed reads only the files added/removed
  * between the versions (see [[Catalog.changesBetween]]); the staged
  * fixture keeps that property observable at test scale — the carried
  * rows cancel, the feed is exactly the delete set + the insert set.
  */
object StoreFeed {

  private[ext] val V1Max = 2000L
  private[ext] val V2Max = 3000L
  private val V3Max = 4000L

  private def ingestCols(df: DataFrame): DataFrame =
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")

  private[ext] val Root = "graft_cdc_root"

  private val prepared = new PreparedTables(
    Seq("events.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  /** Build the six committed versions on a fresh root (PreparedTables
    * has already cleared the directory, so versions are exactly 1..6):
    * v1 = base slice append; v2 = delete errors + append the next
    * slice (the changefeed tick); v3 = an in-place UPDATE doubling
    * every click's value (the update-pairing tick — COW rewrites the
    * files, untouched residents cancel in the feed); v4 = compaction
    * (layout-only); v5 = addColumn (metadata-only); v6 = an append
    * carrying the evolved column. */
  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_cdc_root (v${cat.version}) survived fixture prep")
    val ev = ingestCols(Tables.events(s, d))
    cat.append("events_ingest", ev.filter(col("event_id") <= V1Max),
      orderBy = Seq("event_id"))
    cat.transaction { tx =>
      tx.delete("events_ingest", col("event_type") === "error")
      tx.append("events_ingest",
        ev.filter(col("event_id") > V1Max && col("event_id") <= V2Max),
        orderBy = Seq("event_id"))
    }
    cat.update("events_ingest", col("event_type") === "click",
      Map("value" -> (col("value") * 2)))
    cat.compact("events_ingest", numFiles = 1)
    require(cat.version == 4L,
      s"compact tick did not commit (v${cat.version}): the fixture " +
        "table landed in a single file, so the compaction row would " +
        "prove nothing — widen the slices")
    cat.transaction { tx =>
      tx.addColumn("events_ingest", org.apache.spark.sql.types.StructField(
        "quality", org.apache.spark.sql.types.IntegerType, nullable = true))
    }
    cat.append("events_ingest",
      ev.filter(col("event_id") > V2Max && col("event_id") <= V3Max)
        .withColumn("quality", pmod(col("event_id"), lit(97)).cast("int")),
      orderBy = Seq("event_id"))
    require(cat.version == 6L,
      s"fixture root ended at v${cat.version}, expected 6")
  }

  /** Shared oracle CTE chain replaying the fixture's first three
    * versions from the raw events table (dense id assignment = the
    * store's append order). Rows using only a prefix (v1, v2) leave the
    * later CTEs unreferenced — DuckDB plans CTEs lazily, unreferenced
    * ones cost nothing. */
  private[ext] val v3Sql: String =
    s"""WITH f AS (SELECT event_id, ts, user_id, event_type, value, props
       |  FROM events),
       |v1 AS (SELECT row_number() OVER (ORDER BY event_id) AS ingest_id, *
       |  FROM f WHERE event_id <= $V1Max),
       |b2 AS (SELECT (SELECT COALESCE(MAX(ingest_id), 0) FROM v1)
       |    + row_number() OVER (ORDER BY event_id) AS ingest_id, *
       |  FROM f WHERE event_id > $V1Max AND event_id <= $V2Max),
       |v2 AS (SELECT * FROM v1 WHERE event_type <> 'error'
       |  UNION ALL SELECT * FROM b2),
       |v3 AS (SELECT ingest_id, event_id, ts, user_id, event_type,
       |  CASE WHEN event_type = 'click' THEN value * 2 ELSE value END
       |    AS value, props FROM v2)""".stripMargin

  val changefeed: Q = Q(
    "ext_store_changefeed",
    s"""$v3Sql,
       |ins AS (SELECT *, 'insert' AS _change_type FROM
       |  (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)),
       |del AS (SELECT *, 'delete' AS _change_type FROM
       |  (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2))
       |SELECT ingest_id, event_id, ts, user_id, event_type, value, props,
       |  _change_type
       |FROM (SELECT * FROM ins UNION ALL SELECT * FROM del)
       |ORDER BY _change_type, ingest_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root))
      .changesBetween("events_ingest", 1L, 2L)
      .orderBy("_change_type", "ingest_id")
  }.copy(setup = Some(ensurePrepared _))

  /** Time travel (`VERSION AS OF` analogue): the table exactly as
    * commit v1 left it, read AFTER two further commits (a delete+append
    * tick and a COW update) have rewritten the current state — the
    * oracle replays v1 from the raw fixture with the same dense-id
    * assignment, so a single leaked later-version row or a missing
    * original goes hash-red. Snapshot isolation made observable: COW
    * never mutates a committed file, the v1 manifest still references
    * the original bytes. */
  val timetravel: Q = Q(
    "ext_store_timetravel",
    s"""$v3Sql
       |SELECT ingest_id, event_id, ts, user_id, event_type, value, props
       |FROM v1 ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root))
      .readAt("events_ingest", 1L)
      .orderBy("ingest_id")
  }.copy(setup = Some(ensurePrepared _))

  /** Update pairing (the Delta CDF `update_preimage`/`update_postimage`
    * shape, [[Catalog.changesWithUpdates]]): the v2→v3 feed is a pure
    * COW UPDATE (clicks' value doubled), so every changed ingest_id
    * appears on BOTH sides and must be tagged as one logical update —
    * its delete row the preimage, its insert row the postimage — while
    * the rewrite's untouched residents cancel entirely. The oracle
    * recomputes the same multiset difference and pairing from the raw
    * fixture. */
  val updatePairs: Q = Q(
    "ext_store_update_pairs",
    s"""$v3Sql,
       |ch AS (
       |  SELECT *, 'insert' AS ct FROM
       |    (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v2)
       |  UNION ALL
       |  SELECT *, 'delete' AS ct FROM
       |    (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v3)),
       |u AS (SELECT ingest_id FROM ch
       |  GROUP BY ingest_id HAVING COUNT(DISTINCT ct) = 2)
       |SELECT ingest_id, event_id, ts, user_id, event_type, value, props,
       |  CASE WHEN u.ingest_id IS NOT NULL AND ct = 'delete'
       |         THEN 'update_preimage'
       |       WHEN u.ingest_id IS NOT NULL AND ct = 'insert'
       |         THEN 'update_postimage'
       |       ELSE ct END AS _change_type
       |FROM ch LEFT JOIN u USING (ingest_id)
       |ORDER BY ingest_id, _change_type""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root))
      .changesWithUpdates("events_ingest", 2L, 3L)
      .orderBy("ingest_id", "_change_type")
  }.copy(setup = Some(ensurePrepared _))

  /** Compaction invariance: v4 is `compact(numFiles = 1)` — a pure
    * file-layout rewrite (range-partitioned on the surrogate id so
    * point reads touch one file again) that must leave the table's
    * CONTENT identical to v3. The gate reads the archived v4 snapshot;
    * the oracle rebuilds v3 from the raw fixture, so one row lost,
    * duplicated, or reordered into a different id by the rewrite goes
    * hash-red. (The file-count mechanics — fewer live files, dead
    * originals until vacuum — are spec territory: StoreSpec's compact
    * cases.) */
  val compactInvariant: Q = Q(
    "ext_store_compact",
    s"""$v3Sql
       |SELECT ingest_id, event_id, ts, user_id, event_type, value, props
       |FROM v3 ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root))
      .readAt("events_ingest", 4L)
      .orderBy("ingest_id")
  }.copy(setup = Some(ensurePrepared _))

  /** Schema evolution end-to-end: v5 adds a nullable `quality` INT
    * column (pure metadata — zero files touched), v6 appends a slice
    * CARRYING it. The gate reads the current table: every pre-evolution
    * row must NULL-backfill `quality` through parquet by-name
    * resolution (their files predate the column), the new slice must
    * carry its values, and ids must continue from the high-water mark
    * (deletes never recycle ids). The oracle rebuilds both populations
    * from the raw fixture. */
  val schemaEvolution: Q = Q(
    "ext_store_schema_evolution",
    s"""$v3Sql,
       |b3 AS (SELECT (SELECT COALESCE(MAX(ingest_id), 0) FROM v2)
       |    + row_number() OVER (ORDER BY event_id) AS ingest_id,
       |    event_id, ts, user_id, event_type, value, props,
       |    CAST(event_id % 97 AS INTEGER) AS quality
       |  FROM f WHERE event_id > $V2Max AND event_id <= $V3Max)
       |SELECT * FROM (
       |  SELECT ingest_id, event_id, ts, user_id, event_type, value,
       |    props, CAST(NULL AS INTEGER) AS quality FROM v3
       |  UNION ALL SELECT * FROM b3)
       |ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root))
      .read("events_ingest")
      .orderBy("ingest_id")
  }.copy(setup = Some(ensurePrepared _))

  /** CDC-driven materialized-view maintenance: a per-type (count, sum)
    * summary built at v1 is rolled forward to v3 by APPLYING the
    * v1→v3 changefeed as signed deltas (+1/+value per insert, −1/−value
    * per delete; an update contributes both sides) — the
    * delta-application algebra a warehouse uses to maintain aggregates
    * under DELETES and UPDATES, which the append-only high-watermark
    * path (`ext_incr_view_maintain`) cannot express. The oracle
    * aggregates the v3 state directly, so the hash proves base + feed
    * deltas == recompute-from-scratch. Groups that cancel to zero (the
    * fully-deleted 'error' type) must vanish exactly — a surviving
    * nonzero residue shows up as a row the oracle does not have. Sums
    * run in exact DECIMAL so cancellation is algebraic, not
    * floating-point luck; doubles only at the output boundary. Scale
    * shape: the view reads the (change-proportional) feed + the
    * group-domain-sized base, never rescans the fact table. */
  val cdcView: Q = Q(
    "ext_store_cdc_view",
    s"""$v3Sql
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
       |FROM v3 GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    val cat = new Catalog(s, storeRoot(s, Root))
    def dec = col("value").cast("decimal(10,2)")
    val base = cat.readAt("events_ingest", 1L)
      .select(col("event_type"), lit(1L).as("w"), dec.as("v"))
    val feed = cat.changesBetween("events_ingest", 1L, 3L)
      .select(col("event_type"),
        when(col("_change_type") === "insert", 1L)
          .otherwise(-1L).as("w"),
        when(col("_change_type") === "insert", dec)
          .otherwise(-dec).as("v"))
    base.unionByName(feed)
      .groupBy("event_type")
      .agg(sum(col("w")).cast("long").as("n_rows"),
        sum(col("v")).cast("double").as("total_value"))
      .filter(col("n_rows") > 0)
      .orderBy("event_type")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] =
    Seq(changefeed, timetravel, updatePairs, compactInvariant,
      schemaEvolution, cdcView)
}

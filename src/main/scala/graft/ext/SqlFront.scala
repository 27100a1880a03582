package graft.ext

import org.apache.spark.sql.SparkSession

import graft.core.Q

/** [EXT] the SQL front door made gate-visible: every query here is a
  * PURE `spark.sql(...)` text string against the registered
  * [[graft.store.sql.GraftTableCatalog]] — no Scala [[graft.store.Catalog]]
  * call anywhere in the query path — hash-matched against the same
  * DuckDB oracles the native-API store rows use. This is the interface
  * parity the reference demands: its consumers only ever speak SQL
  * (db.py:223-463), so the store must answer `SELECT`, `VERSION AS OF`,
  * and filtered aggregates as text.
  *
  * Rides [[StoreFeed]]'s six-version fixture root: current state =
  * post-evolution v6 (quality column, NULL-backfilled history), v1 =
  * the original append (time travel through two COW rewrites), and the
  * pushdown row filters on the id column so the manifest-stats file
  * pruning + parquet pushdown path is the one measured. */
object SqlFront {

  /** Catalog name under which the fixture store is registered. */
  private val CatName = "graftstore"

  /** Register the DSv2 catalog over the [[StoreFeed]] fixture root.
    * Conf sets are idempotent; Spark instantiates (and caches) the
    * catalog on first SQL reference. */
  private[ext] def ensureCatalog(s: SparkSession, d: String): Unit = {
    StoreFeed.ensurePrepared(s, d)
    s.conf.set(s"spark.sql.catalog.$CatName",
      classOf[graft.store.sql.GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$CatName.root",
      PreparedTables.storeRoot(s, StoreFeed.Root))
  }

  /** Current state through pure SQL — the [[StoreFeed.schemaEvolution]]
    * surface (NULL-backfilled evolved column included) reached by text
    * instead of `Catalog.read`. */
  val sqlRead: Q = Q(
    "ext_sql_catalog_read",
    s"""${StoreFeed.v3Sql},
       |b3 AS (SELECT (SELECT COALESCE(MAX(ingest_id), 0) FROM v2)
       |    + row_number() OVER (ORDER BY event_id) AS ingest_id,
       |    event_id, ts, user_id, event_type, value, props,
       |    CAST(event_id % 97 AS INTEGER) AS quality
       |  FROM f WHERE event_id > ${StoreFeed.V2Max} AND event_id <= 4000)
       |SELECT * FROM (
       |  SELECT ingest_id, event_id, ts, user_id, event_type, value,
       |    props, CAST(NULL AS INTEGER) AS quality FROM v3
       |  UNION ALL SELECT * FROM b3)
       |ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    ensureCatalog(s, d)
    s.sql(
      s"""SELECT ingest_id, event_id, ts, user_id, event_type, value,
         |  props, quality
         |FROM $CatName.events_ingest ORDER BY ingest_id""".stripMargin)
  }.copy(setup = Some(ensureCatalog _))

  /** SQL time travel: `VERSION AS OF 1` read after two COW rewrites and
    * a schema evolution changed the current state — must equal the
    * v1 replay exactly (the [[StoreFeed.timetravel]] oracle), proving
    * the SQL path resolves the OLD manifest through the schema it had
    * then. */
  val sqlTimeTravel: Q = Q(
    "ext_sql_time_travel",
    s"""${StoreFeed.v3Sql}
       |SELECT ingest_id, event_id, ts, user_id, event_type, value, props
       |FROM v1 ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    ensureCatalog(s, d)
    s.sql(
      s"""SELECT ingest_id, event_id, ts, user_id, event_type, value, props
         |FROM $CatName.events_ingest VERSION AS OF 1
         |ORDER BY ingest_id""".stripMargin)
  }.copy(setup = Some(ensureCatalog _))

  /** Filtered aggregate through SQL: the id-window predicate reaches
    * (a) the manifest stats — files whose id range provably misses the
    * window are never listed into the scan (SqlCatalogSpec pins the
    * file count) — and (b) the parquet scan's `PushedFilters`; the
    * projection prunes `ReadSchema` to three columns. The 100 TB shape:
    * a BI tool's dashboard query touching one file of a million. */
  val sqlPushdownAgg: Q = Q(
    "ext_sql_pushdown_agg",
    s"""${StoreFeed.v3Sql},
       |b3 AS (SELECT (SELECT COALESCE(MAX(ingest_id), 0) FROM v2)
       |    + row_number() OVER (ORDER BY event_id) AS ingest_id,
       |    event_id, ts, user_id, event_type, value, props
       |  FROM f WHERE event_id > ${StoreFeed.V2Max} AND event_id <= 4000),
       |cur AS (SELECT ingest_id, event_type, value FROM v3
       |  UNION ALL SELECT ingest_id, event_type, value FROM b3)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value
       |FROM cur WHERE ingest_id BETWEEN 100 AND 900
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    ensureCatalog(s, d)
    s.sql(
      s"""SELECT event_type, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE)
         |    AS total_value
         |FROM $CatName.events_ingest
         |WHERE ingest_id BETWEEN 100 AND 900
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }.copy(setup = Some(ensureCatalog _))

  val all: Seq[Q] = Seq(sqlRead, sqlTimeTravel, sqlPushdownAgg)
}

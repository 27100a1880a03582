package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot

/** [EXT] clustered compaction made gate-visible (round 15,
  * `Catalog.optimize` — the Delta/Iceberg `OPTIMIZE ... ZORDER BY`
  * analogue): version 4 of the fixture root is a LAYOUT-ONLY Z-order
  * rewrite on (o_orderkey, o_custkey), and the gate reads the
  * maintained table against a raw-fixture oracle that replays only the
  * DATA commits — so a row lost, duplicated, re-id'd, or
  * value-corrupted by the clustered rewrite goes hash-red, the same
  * invariance contract `ext_store_compact` pins for the id-clustered
  * case. The rewrite additionally has to FOLD the v2 deletion vector
  * in (the flipped row must survive with its patch image exactly
  * once); OptimizeSpec pins the layout claims the oracle cannot see —
  * per-file stats windows tight on BOTH dimensions, SQL-door file
  * skipping on a 2-D box, DV sidecars gone from the manifest.
  *
  * At 100 TB: the CDC-merge scaladoc's "pair the table with a
  * key-clustered layout" is this op — run it on the merge key and a
  * keyed tick's file fan-in drops from every-file to the few whose key
  * window intersects the batch. */
object OptimizeFeed {

  private val SliceMax = 1200L
  private val FlipId = 77L

  private val Root = "graft_opt_root"

  private val prepared = new PreparedTables(
    Seq("orders.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_opt_root (v${cat.version}) survived fixture prep")
    val src = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    // six range-appends: the orderkey-clustered multi-file baseline
    // (each file an orderkey range spanning the full custkey domain)
    (1 to 6).foreach { i =>
      cat.append("orders_ingest",
        src.filter(col("o_orderkey") > (i - 1) * SliceMax / 6 &&
          col("o_orderkey") <= i * SliceMax / 6),
        orderBy = Seq("o_orderkey"))
    }
    // a merge-on-read point update the rewrite must fold in
    cat.update("orders_ingest", col("ingest_id") === FlipId,
      Map("o_orderstatus" -> lit("X"),
        "o_totalprice" -> (col("o_totalprice") + 1)))
    cat.optimize("orders_ingest", Seq("o_orderkey", "o_custkey"),
      numFiles = 8)
    require(cat.version == 8L,
      s"optimize fixture ended at v${cat.version}, expected 8")
  }

  val optimizeInvariance: Q = Q(
    "ext_store_optimize",
    s"""WITH v1 AS (SELECT row_number() OVER (ORDER BY o_orderkey)
       |    AS ingest_id, o_orderkey, o_custkey, o_orderstatus,
       |    o_totalprice, o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey > 0 AND o_orderkey <= $SliceMax)
       |SELECT ingest_id, o_orderkey, o_custkey,
       |  CASE WHEN ingest_id = $FlipId THEN 'X' ELSE o_orderstatus END
       |    AS o_orderstatus,
       |  CASE WHEN ingest_id = $FlipId THEN o_totalprice + 1
       |    ELSE o_totalprice END AS o_totalprice,
       |  o_orderdate, o_orderpriority
       |FROM v1 ORDER BY ingest_id""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root)).read("orders_ingest")
      .orderBy("ingest_id")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] = Seq(optimizeInvariance)
}

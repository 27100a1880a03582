package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot

/** [EXT] gate-visible `replaceWhere` partition reload (the Delta
  * dynamic-range-overwrite shape; see [[Catalog.Tx.replaceWhere]] and
  * StoreSpec's file-level properties): version 1 loads an orders slice
  * with a CORRUPTED middle key range (every `o_totalprice` in
  * [[RepLo]]..[[RepHi]] zeroed — the bad-loader tick), version 2 is ONE
  * `replaceWhere` reloading exactly that range from source. The gate
  * query reads the MAINTAINED table; the DuckDB oracle — blind to the
  * store — is simply the raw fixture slice. A replaceWhere that fails to
  * replace (stale zeros survive), deletes beyond its range (rows
  * vanish), or smuggles rows outside it goes hash-red. The file-level
  * half (untouched files survive by reference; disjoint-range loaders
  * commit concurrently under file-level OCC) is StoreSpec territory —
  * this row makes the VALUE contract oracle-checked.
  *
  * At 100 TB this is the nightly partition-reload primitive: cost is
  * the hit partition's files + the new data, never the table.
  */
object ReplaceFeed {

  private val SliceMax = 4000L
  private val RepLo = 1000L
  private val RepHi = 2000L

  private val Root = "graft_rw_root"

  private val prepared = new PreparedTables(
    Seq("orders.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_rw_root (v${cat.version}) survived fixture prep")
    val src = Tables.orders(s, d).filter(col("o_orderkey") <= SliceMax)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    val corrupted = src.withColumn("o_totalprice",
      when(col("o_orderkey").between(RepLo, RepHi), lit(0.0))
        .otherwise(col("o_totalprice")))
    cat.append("orders_ingest", corrupted, orderBy = Seq("o_orderkey"))
    cat.replaceWhere("orders_ingest", "o_orderkey", RepLo, RepHi,
      src.filter(col("o_orderkey").between(RepLo, RepHi)))
    require(cat.version == 2L,
      s"fixture root ended at v${cat.version}, expected 2")
  }

  val replaceWhereReload: Q = Q(
    "ext_store_replace_where",
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |  o_orderdate, o_orderpriority
       |FROM orders WHERE o_orderkey <= $SliceMax
       |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root)).read("orders_ingest")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .orderBy("o_orderkey")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] = Seq(replaceWhereReload)
}

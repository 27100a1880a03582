package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot

/** [EXT] gate-visible shallow clone ([[Catalog.cloneTable]]; CloneSpec
  * holds the file-level properties): version 1 loads an orders slice,
  * version 2 SHALLOW-CLONES it (zero copy — the clone references the
  * source's files), then the SOURCE is mutated twice (a COW update
  * zeroing a price range, then an append of extra rows) and vacuumed at
  * retain=0 — the hostile sequence for a snapshot: the update kills the
  * shared file for the source, the vacuum tries to reclaim it, and only
  * root-wide liveness keeps the clone readable. The gate query reads the
  * CLONE; the oracle — blind to the store — is the raw fixture slice,
  * i.e. the pre-mutation snapshot. A clone that sees through to the
  * mutated source, loses rows to the vacuum, or drifts in schema goes
  * hash-red.
  *
  * At 100 TB this is the reproducibility primitive: freeze the exact
  * training-set table an experiment read, at zero storage cost, while
  * the live table keeps ingesting.
  */
object CloneFeed {

  private val SliceMax = 3000L

  private val Root = "graft_clone_root"

  private val prepared = new PreparedTables(
    Seq("orders.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_clone_root (v${cat.version}) survived fixture prep")
    val src = Tables.orders(s, d).filter(col("o_orderkey") <= SliceMax)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    cat.append("orders_ingest", src, orderBy = Seq("o_orderkey"))
    cat.cloneTable("orders_ingest", "orders_frozen")
    // mutate the SOURCE: COW rewrite (kills the shared file for the
    // source) + an append (id high-water moves past the clone's)
    cat.update("orders_ingest", col("o_orderkey") <= SliceMax / 2,
      Map("o_totalprice" -> lit(0.0)))
    cat.append("orders_ingest",
      src.filter(col("o_orderkey") <= 100)
        .withColumn("o_orderstatus", lit("X")))
    // the reclaim attempt: only root-wide liveness keeps the clone's
    // file alive at retain=0
    val reclaimed = cat.vacuum("orders_ingest", retainMillis = 0L)
    require(reclaimed == 0,
      s"vacuum reclaimed $reclaimed file(s) the clone references")
    require(cat.version == 4L,
      s"fixture root ended at v${cat.version}, expected 4")
  }

  val cloneSnapshot: Q = Q(
    "ext_store_clone",
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |  o_orderdate, o_orderpriority
       |FROM orders WHERE o_orderkey <= $SliceMax
       |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    new Catalog(s, storeRoot(s, Root)).read("orders_frozen")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .orderBy("o_orderkey")
  }.copy(setup = Some(ensurePrepared _))

  val all: Seq[Q] = Seq(cloneSnapshot)
}

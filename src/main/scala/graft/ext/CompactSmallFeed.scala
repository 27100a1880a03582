package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot

/** [EXT] selective small-file compaction made gate-visible (round 18,
  * [[graft.store.Catalog.Tx.compactSmall]] — the Delta bin-packing
  * `OPTIMIZE` / auto-compaction analogue): the fixture lands one large
  * append (600 rows) plus six 100-row appends — the one-file-group-
  * per-micro-batch debris a streaming sink mints — and a merge-on-read
  * point update (a DV on one small file plus a 1-row patch file), then
  * folds ONLY the sub-threshold files into one id-sorted bin. The gate
  * reads the maintained table against a raw-fixture oracle that
  * replays the DATA commits, so a row lost, duplicated, re-id'd, or
  * value-corrupted by the fold — or a DV image dropped with its
  * sidecar — goes hash-red. The layout claims the oracle cannot see
  * (large file carried by REFERENCE, candidates chosen from
  * manifest-resident row counts with zero storage stats, folded bin
  * DV-free, no-op staging nothing) are pinned by StoreSpec and the
  * streaming-sink hook by StoreStreamSpec.
  *
  * At 100 TB this is the maintenance pass that can actually be
  * SCHEDULED: [[graft.store.Catalog.Tx.compact]] costs O(table bytes)
  * per run, this costs O(small-file bytes) — the debris itself — and
  * its OCC read set equals its removed set, so it reconciles against
  * the live ingest instead of serializing it. */
object CompactSmallFeed {

  private val BigMax = 600L    // append 1: (0, 600] — one large group
  private val SliceW = 100L    // appends 2..7: 100-row small groups
  private val SliceMax = 1200L
  private val FlipId = 777L    // lives in small slice 2

  private val Root = "graft_csmall_root"

  private val prepared = new PreparedTables(
    Seq("orders.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_csmall_root (v${cat.version}) survived fixture prep")
    val src = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    cat.append("orders_ingest",
      src.filter(col("o_orderkey") > 0 && col("o_orderkey") <= BigMax),
      orderBy = Seq("o_orderkey"))
    (1 to 6).foreach { i =>
      cat.append("orders_ingest",
        src.filter(col("o_orderkey") > BigMax + (i - 1) * SliceW &&
          col("o_orderkey") <= BigMax + i * SliceW),
        orderBy = Seq("o_orderkey"))
    }
    // merge-on-read point update: a DV lands on one small file and the
    // patched image is itself one more small file the fold must absorb
    cat.update("orders_ingest", col("ingest_id") === FlipId,
      Map("o_orderstatus" -> lit("X"),
        "o_totalprice" -> (col("o_totalprice") + 1)))
    val before = cat.liveFiles("orders_ingest").size
    // every 100-row group + the DV'd group's live remainder + the patch
    // file is a candidate; the 600-row group must NOT be
    val folded = cat.compactSmall("orders_ingest", smallRows = 150L,
      targetRows = 600L)
    require(folded >= 7,
      s"expected the 6 small groups + the patch file to fold, got $folded")
    val after = cat.liveFiles("orders_ingest").size
    require(after < before,
      s"fold must shrink the live file set: $before -> $after")
    require(cat.version == 9L,
      s"compactSmall fixture ended at v${cat.version}, expected 9")
  }

  val autocompactInvariance: Q = Q(
    "ext_store_autocompact",
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

  val all: Seq[Q] = Seq(autocompactInvariance)
}

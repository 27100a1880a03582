package graft

import graft.ext.IndexMaintain

/** Incremental-equals-rebuild pins for the store-maintained LSH index:
  * the staged v1 must be genuinely stale, the merge tick must repair it
  * row-for-row, and the final table must equal an in-memory rebuild
  * from the raw fixture (the gate row proves the same through the
  * candidate-pair query + DuckDB oracle).
  */
class IndexMaintainSpec extends SparkSuite {

  private def asTuples(df: org.apache.spark.sql.DataFrame) =
    df.select("idx_key", "doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
      .toSet

  test("incrementally-maintained index equals a from-scratch rebuild " +
    "row-for-row, and version 1 was genuinely stale") {
    IndexMaintain.ensurePrepared(spark, sf)
    val truth = asTuples(IndexMaintain.bandRows(spark,
      graft.core.Tables.documents(spark, sf).select("doc_id", "text")))
    val maintained = asTuples(IndexMaintain.readIndex(spark))
    assert(maintained == truth,
      s"incremental index diverged from rebuild: " +
        s"${(maintained -- truth).take(3)} extra, " +
        s"${(truth -- maintained).take(3)} missing")

    // v1 staleness: the overlap slice's band keys must differ from truth
    // for at least one doc (otherwise the merge-update path is untested)
    val root = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
      .stripSuffix("/") + "/graft_index_root"
    val cat = new graft.store.Catalog(spark, root)
    assert(cat.version == 2L, s"expected 2 ingest ticks, got ${cat.version}")
    val v1 = asTuples(cat.readAt("lsh_index", 1L))
    val staleRows = v1 -- truth
    assert(staleRows.nonEmpty,
      "v1 must hold stale band keys the merge then repairs")
    assert(staleRows.forall { case (_, docId, _, _) =>
      docId > IndexMaintain.OverlapLo && docId <= IndexMaintain.D1 },
      "staleness must be confined to the overlap slice")
    // v1 covers exactly the batch-1 universe (4 rows per indexed doc)
    assert(v1.map(_._2).forall(_ <= IndexMaintain.D1))
  }

  test("IVF cell index: incrementally-maintained equals a from-scratch " +
    "reassignment, and version 1 was genuinely stale") {
    IndexMaintain.ensureIvfPrepared(spark, sf)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val truth = cells(IndexMaintain.cellRowsAt(spark, sf))
    val maintained = cells(IndexMaintain.readIvfIndex(spark))
    assert(maintained == truth,
      s"incremental IVF index diverged from rebuild: " +
        s"${(maintained.toSet -- truth.toSet).take(3)} extra, " +
        s"${(truth.toSet -- maintained.toSet).take(3)} missing")
    val root = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
      .stripSuffix("/") + "/graft_ivf_index_root"
    val cat = new graft.store.Catalog(spark, root)
    assert(cat.version == 2L, s"expected 2 ingest ticks, got ${cat.version}")
    val v1 = cells(cat.readAt("ivf_index", 1L))
    val staleKeys = v1.filter { case (id, c) => truth(id) != c }.keySet
    assert(staleKeys.nonEmpty,
      "v1 must hold stale cell assignments the merge then repairs")
    assert(staleKeys.forall(id =>
      id > IndexMaintain.OverlapLoV && id <= IndexMaintain.D1V),
      "staleness must be confined to the overlap slice")
    assert(v1.keySet.forall(_ <= IndexMaintain.D1V))
  }
}

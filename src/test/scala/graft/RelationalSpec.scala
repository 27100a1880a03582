package graft

import org.apache.spark.sql.functions._

import graft.ops.{Relational, TpchStyle}

/** Semantics of the reference-parity operators (SURVEY §2) on the driver
  * fixtures — the DuckDB gate checks value equality; these specs pin the
  * *decisions* (left-preservation, zero-vs-NULL, determinism of "newest").
  */
class RelationalSpec extends SparkSuite {

  test("J3 latest-per-group is left-preserving: parents without children " +
    "survive with NULLs (db.py:386-390 semantics)") {
    val out = Relational.j3LatestPerGroup.fn(spark, sf)
    val orders = graft.core.Tables.orders(spark, sf).count()
    assert(out.count() == orders, "one row per order, no inner-join loss")
    // fixture guarantees every order has lineitems? if not, NULLs remain
    val schema = out.schema
    assert(schema("last_ship").nullable)
  }

  test("J4 dedup keeps exactly the max id per (user, event_type)") {
    val out = Relational.j4DedupLatest.fn(spark, sf).collect()
    val byKey = out.groupBy(r => (r.getLong(0), r.getString(1)))
    assert(byKey.forall(_._2.length == 1), "one row per key")
    val expect = graft.core.Tables.events(spark, sf)
      .groupBy("user_id", "event_type").agg(max("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    out.foreach { r =>
      assert(r.getLong(2) == expect((r.getLong(0), r.getString(1))))
    }
  }

  test("A2 SUM over empty input yields 0.0, not NULL (db.py:361-367)") {
    val row = Relational.a2SumCoalesceEmpty.fn(spark, sf).collect()(0)
    assert(!row.isNullAt(0) && row.getDouble(0) == 0.0)
  }

  test("O4 'newest' is deterministic max(key), not insertion order " +
    "(app.py:290 defect decision)") {
    val newest = Relational.o4NewestKey.fn(spark, sf).collect()(0).getLong(0)
    val expected = graft.core.Tables.events(spark, sf)
      .agg(max("event_id")).collect()(0).getLong(0)
    assert(newest == expected)
  }

  test("q1 aggregates are partition-count invariant (decimal-exact sums)") {
    val a = TpchStyle.q1.fn(spark, sf).collect()
    val b = TpchStyle.q1.fn(spark, sf).repartition(7).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key exists in queries") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
}

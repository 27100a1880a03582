package graft.store

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** SQL DML through the DSv2 door ([[graft.store.sql.GraftSqlDmlRule]]):
  * `UPDATE` / `DELETE FROM` / `MERGE INTO` as pure SQL text must hit
  * the SAME transactional engine paths as the Scala API — equal final
  * states, merge-on-read deletion vectors for point updates, CHECK
  * constraints enforced, changefeed pairing intact — and every
  * out-of-contract shape must fail loudly, never silently bend. */
class SqlDmlSpec extends SparkSuite {

  private var n = 0

  /** A fresh mutable store root + its own catalog name (DML mutates;
    * Spark caches one catalog instance per name, so names are unique
    * per root). Three appends = three files with disjoint id ranges. */
  private def freshRoot(): (String, String) = {
    n += 1
    val catName = s"gdml$n"
    val dir = Files.createTempDirectory(s"graft-sqldml$n").toString
    val cat = new Catalog(spark, dir)
    val ev = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    cat.append("events_ingest", ev.filter(col("event_id") <= 100),
      orderBy = Seq("event_id"))
    cat.append("events_ingest",
      ev.filter(col("event_id") > 100 && col("event_id") <= 200),
      orderBy = Seq("event_id"))
    cat.append("events_ingest",
      ev.filter(col("event_id") > 200 && col("event_id") <= 300),
      orderBy = Seq("event_id"))
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.store.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.root", dir)
    (dir, catName)
  }

  private def state(root: String): Seq[String] =
    new Catalog(spark, root).read("events_ingest")
      .orderBy("ingest_id").collect().map(_.toString).toSeq

  private def dataFiles(root: String): Map[String, Long] = {
    val walk = Files.walk(Paths.get(root))
    try walk.filter(p => p.toString.endsWith(".parquet") &&
        !p.toString.contains("_log"))
      .toArray.map(_.asInstanceOf[Path])
      .map(p => p.toString -> Files.size(p)).toMap
    finally walk.close()
  }

  test("SQL UPDATE equals the Scala API update — same predicate, same " +
    "assignments, same final state on twin roots") {
    val (sqlRoot, c) = freshRoot()
    val (apiRoot, _) = freshRoot()
    spark.sql(s"UPDATE $c.events_ingest SET value = value * 2, " +
      "event_type = 'bulk' WHERE event_type = 'click' AND user_id % 2 = 0")
    new Catalog(spark, apiRoot).update("events_ingest",
      col("event_type") === "click" && pmod(col("user_id"), lit(2)) === 0,
      Map("value" -> (col("value") * 2), "event_type" -> lit("bulk")))
    assert(state(sqlRoot) == state(apiRoot))
  }

  test("a point SQL UPDATE lands merge-on-read: every pre-existing data " +
    "file byte-identical on disk, a _dv sidecar appears, and the " +
    "changefeed pairs the update") {
    val (root, c) = freshRoot()
    val cat = new Catalog(spark, root)
    val before = dataFiles(root)
    val v0 = cat.version
    spark.sql(s"UPDATE $c.events_ingest SET event_type = 'flip', " +
      "value = value * 10 WHERE ingest_id = 150")
    val after = dataFiles(root)
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz),
        s"pre-existing file $p was rewritten by a point update")
    }
    assert(Files.list(Paths.get(root, "_dv")).count() >= 1,
      "point update did not write a deletion-vector sidecar")
    val feed = cat.changesWithUpdates("events_ingest", v0, v0 + 1)
      .orderBy("_change_type").collect()
    assert(feed.length == 2)
    assert(feed.map(_.getAs[String]("_change_type")).toSeq ==
      Seq("update_postimage", "update_preimage"))
    assert(feed.forall(_.getAs[Long]("ingest_id") == 150L))
  }

  test("SQL DELETE returns the deleted count and equals the Scala " +
    "API delete; an arbitrary (non-source-Filter) predicate works") {
    val (sqlRoot, c) = freshRoot()
    val (apiRoot, _) = freshRoot()
    val nSql = spark.sql(s"DELETE FROM $c.events_ingest " +
      "WHERE substr(event_type, 1, 1) = 'c'")
      .collect()(0).getAs[Long]("num_affected_rows")
    val nApi = new Catalog(spark, apiRoot).delete("events_ingest",
      substring(col("event_type"), 1, 1) === "c")
    assert(nSql == nApi && nSql > 0)
    assert(state(sqlRoot) == state(apiRoot))
  }

  test("SQL MERGE star upsert equals Catalog.merge: matched rows " +
    "rewrite from the source, unmatched insert with fresh dense ids, " +
    "counts returned") {
    val (sqlRoot, c) = freshRoot()
    val (apiRoot, _) = freshRoot()
    val src = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > 280 && col("event_id") <= 320)
      .withColumn("event_type", lit("merged"))
    src.withColumn("ingest_id", lit(null).cast("bigint"))
      .createOrReplaceTempView("sqldml_src")
    val row = spark.sql(
      s"""MERGE INTO $c.events_ingest t USING sqldml_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    val (nUpd, nIns) = new Catalog(spark, apiRoot)
      .merge("events_ingest", src, "event_id")
    assert(row.getAs[Long]("num_updated_rows") == nUpd && nUpd > 0)
    assert(row.getAs[Long]("num_inserted_rows") == nIns && nIns > 0)
    assert(state(sqlRoot) == state(apiRoot))
  }

  test("CHECK constraints validate SQL DML post-images: a violating " +
    "UPDATE fails and commits nothing") {
    val (root, c) = freshRoot()
    val cat = new Catalog(spark, root)
    cat.addCheck("events_ingest", "positive_value", "value >= 0")
    val v = cat.version
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $c.events_ingest SET value = -1 " +
        "WHERE ingest_id = 10")
    }
    assert(e.getMessage != null && e.getMessage.contains("positive_value"))
    assert(cat.version == v, "violating UPDATE left a commit behind")
  }

  test("out-of-contract shapes fail loudly with pointed messages") {
    val (_, c) = freshRoot()
    graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") <= 5)
      .withColumn("ingest_id", lit(null).cast("bigint"))
      .createOrReplaceTempView("sqldml_src")
    def msgOf(sql: String): String =
      intercept[Exception](spark.sql(sql)).getMessage

    assert(msgOf(s"UPDATE $c.events_ingest SET ingest_id = 5 " +
      "WHERE event_id = 1").contains("engine-assigned"))
    assert(msgOf(s"DELETE FROM $c.events_ingest WHERE ingest_id IN " +
      s"(SELECT ingest_id FROM $c.events_ingest WHERE value > 5)")
      .contains("subqueries"))
    assert(msgOf(s"UPDATE $c.events_ingest SET value = rand() " +
      "WHERE ingest_id = 1").contains("non-deterministic"))
    // ...and non-deterministic SET expressions stay loud
    assert(msgOf(
      s"""MERGE INTO $c.events_ingest t USING sqldml_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET value = rand()
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .contains("non-deterministic"))
    // reassigning the MERGE KEY via a SET expression fails loudly —
    // round-17 regression guard: the subset-SET acceptance must not
    // swallow it after the fact (the statement would "succeed" while
    // silently ignoring the assignment)
    assert(msgOf(
      s"""MERGE INTO $c.events_ingest t USING sqldml_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET event_id = s.user_id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .contains("merge key"))
    // ...same for an expression landing on the surrogate id
    assert(msgOf(
      s"""MERGE INTO $c.events_ingest t USING sqldml_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET ingest_id = s.event_id + 1
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .contains("engine-assigned"))
    // the INSERT branch must still cover every non-id column
    assert(msgOf(
      s"""MERGE INTO $c.events_ingest t USING sqldml_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET value = s.value
         |WHEN NOT MATCHED THEN INSERT (event_id, value)
         |  VALUES (s.event_id, s.value)""".stripMargin)
      .contains("every non-id column"))
    assert(msgOf(
      s"""MERGE INTO $c.events_ingest t USING sqldml_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED AND s.value > 0 THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .contains("unconditional"))
    assert(msgOf(
      s"""MERGE INTO $c.events_ingest t USING sqldml_src s
         |ON t.event_id < s.event_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .contains("same"))
  }

  test("partial-SET MERGE (round 16): only the SET columns rewrite " +
    "from the source, un-SET columns keep their TARGET values, the SQL " +
    "door equals the Scala API, and mixed post-images are " +
    "CHECK-validated") {
    val (sqlRoot, c) = freshRoot()
    val (apiRoot, _) = freshRoot()
    val src = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > 280 && col("event_id") <= 320)
      .withColumn("event_type", lit("SHOULD_NOT_LAND_ON_MATCHED"))
      .withColumn("value", col("value") + 1000)
    src.withColumn("ingest_id", lit(null).cast("bigint"))
      .createOrReplaceTempView("sqldml_partial_src")
    val row = spark.sql(
      s"""MERGE INTO $c.events_ingest t USING sqldml_partial_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET value = s.value
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    val (nUpd, nIns) = new Catalog(spark, apiRoot)
      .merge("events_ingest", src, "event_id",
        matchedCols = Some(Map("value" -> "value")))
    assert(row.getAs[Long]("num_updated_rows") == nUpd && nUpd > 0)
    assert(row.getAs[Long]("num_inserted_rows") == nIns && nIns > 0)
    assert(state(sqlRoot) == state(apiRoot))
    val cat = new Catalog(spark, sqlRoot)
    // matched rows (event_id <= 300 slice of the fixture) kept their
    // original event_type and everything else except value
    val matchedRows = cat.read("events_ingest")
      .filter(col("event_id") > 280 && col("event_id") <= 300)
    assert(matchedRows.filter(
      col("event_type") === "SHOULD_NOT_LAND_ON_MATCHED").count() == 0,
      "partial SET leaked a non-SET column onto matched rows")
    assert(matchedRows.filter(col("value") >= 1000).count() ==
      matchedRows.count(), "partial SET did not rewrite the SET column")
    // inserts took the FULL source row
    assert(cat.read("events_ingest")
      .filter(col("event_type") === "SHOULD_NOT_LAND_ON_MATCHED")
      .count() == nIns)
    // CHECK over a MIXED image: constraint relates a target-kept column
    // to the SET column — source-only validation could not see it
    val (chkRoot, cc) = freshRoot()
    val chkCat = new Catalog(spark, chkRoot)
    chkCat.addCheck("events_ingest", "value_cap", "value < 900")
    val v0 = chkCat.version
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cc.events_ingest t USING sqldml_partial_src s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = s.value
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("value_cap"), e.getMessage)
    assert(chkCat.version == v0, "violating partial merge left a commit")
  }

  test("partial-SET merge validates the LANDED images, not the raw " +
    "source: a source value that violates a CHECK must not abort a " +
    "merge whose SET expression lands a valid value") {
    val (root, c) = freshRoot()
    val cat = new Catalog(spark, root)
    cat.addCheck("events_ingest", "value_cap", "value < 900")
    // matched-only source (keys <= 300 all exist); raw value = 5000
    // violates the cap, but SET value = s.value / 10 lands 500 — valid
    graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > 290 && col("event_id") <= 300)
      .withColumn("value", lit(5000.0))
      .withColumn("ingest_id", lit(null).cast("bigint"))
      .createOrReplaceTempView("sqldml_landed_src")
    val row = spark.sql(
      s"""MERGE INTO $c.events_ingest t USING sqldml_landed_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET value = s.value / 10
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    assert(row.getAs[Long]("num_updated_rows") > 0)
    assert(row.getAs[Long]("num_inserted_rows") == 0)
    val landed = cat.read("events_ingest")
      .filter(col("event_id") > 290 && col("event_id") <= 300)
    assert(landed.filter(col("value") =!= 500.0).count() == 0,
      "SET expression value did not land")
    // INSERT rows are still raw source rows — a violating insert keeps
    // failing loudly even under a partial SET (validated by append)
    graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > 300 && col("event_id") <= 305)
      .withColumn("value", lit(5000.0))
      .withColumn("ingest_id", lit(null).cast("bigint"))
      .createOrReplaceTempView("sqldml_landed_ins")
    val v1 = cat.version
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $c.events_ingest t USING sqldml_landed_ins s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = s.value / 10
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("value_cap"), e.getMessage)
    assert(cat.version == v1, "violating insert branch left a commit")
  }

  test("target-reading MERGE SET (round 17): SET value = t.value + " +
    "s.value lands old+delta on matched rows through BOTH doors, " +
    "un-SET columns keep target values, inserts take the raw source") {
    val (sqlRoot, c) = freshRoot()
    val (apiRoot, _) = freshRoot()
    val src = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > 280 && col("event_id") <= 320)
      .withColumn("event_type", lit("delta"))
      .withColumn("value", lit(7.0))
    src.withColumn("ingest_id", lit(null).cast("bigint"))
      .createOrReplaceTempView("sqldml_pair_src")
    val beforeVals = new Catalog(spark, sqlRoot).read("events_ingest")
      .filter(col("event_id") > 280 && col("event_id") <= 300)
      .select("event_id", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // SQL door: a pair expression + a same-named pass-through mixed
    val row = spark.sql(
      s"""MERGE INTO $c.events_ingest t USING sqldml_pair_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET value = t.value + s.value,
         |  event_type = s.event_type
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    // Scala door: same semantics via merge(matchedCols, matchedExprs)
    val (nUpd, nIns) = new Catalog(spark, apiRoot)
      .merge("events_ingest", src, "event_id",
        matchedCols = Some(Map("event_type" -> "event_type")),
        matchedExprs = Map("value" -> "t.value + s.value"))
    assert(row.getAs[Long]("num_updated_rows") == nUpd && nUpd > 0)
    assert(row.getAs[Long]("num_inserted_rows") == nIns && nIns > 0)
    assert(state(sqlRoot) == state(apiRoot))
    val after = new Catalog(spark, sqlRoot).read("events_ingest")
      .filter(col("event_id") > 280 && col("event_id") <= 300)
      .select("event_id", "value", "event_type", "user_id").collect()
    after.foreach { r =>
      assert(r.getDouble(1) == beforeVals(r.getLong(0)) + 7.0,
        s"matched row ${r.getLong(0)}: expected old+7, got ${r.getDouble(1)}")
      assert(r.getString(2) == "delta")
    }
    // inserts took the raw source row (value = 7.0, not old+7)
    assert(new Catalog(spark, sqlRoot).read("events_ingest")
      .filter(col("event_id") > 300).filter(col("value") =!= 7.0)
      .count() == 0)
  }

  test("target-reading MERGE SET under COPY-ON-WRITE lands the same " +
    "state as merge-on-read") {
    val (morRoot, _) = freshRoot()
    val (cowRoot, _) = freshRoot()
    val src = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > 280 && col("event_id") <= 320)
      .withColumn("value", lit(3.5))
    new Catalog(spark, morRoot).merge("events_ingest", src, "event_id",
      matchedExprs = Map("value" -> "t.value + s.value"))
    spark.conf.set("spark.graft.store.mergeOnRead", "off")
    try new Catalog(spark, cowRoot).merge("events_ingest", src, "event_id",
      matchedExprs = Map("value" -> "t.value + s.value"))
    finally spark.conf.unset("spark.graft.store.mergeOnRead")
    assert(state(morRoot) == state(cowRoot))
  }

  test("target-reading SET expressions: loud contracts (unqualified " +
    "refs, unknown columns, non-determinism, key/id assignment) and " +
    "CHECK validation on the landed mixed image") {
    val (root, _) = freshRoot()
    val cat = new Catalog(spark, root)
    val src = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") > 290 && col("event_id") <= 300)
      .withColumn("value", lit(7.0))
    def msg(body: => Unit): String = intercept[Exception](body).getMessage
    assert(msg(cat.merge("events_ingest", src, "event_id",
      matchedExprs = Map("value" -> "value + 1")))
      .contains("t.<col>"))
    assert(msg(cat.merge("events_ingest", src, "event_id",
      matchedExprs = Map("value" -> "t.nope + s.value")))
      .contains("not a column"))
    assert(msg(cat.merge("events_ingest", src, "event_id",
      matchedExprs = Map("value" -> "t.value + s.nope")))
      .contains("not in the merge source"))
    assert(msg(cat.merge("events_ingest", src, "event_id",
      matchedExprs = Map("value" -> "t.value + rand()")))
      .contains("deterministic"))
    assert(msg(cat.merge("events_ingest", src, "event_id",
      matchedExprs = Map("event_id" -> "t.event_id + 1")))
      .contains("merge key"))
    assert(msg(cat.merge("events_ingest", src, "event_id",
      matchedCols = Some(Map("value" -> "value")),
      matchedExprs = Map("value" -> "t.value + s.value")))
      .contains("both"))
    // CHECK on the landed image: old+7000 breaches the cap -> abort
    cat.addCheck("events_ingest", "value_cap", "value < 9000")
    val v0 = cat.version
    val e = intercept[Exception] {
      cat.merge("events_ingest", src.withColumn("value", lit(9000.0)),
        "event_id", matchedExprs = Map("value" -> "t.value + s.value"))
    }
    assert(e.getMessage.contains("value_cap"), e.getMessage)
    assert(cat.version == v0, "violating target-reading merge committed")
    // ...while a landed-valid image passes even though the raw source
    // column (9000) violates the cap on its face
    val (n2, _) = cat.merge("events_ingest",
      src.withColumn("value", lit(9000.0)), "event_id",
      matchedExprs = Map("value" -> "t.value + s.value / 100"))
    assert(n2 > 0)
  }

  test("target-reading MERGE SET under OCC: a concurrent rewrite of " +
    "the matched slice aborts the in-flight merge, and the retried " +
    "convenience recomputes t.value against the WINNER's state") {
    val (root, _) = freshRoot()
    val cat = new Catalog(spark, root)
    val src = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") === 150)
      .withColumn("value", lit(5.0))
    val base = cat.read("events_ingest")
      .filter(col("event_id") === 150)
      .select("value").collect()(0).getDouble(0)
    intercept[Catalog.ConcurrentWriteException] {
      cat.transaction { tx =>
        tx.merge("events_ingest", src, "event_id",
          matchedExprs = Map("value" -> "t.value + s.value"))
        // concurrent winner rewrites the same key before the tx commits
        cat.update("events_ingest", col("event_id") === 150,
          Map("value" -> lit(1000.0)))
      }
    }
    // the retried convenience re-reads t.value from the winner: 1005
    cat.merge("events_ingest", src, "event_id",
      matchedExprs = Map("value" -> "t.value + s.value"))
    val got = cat.read("events_ingest").filter(col("event_id") === 150)
      .select("value").collect()(0).getDouble(0)
    assert(got == 1005.0,
      s"expected winner-based 1005.0 (not ${base + 5.0}), got $got")
  }

  test("a MERGE source carrying non-NULL surrogate ids fails loudly " +
    "instead of silently reassigning") {
    val (_, c) = freshRoot()
    graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") <= 5)
      .withColumn("ingest_id", col("event_id") + 1000)
      .createOrReplaceTempView("sqldml_src_badid")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $c.events_ingest t USING sqldml_src_badid s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("engine-assigned"))
  }

  test("DML against non-graft relations stays on Spark's own code path") {
    freshRoot() // ensure the rule is installed and exercised
    graft.core.Tables.events(spark, sf).limit(5)
      .createOrReplaceTempView("sqldml_plainview")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM sqldml_plainview WHERE event_id = 1")
    }
    assert(!String.valueOf(e.getMessage).contains("graft SQL DML"),
      s"foreign-table DML was intercepted: ${e.getMessage}")
  }
}

package graft

import java.sql.Timestamp

import graft.ext.{InvertedIndex, Profiling}

/** Specs for the profiling/split ops and the positional inverted index —
  * planted-fixture semantics plus the plan shapes the oracle can't see.
  */
class ProfilingIndexSpec extends SparkSuite {
  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  import spark.implicits._

  test("profile: planted nulls/duplicates are counted exactly, and money " +
    "min/max render as integer cents") {
    val dir = tmpDir("graft_test_prof")
    Seq(
      (1L, Option(10L), Option("O"), Option(12.34),
        Option(Timestamp.valueOf("2024-01-02 03:04:05")), Option("1-URGENT")),
      (2L, Option(10L), None, Option(99.99),
        Option(Timestamp.valueOf("2024-06-07 08:09:10")), Option("1-URGENT")),
      (3L, None, Option("F"), None, None, Option("2-HIGH"))
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = Profiling.profileTable.fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5))).toMap
    assert(out("o_orderkey") == ((3L, 0L, 3L, "1", "3")))
    assert(out("o_custkey") == ((3L, 1L, 1L, "10", "10")))
    assert(out("o_orderstatus") == ((3L, 1L, 2L, "F", "O")))
    // 12.34 -> 1234 cents; 99.99 -> 9999 cents (never a double rendering)
    assert(out("o_totalprice") == ((3L, 1L, 2L, "1234", "9999")))
    assert(out("o_orderdate")._4 == "2024-01-02 03:04:05")
    assert(out("o_orderpriority") == ((3L, 0L, 2L, "1-URGENT", "2-HIGH")))
  }

  test("profile plan: ONE pass over orders — a single scan feeding an " +
    "Expand-based multi-distinct aggregate, no join, no self-union") {
    val plan = Profiling.profileTable.fn(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"profile must scan orders once, saw $scans:\n$plan")
    assert(plan.contains("Expand"),
      s"multi-distinct must plan via Expand (single pass):\n$plan")
    assert(!plan.contains("Join"), s"profile must not join:\n$plan")
  }

  test("split: assignment is exhaustive, disjoint, deterministic, and " +
    "val/test land near their 1% targets") {
    val docs = graft.core.Tables.documents(spark, sf)
    val audited = Profiling.splitAssign.fn(spark, sf).collect()
    val total = audited.map(_.getLong(2)).sum
    assert(total == docs.count(),
      "every document must receive exactly one split label")
    val bySplit = audited.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    val n = total.toDouble
    // md5 is uniform: 1% bands at n=500 can swing, so assert loose caps
    assert(bySplit.getOrElse("test", 0L) < n * 0.05, s"test too big: $bySplit")
    assert(bySplit.getOrElse("val", 0L) < n * 0.05, s"val too big: $bySplit")
    assert(bySplit("train") > n * 0.9, s"train too small: $bySplit")
    // determinism: a second run assigns identically
    val again = Profiling.splitAssign.fn(spark, sf).collect()
    assert(audited.toSeq == again.toSeq, "split assignment must be stable")
  }

  test("phrase: overlapping and repeated occurrences count exactly, " +
    "and order matters (no bag-of-words match)") {
    val dir = tmpDir("graft_test_phrase")
    Seq(
      (1L, "data window data window x", "en", "s", 25L), // 2 matches
      (2L, "data data window", "en", "s", 16L), // 1 (second bigram)
      (3L, "window data", "en", "s", 11L), // 0: wrong order
      (4L, "data window", "en", "s", 11L), // 1
      (5L, "data x window", "en", "s", 13L) // 0: not adjacent
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = InvertedIndex.phraseSearch.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L, 4L -> 1L),
      s"phrase match counts wrong: $out")
  }

  test("phrase plan: the query reads ONLY the two query tokens' postings " +
    "partitions and never rescans documents") {
    InvertedIndex.ensurePrepared(spark, sf)
    val df = InvertedIndex.phraseSearch.fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"phrase query must not scan documents:\n$plan")
    // partition pruning: each postings scan carries a token partition
    // filter and reads exactly one of the vocabulary's partitions
    // sparkPlan, not executedPlan: AQE wraps the latter in an adaptive
    // root whose children are not visible to collect()
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected FileSourceScan over graft_postings")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"postings scan must partition-prune on token: $f")
      assert(f.selectedPartitions.partitionCount == 1,
        s"each token lookup must read exactly 1 partition, " +
          s"read ${f.selectedPartitions.partitionCount}")
    }
  }
}

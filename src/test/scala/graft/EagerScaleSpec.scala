package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.core.Eager.EagerCheckpoint

/** Pins the round-20 size-gated checkpoint helper: below the input-byte
  * gate it must be an exact no-op (same Dataset — zero barrier at
  * fixture scale, the bench-protecting half of the contract); above it
  * the result must be a materialized LogicalRDD (lineage cut — the
  * 100 TB half). The gate reads LEAF stats, so a selective filter on a
  * large input still checkpoints. */
class EagerScaleSpec extends SparkSuite {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  private val gateKey = "spark.graft.checkpoint.minInputBytes"

  /** Run `body` with the gate at `bytes`, restoring the previous value. */
  private def withGate[A](bytes: Long)(body: => A): A = {
    val prev = spark.conf.getOption(gateKey)
    spark.conf.set(gateKey, bytes.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(gateKey, v)
      case None => spark.conf.unset(gateKey)
    }
  }

  /** Release the blocks of a frame THIS spec checkpointed — and only
    * those: the session is shared with other suites. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }

  private def fixtureBytes: Long = java.nio.file.Files.walk(
      java.nio.file.Paths.get(s"$sf/documents.parquet")).toArray
    .map(_.asInstanceOf[java.nio.file.Path])
    .filter(java.nio.file.Files.isRegularFile(_))
    .map(java.nio.file.Files.size).sum

  private def defaultSize: BigInt =
    BigInt(spark.sessionState.conf.defaultSizeInBytes)

  test("below the gate: no-op, same Dataset") {
    val df = docs.select("doc_id")
    val out = df.eagerCheckpointAtScale() // default gate 8 GiB >> fixture
    assert(out eq df)
  }

  test("above the gate: checkpointed to a LogicalRDD") {
    withGate(1L) {
      val df = docs.select("doc_id").filter("doc_id >= 0")
      val out = df.eagerCheckpointAtScale()
      try {
        assert(out ne df)
        assert(out.queryExecution.analyzed.isInstanceOf[LogicalRDD])
        assert(out.count() == df.count())
      } finally release(out)
    }
  }

  test("gate reads leaf input stats, not output estimates") {
    // set the gate well above the fixture file size: still a no-op
    withGate(fixtureBytes * 100) {
      val df = docs.select("doc_id")
      assert(df.eagerCheckpointAtScale() eq df)
    }
  }

  test("a catalog-table leaf without statistics is unknown, not huge") {
    val dir = java.nio.file.Files.createTempDirectory("graft_eager_tbl")
      .toString
    spark.range(100).selectExpr("id", "id % 3 AS p")
      .write.partitionBy("p").option("path", dir)
      .saveAsTable("eager_scale_part")
    try {
      val df = spark.table("eager_scale_part").filter("id >= 0")
      // the failure mode is real: the leaf reports the default size
      assert(df.queryExecution.analyzed.collectLeaves()
        .exists(_.stats.sizeInBytes == defaultSize))
      assert(df.eagerCheckpointAtScale() eq df) // default 8 GiB gate
      // and a known-size leaf beside it still counts
      withGate(fixtureBytes) {
        val both = df.crossJoin(docs.select("doc_id").limit(1))
        val out = both.eagerCheckpointAtScale()
        try assert(out ne both) finally release(out)
      }
    } finally spark.sql("DROP TABLE IF EXISTS eager_scale_part")
  }

  test("chained sites: a site fed by an earlier checkpoint stays a no-op " +
    "below the gate") {
    // first site (the bigram frame) fires on a tiny gate ...
    val bg = withGate(1L) {
      docs.select("doc_id").filter("doc_id >= 0").eagerCheckpointAtScale()
    }
    try {
      assert(bg.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      // ... and the next site (the counts over it) sees a checkpoint
      // leaf, whose size is the origin's or unknown — never huge
      withGate(fixtureBytes * 100) {
        val cnt = bg.groupBy("doc_id").count()
        assert(cnt.eagerCheckpointAtScale() eq cnt)
      }
    } finally release(bg)
  }
}

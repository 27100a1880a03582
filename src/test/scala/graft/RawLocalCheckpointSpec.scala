package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.core.RawLocalCheckpointFileManager

/** Pins the round-20 streaming-checkpoint optimization: the raw-local
  * CheckpointFileManager must keep the default manager's atomic-create
  * contract (temp file + rename, readable bytes after close) while
  * writing NO ChecksumFs `.crc` siblings — the 2-extra-file-ops-per-
  * WAL-entry overhead the optimization removes. A third case proves the
  * session conf actually selects it (the streaming rows' whole win rides
  * on that wiring). */
class RawLocalCheckpointSpec extends SparkSuite {

  private def newDir() = Files.createTempDirectory("graft_rawckpt").toString

  test("createAtomic publishes bytes with no .crc sibling") {
    val dir = newDir()
    val fm = new RawLocalCheckpointFileManager(
      new Path(dir), spark.sessionState.newHadoopConf())
    val target = new Path(dir, "offsets-0")
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("v1\nbatch0".getBytes("UTF-8"))
    out.close()
    assert(fm.exists(target))
    val in = fm.open(target)
    val bytes = try in.readAllBytes() finally in.close()
    assert(new String(bytes, "UTF-8") == "v1\nbatch0")
    // the point of the class: no checksum mirror files, no leftover temps
    val names = Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
    assert(names.length == 1 && names.head.endsWith("offsets-0"),
      s"expected only the published file, saw: ${names.mkString(", ")}")
  }

  test("cancelled atomic write leaves nothing behind") {
    val dir = newDir()
    val fm = new RawLocalCheckpointFileManager(
      new Path(dir), spark.sessionState.newHadoopConf())
    val target = new Path(dir, "commits-0")
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(!fm.exists(target))
    assert(Files.list(java.nio.file.Paths.get(dir)).count() == 0)
  }

  test("a scheme with no AbstractFileSystem binding falls back to the " +
    "FileSystem-based manager instead of failing") {
    val dir = newDir()
    // the session's Hadoop conf carries the manager class itself, so this
    // also proves the delegation does not construct the class again
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      classOf[RawLocalCheckpointFileManager].getName)
    conf.set("fs.unboundtest.impl", classOf[UnboundSchemeFs].getName)
    conf.setBoolean("fs.unboundtest.impl.disable.cache", true)
    assert(conf.get("fs.AbstractFileSystem.unboundtest.impl") == null)
    val base = new Path(s"unboundtest://$dir")
    val fm = new RawLocalCheckpointFileManager(base, conf)
    val target = new Path(base, "offsets-0")
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("v1".getBytes("UTF-8"))
    out.close()
    assert(fm.exists(target))
    val in = fm.open(target)
    try assert(new String(in.readAllBytes(), "UTF-8") == "v1")
    finally in.close()
    assert(Files.exists(java.nio.file.Paths.get(dir, "offsets-0")))
    assert(fm.list(base).map(_.getPath.getName).toSeq == Seq("offsets-0"))
  }

  test("session conf selects the raw-local manager for streaming checkpoints") {
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
      == "graft.core.RawLocalCheckpointFileManager")
    // a streaming run's checkpoint dir must contain no .crc mirrors
    import org.apache.spark.sql.functions._
    val ckpt = newDir()
    val src = newDir()
    spark.range(10).selectExpr("id", "timestamp_seconds(1704067200 + id) as ts")
      .write.mode("overwrite").parquet(src)
    val q = spark.readStream
      .schema(spark.read.parquet(src).schema)
      .parquet(src)
      .groupBy(window(col("ts"), "1 hour")).count()
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("noop").start()
    try q.processAllAvailable() finally q.stop()
    // Spark 4.1's OWN manager-level checksum files (`name.crc`,
    // non-hidden) are an integrity layer we keep ON — the class removes
    // only the REDUNDANT Hadoop ChecksumFs mirror beneath it, whose
    // files are hidden `.name.crc` siblings. Assert exactly that split.
    val files = Files.walk(java.nio.file.Paths.get(ckpt)).toArray
      .map(_.toString)
    val hadoopMirrors = files.filter(f =>
      f.endsWith(".crc") &&
        f.substring(f.lastIndexOf('/') + 1).startsWith("."))
    assert(hadoopMirrors.isEmpty,
      s"ChecksumFs mirrors found: ${hadoopMirrors.mkString(", ")}")
  }
}

/** A local filesystem under a scheme that has a FileSystem binding but
  * no AbstractFileSystem (FileContext) binding — the shape of s3a/gs in
  * many deployments. */
class UnboundSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("unboundtest:///")
  override def getScheme: String = "unboundtest"
}

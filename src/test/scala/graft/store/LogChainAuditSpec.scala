package graft.store

import java.nio.file.Files

import graft.SparkSuite

/** fsck's commit-log chain audit against the round-15 PARQUET
  * checkpoints: a checkpoint whose content diverges from the delta
  * replay, a missing tail delta, and a renamed checkpoint (footer
  * version disagreeing with the filename) are each flagged with the
  * right diagnosis. Lives in `graft.store` because the divergence
  * tamper rewrites the checkpoint through [[CommitLog]] itself —
  * a valid parquet file with a consistent footer whose CONTENT lies,
  * the hardest case for the audit to catch. */
class LogChainAuditSpec extends SparkSuite {
  import spark.implicits._

  private def freshCat(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft_chain").toString)

  private def user(fn: String, email: String) =
    Seq((fn, "L", "0123456789", email, "h", "user",
      new java.sql.Timestamp(0L)))
      .toDF("first_name", "last_name", "phone", "email", "password_hash",
        "user_role", "created_at")

  test("fsck audits the commit-log chain: a diverging checkpoint, a " +
    "missing tail delta, and a renamed checkpoint are each diagnosed") {
    val cat = freshCat()
    (1 to 12).foreach(i => cat.append("users", user(s"c$i", s"c$i@x.c")))
    assert(cat.fsck("users").collect().forall(_.getBoolean(2)))
    val logDir = java.nio.file.Paths.get(cat.root, "_log")
    // tamper the checkpoint THROUGH the format itself: rewrite v10 with
    // a lying maxId — valid parquet, consistent footer, wrong content
    // (readers entering via the checkpoint would disagree with readers
    // replaying deltas)
    val ck = logDir.resolve("v10.checkpoint.parquet")
    val log = new CommitLog(new LocalStoreIO, logDir.toString)
    val (cv, stampMs) = log.stamp(ck.toString)
    assert(cv == 10L)
    val tables = log.readCheckpoint(ck.toString).map { case (tbl, st) =>
      tbl -> (if (tbl == "users") st.copy(maxId = 99L) else st)
    }
    log.writeCheckpoint(cv, stampMs, tables)
    val flagged1 = new Catalog(spark, cat.root).fsck("users").collect()
      .filter(!_.getBoolean(2))
    assert(flagged1.exists(_.getString(3).contains("diverges")),
      flagged1.mkString(", "))
    // a checkpoint renamed to the wrong version: footer disagrees
    val renamed = logDir.resolve("v11.checkpoint.parquet")
    Files.copy(ck, renamed)
    val flaggedR = new Catalog(spark, cat.root).fsck("users").collect()
      .filter(!_.getBoolean(2))
    assert(flaggedR.exists(r => r.getString(3).contains("footer claims")),
      flaggedR.mkString(", "))
    Files.delete(renamed)
    // break the replay chain above the checkpoint: the current version
    // is no longer derivable — fsck reports instead of throwing
    Files.delete(logDir.resolve("v11.json"))
    val flagged2 = new Catalog(spark, cat.root).fsck("users").collect()
      .filter(!_.getBoolean(2))
    assert(flagged2.exists(_.getString(3).contains("chain broken")),
      flagged2.mkString(", "))
  }

  test("no false divergence alarm across a checkpoint: merge-on-read " +
    "commits reorder the replayed file vector relative to the sorted " +
    "parquet checkpoint, and fsck must still call the store healthy") {
    val cat = freshCat()
    import org.apache.spark.sql.functions.col
    (1 to 3).foreach(i => cat.append("users", user(s"m$i", s"m$i@x.c")))
    // point ops: entry-level remove+re-add moves the touched file to the
    // replay tail while the checkpoint stores entries sorted by path
    cat.update("users", col("user_id") === 1L,
      Map("user_role" -> org.apache.spark.sql.functions.lit("vip")))
    cat.delete("users", col("user_id") === 2L)
    (6 to 11).foreach(i => cat.append("users", user(s"m$i", s"m$i@x.c")))
    val logDir = java.nio.file.Paths.get(cat.root, "_log")
    assert(Files.exists(logDir.resolve("v10.checkpoint.parquet")),
      "fixture must cross a checkpoint boundary")
    val flagged = new Catalog(spark, cat.root).fsck("users").collect()
      .filter(!_.getBoolean(2))
    assert(flagged.isEmpty, flagged.mkString(", "))
  }

  test("checkpoint lag is surfaced: a store whose deferred checkpoints " +
    "never land past 2x the interval gets an fsck problem row") {
    val cat = freshCat()
    (1 to 32).foreach(i => cat.append("users", user(s"l$i", s"l$i@x.c")))
    val logDir = java.nio.file.Paths.get(cat.root, "_log")
    // simulate persistent checkpoint-write failure: remove every landed
    // checkpoint (the on-disk signature of the failure mode — commits
    // succeed, checkpoints never appear)
    Seq(10L, 20L, 30L).foreach(v =>
      Files.deleteIfExists(logDir.resolve(s"v$v.checkpoint.parquet")))
    val flagged = new Catalog(spark, cat.root).fsck("users").collect()
      .filter(!_.getBoolean(2))
    assert(flagged.exists(_.getString(3).contains("checkpoint lag")),
      flagged.mkString(", "))
  }
}

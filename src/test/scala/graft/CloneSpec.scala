package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.store.Catalog

/** Shallow clone: zero-copy snapshot tables that stay correct under
  * divergent writes and vacuum. */
class CloneSpec extends SparkSuite {
  import spark.implicits._

  private def freshCat(): Catalog =
    new Catalog(spark, Files.createTempDirectory("graft_clone").toString)

  private def user(fn: String, email: String) =
    Seq((fn, "L", "0123456789", email, "h", "user",
      new java.sql.Timestamp(0L)))
      .toDF("first_name", "last_name", "phone", "email", "password_hash",
        "user_role", "created_at")

  /** Tamper the commit log in place: apply `replaceFirst(find, repl)`
    * to the first `_log/` file (version order, deltas before their
    * checkpoint) that the pattern changes; fails the test if no log
    * file matches. Returns the tampered file's path. */
  private def tamperLog(cat: Catalog, find: String, repl: String): Path = {
    val dir = Paths.get(cat.root, "_log")
    val files = {
      val ls = Files.list(dir)
      try ls.iterator().asInstanceOf[java.util.Iterator[Path]].asScala
        .filter(p => p.getFileName.toString.endsWith(".json")).toVector
      finally ls.close()
    }.sortBy { p => // numeric version order, a version's delta first
      val n = p.getFileName.toString
      (n.stripPrefix("v").takeWhile(_.isDigit).toLong,
        if (n.contains("checkpoint")) 1 else 0)
    }
    val hit = files.flatMap { p =>
      val json = new String(Files.readAllBytes(p), "UTF-8")
      val tampered = json.replaceFirst(find, repl)
      if (tampered != json) Some((p, tampered)) else None
    }.headOption
    assert(hit.nonEmpty, s"tamper target '$find' not found in any _log file")
    Files.write(hit.get._1, hit.get._2.getBytes("UTF-8"))
    hit.get._1
  }

  private def parquetCount(root: String): Int = {
    val it = Files.walk(Paths.get(root))
    try it.iterator().asInstanceOf[java.util.Iterator[Path]]
      .asScala.count(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
    finally it.close()
  }
  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  test("clone is zero-copy: identical rows, no parquet written by the " +
    "clone commit, and the clone is time-travelable") {
    val cat = freshCat()
    cat.append("users", user("a", "a@x.c").unionAll(user("b", "b@x.c")))
    val before = parquetCount(cat.root)
    val vBefore = cat.version
    cat.cloneTable("users", "users_snap")
    assert(parquetCount(cat.root) == before, "clone must not write data")
    assert(cat.version == vBefore + 1, "clone is a real commit")
    val src = cat.read("users").orderBy("user_id").collect().toSeq
    val dst = cat.read("users_snap").orderBy("user_id").collect().toSeq
    assert(src == dst)
    // fsck resolves the clone's cross-directory file references cleanly
    assert(cat.fsck("users_snap").collect().forall(_.getBoolean(2)))
    // the snapshot BEFORE the clone has no users_snap
    intercept[Exception] { cat.readAt("users_snap", vBefore).collect() }
  }

  test("writes diverge: source update and clone append do not see each " +
    "other; clone id assignment continues from the source high-water") {
    val cat = freshCat()
    cat.append("users", user("a", "a@x.c").unionAll(user("b", "b@x.c")))
    cat.cloneTable("users", "users_snap")
    // write to the CLONE (unregistered table name — manifest idcol path)
    val id = cat.append("users_snap", user("c", "c@x.c"))
    assert(id == 3L, s"clone must continue dense ids, got $id")
    cat.update("users", col("email") === "a@x.c",
      Map("user_role" -> lit("admin")))
    val srcRoles = cat.read("users").select("email", "user_role")
      .as[(String, String)].collect().toMap
    val dstRoles = cat.read("users_snap").select("email", "user_role")
      .as[(String, String)].collect().toMap
    assert(srcRoles == Map("a@x.c" -> "admin", "b@x.c" -> "user"))
    assert(dstRoles == Map("a@x.c" -> "user", "b@x.c" -> "user",
      "c@x.c" -> "user"))
    // COW update on the clone itself works through the manifest idcol
    cat.update("users_snap", col("email") === "c@x.c",
      Map("user_role" -> lit("vip")))
    assert(cat.read("users_snap").filter(col("user_role") === "vip")
      .count() == 1)
    assert(cat.read("users").filter(col("user_role") === "vip").count() == 0)
  }

  test("a clone inherits its source's EFFECTIVE stats designation " +
    "(round 16): new writes to the clone collect the registry-fixture " +
    "stats, readRange prunes them, and OPTIMIZE ZORDER accepts the " +
    "clone") {
    val cat = freshCat()
    // users carries registry stats on created_at; a clone's name misses
    // the registry, so without the manifest-pinned list its new files
    // would silently lose skipping
    def batch(lo: Int, hi: Int) = (lo to hi).map(i =>
      user(s"u$i", s"u$i@x.c")
        .withColumn("created_at",
          lit(new java.sql.Timestamp(i * 86400000L))))
      .reduce(_ unionAll _)
    cat.append("users", batch(1, 20))
    cat.cloneTable("users", "users_live")
    cat.append("users_live", batch(21, 40))
    cat.append("users_live", batch(41, 60))
    // day window inside the FIRST clone-written file's range only
    // (stats normalize timestamps to epoch MICROS)
    val lo = 21L * 86400000L * 1000L; val hi = 30L * 86400000L * 1000L
    val (hit, total) = cat.rangeFiles("users_live", "created_at", lo, hi)
    assert(total == 3 && hit.size == 1,
      s"clone write lost inherited stats: ${hit.size} of $total files " +
        "for a one-file window")
    cat.optimize("users_live", Seq("created_at"), numFiles = 2)
    assert(cat.read("users_live").count() == 60L)
    assert(cat.fsck("users_live").collect().forall(_.getBoolean(2)))
  }

  test("vacuum never reclaims source files a clone still references " +
    "(root-wide liveness), even at retain=0") {
    val cat = freshCat()
    cat.append("users", user("a", "a@x.c"))
    cat.cloneTable("users", "users_snap")
    // source COW-rewrites its only file -> the original parquet under
    // users/ is dead for the SOURCE but still live for the CLONE
    cat.update("users", col("email") === "a@x.c",
      Map("user_role" -> lit("admin")))
    val reclaimed = cat.vacuum("users", retainMillis = 0L)
    assert(reclaimed == 0,
      s"vacuum reclaimed $reclaimed file(s) the clone references")
    assert(cat.read("users_snap").count() == 1, "clone must still read")
    assert(cat.read("users_snap").select("user_role").as[String].head()
      == "user", "clone sees the pre-update snapshot")
    // drop the clone's reference (COW update rewrites its only file,
    // under the clone's OWN directory), then the original is genuinely
    // dead and vacuum reclaims it
    cat.update("users_snap", col("email") === "a@x.c",
      Map("user_role" -> lit("x")))
    assert(cat.vacuum("users", retainMillis = 0L) >= 1)
    assert(cat.read("users").count() == 1 &&
      cat.read("users_snap").count() == 1)
  }

  test("clone target collisions and self-clones are rejected") {
    val cat = freshCat()
    cat.append("users", user("a", "a@x.c"))
    intercept[IllegalArgumentException] {
      cat.cloneTable("users", "users")
    }
    intercept[IllegalArgumentException] {
      cat.cloneTable("users", "events") // registered name
    }
    cat.cloneTable("users", "users_snap")
    intercept[IllegalArgumentException] {
      cat.cloneTable("users", "users_snap") // existing clone
    }
  }

  test("clone VERSION AS OF: freezes a PAST snapshot, guards missing " +
    "versions and pre-existence") {
    val cat = freshCat()
    cat.append("users", user("a", "a@x.c"))
    val v1 = cat.version
    cat.append("users", user("b", "b@x.c"))
    cat.update("users", col("email") === "a@x.c",
      Map("user_role" -> lit("admin")))
    // clone the v1 snapshot: one row, pre-update role
    cat.cloneTable("users", "users_v1", versionAsOf = Some(v1))
    val got = cat.read("users_v1").select("email", "user_role")
      .as[(String, String)].collect().toSeq
    assert(got == Seq(("a@x.c", "user")), got.toString)
    // current table unaffected; id continuation follows v1's high-water
    assert(cat.read("users").count() == 2)
    assert(cat.append("users_v1", user("c", "c@x.c")) == 2L)
    // guards
    intercept[IllegalArgumentException] {
      cat.cloneTable("users", "users_v99", versionAsOf = Some(99L))
    }
    intercept[IllegalArgumentException] {
      // users_v1 did not exist at v1
      cat.cloneTable("users_v1", "users_x", versionAsOf = Some(v1))
    }
  }

  test("TIMESTAMP AS OF clone: freezes the snapshot current at the " +
    "given wall-clock time; a pre-history timestamp fails loudly") {
    val cat = freshCat()
    val t0 = System.currentTimeMillis() - 1
    cat.append("users", user("a", "a@x.c")) // v1
    Thread.sleep(25) // commit stamps are millis: separate them
    val tBetween = System.currentTimeMillis()
    Thread.sleep(25)
    cat.append("users", user("b", "b@x.c")) // v2
    cat.cloneTable("users", "users_at", timestampAsOf = Some(tBetween))
    val got = cat.read("users_at").select("email").as[String].collect()
    assert(got.toSeq == Seq("a@x.c"),
      s"clone at tBetween must see only v1: ${got.toSeq}")
    // and the clone is writable with the frozen high-water mark
    assert(cat.append("users_at", user("c", "c@x.c")) == 2L)
    // before any commit existed: loud failure, no silent nearest-match
    intercept[IllegalArgumentException] {
      cat.cloneTable("users", "users_pre", timestampAsOf = Some(t0))
    }
    // both pins at once is a caller bug
    intercept[IllegalArgumentException] {
      cat.cloneTable("users", "users_both", versionAsOf = Some(1L),
        timestampAsOf = Some(tBetween))
    }
  }

  test("fsck orphan sweep: a failed transaction's staged files surface " +
    "as orphan diagnosis rows; history-retained files do not") {
    val cat = freshCat()
    cat.append("users", user("a", "a@x.c")) // v1
    // COW rewrite: v1's file goes dead but stays referenced by the v1
    // HISTORY manifest — retained for time travel, NOT an orphan
    cat.update("users", col("email") === "a@x.c",
      Map("user_role" -> lit("admin"))) // v2
    assert(cat.fsck("users").collect().forall(_.getBoolean(2)),
      "history-retained files must not be flagged as orphans")
    // a failed transaction leaves staged files no manifest references
    intercept[RuntimeException] {
      cat.transaction { tx =>
        tx.append("users", user("b", "b@x.c"))
        throw new RuntimeException("boom")
      }
    }
    val rows = cat.fsck("users").collect()
    val orphans = rows.filter(r => r.getString(3).startsWith("orphan"))
    assert(orphans.nonEmpty, s"staged debris not surfaced: " +
      rows.mkString(", "))
    assert(orphans.forall(r => !r.getBoolean(2)))
    // live rows still verify clean alongside the diagnosis rows
    assert(rows.filterNot(r => r.getString(3).startsWith("orphan"))
      .forall(_.getBoolean(2)))
  }

  test("fsck flags a claimed-but-unobservable column stat (all-NULL " +
    "column under a concrete manifest claim) instead of passing it") {
    val cat = freshCat()
    val rows = Seq((Option.empty[Long], 1L, "P", 1.0,
      new java.sql.Timestamp(0L), "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    cat.append("orders_ingest", rows)
    assert(cat.fsck("orders_ingest").collect().forall(_.getBoolean(2)),
      "an honest stats-less file must verify clean")
    // tamper: claim a concrete o_orderkey range the all-NULL file can
    // never witness — pre-fix this passed as ok and readRange would
    // prune by a fabricated claim (round 14: the claim lives in the
    // commit-log delta that added the file)
    // extend the REAL cols object (o_custkey gained stats in round 15,
    // so the entry already carries one — a second inserted "cols" key
    // would lose to Jackson's last-duplicate-wins and hide the tamper)
    tamperLog(cat,
      java.util.regex.Pattern.quote("\"cols\":{\"o_custkey\":[1,1]}"),
      java.util.regex.Matcher.quoteReplacement(
        "\"cols\":{\"o_custkey\":[1,1],\"o_orderkey\":[5,10]}"))
    val flagged = new Catalog(spark, cat.root).fsck("orders_ingest")
      .collect().filter(!_.getBoolean(2))
    assert(flagged.length == 1 &&
      flagged.head.getString(3).contains("unobservable"),
      flagged.mkString(", "))
  }

  test("fsck stays clean across dropColumn + re-add of a stats column: " +
    "the dropped claim is quiet, and the re-added column verifies the " +
    "claim against the physical parquet values (by-name resolution)") {
    val cat = freshCat()
    val rows = graft.core.Tables.orders(spark, sf)
      .filter(col("o_orderkey") <= 200)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    cat.append("orders_ingest", rows, orderBy = Seq("o_orderkey"))
    assert(cat.fsck("orders_ingest").collect().forall(_.getBoolean(2)))
    // drop the stats column: FileEntry claims stay in the manifest but
    // the current schema no longer carries the column — legitimately
    // unverifiable, must stay QUIET (not a corruption report)
    cat.dropColumn("orders_ingest", "o_orderkey")
    assert(cat.fsck("orders_ingest").collect().forall(_.getBoolean(2)),
      "a dropped column's stale claim must not flag")
    // re-add the same name: dropColumn was metadata-only, so by-name
    // parquet resolution reads the ORIGINAL values back and the old
    // claims verify against real data — still clean, no false positive
    cat.transaction(_.addColumn("orders_ingest",
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val after = cat.fsck("orders_ingest").collect()
    assert(after.forall(_.getBoolean(2)),
      s"drop+re-add must not fabricate corruption: ${after.mkString(", ")}")
    assert(cat.read("orders_ingest").filter(col("o_orderkey").isNotNull)
      .count() > 0, "re-added column must read the physical values back")
  }

  test("fsck: healthy store verifies clean; a tampered manifest id range " +
    "and a deleted live file are each flagged with the right diagnosis") {
    val cat = freshCat()
    cat.append("users", user("a", "a@x.c"))
    cat.append("users", user("b", "b@x.c"))
    val healthy = cat.fsck("users").collect()
    assert(healthy.length == 2 && healthy.forall(_.getBoolean(2)),
      healthy.mkString(", "))
    // tamper: bump one file's claimed max id directly in the commit log
    val tPath = tamperLog(cat, "\"max\":1\\b", "\"max\":1001")
    val json = new String(java.nio.file.Files.readAllBytes(tPath), "UTF-8")
    val cat2 = new Catalog(spark, cat.root)
    val flagged = cat2.fsck("users").collect()
    assert(flagged.count(!_.getBoolean(2)) == 1, flagged.mkString(", "))
    assert(flagged.find(!_.getBoolean(2)).get.getString(3)
      .contains("id range"), flagged.mkString(", "))
    // delete a live parquet out-of-band: flagged as missing
    java.nio.file.Files.write(tPath,
      json.replaceFirst("\"max\":1001", "\"max\":1").getBytes("UTF-8")) // untamper
    val cat3 = new Catalog(spark, cat.root)
    val victim = cat3.fsck("users").collect().head.getString(0)
    java.nio.file.Files.delete(java.nio.file.Paths.get(cat.root, victim))
    val after = cat3.fsck("users").collect()
    assert(after.exists(r => !r.getBoolean(2) &&
      r.getString(3).contains("missing")), after.mkString(", "))
  }

  test("fsck reports a scanned file that matches no manifest entry as a " +
    "problem row naming its key, and does not throw") {
    val cat = freshCat()
    cat.append("users", user("a", "a@x.c"))
    assert(cat.fsck("users").collect().forall(_.getBoolean(2)))
    // tamper: a leading slash still names the same file on disk, but
    // the entry's key is no longer the path the scan reads
    tamperLog(cat, "\"path\":\"users/", "\"path\":\"/users/")
    val rows = new Catalog(spark, cat.root).fsck("users").collect()
    val unmatched = rows.filter(_.getString(3).contains(
      "matches no manifest entry"))
    assert(unmatched.length == 1 && !unmatched.head.getBoolean(2) &&
      unmatched.head.getString(3).contains(cat.root + "/users/"),
      rows.mkString(", "))
    assert(unmatched.head.getLong(1) == 1L, rows.mkString(", "))
  }

  test("fsck column stats: a stats-bearing table verifies clean and a " +
    "narrowed stat range is flagged as an escape") {
    val cat = freshCat()
    val rows = graft.core.Tables.orders(spark, sf)
      .filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    cat.append("orders_ingest", rows, orderBy = Seq("o_orderkey"))
    assert(cat.fsck("orders_ingest").collect().forall(_.getBoolean(2)))
    // narrow the recorded o_orderkey stat range: observed data now
    // escapes the claim — exactly the corruption that would make
    // readRange skip files it must scan
    tamperLog(cat, """"o_orderkey":\[0,""", "\"o_orderkey\":[1,")
    val flagged = new Catalog(spark, cat.root).fsck("orders_ingest")
      .collect().filter(!_.getBoolean(2))
    assert(flagged.length == 1 &&
      flagged.head.getString(3).contains("o_orderkey"),
      flagged.mkString(", "))
  }

  test("manifest round-trip: a fresh Catalog instance reads the clone's " +
    "pinned schema and id column from disk") {
    val cat = freshCat()
    cat.append("users", user("a", "a@x.c"))
    cat.cloneTable("users", "users_snap")
    val cat2 = new Catalog(spark, cat.root)
    assert(cat2.read("users_snap").columns.contains("user_id"))
    assert(cat2.append("users_snap", user("b", "b@x.c")) == 2L)
  }
}

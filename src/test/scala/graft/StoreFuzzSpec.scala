package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.store.{Catalog, StoreIO}

/** Model-based fuzz of the COW store: a random operation sequence runs
  * against BOTH the Catalog and a driver-side reference model; after
  * every step the store's visible state must equal the model's, clones
  * must stay frozen unless written, version history must replay under
  * time travel, and vacuum at retain=0 must never break any reader.
  * Seeded — failures reproduce as a printable op log.
  */
class StoreFuzzSpec extends SparkSuite {
  import spark.implicits._

  // model row: user_id -> (email, role)
  private type Model = mutable.LinkedHashMap[Long, (String, String)]

  private def userDf(email: String, role: String) =
    Seq(("F", "L", "0123456789", email, "h", role,
      new java.sql.Timestamp(0L)))
      .toDF("first_name", "last_name", "phone", "email", "password_hash",
        "user_role", "created_at")

  private def readState(cat: Catalog, table: String): Map[Long, (String, String)] =
    cat.read(table).select("user_id", "email", "user_role")
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  // every StoreIO binding runs the same model fuzz (round 18): the
  // Hadoop binding must derive exactly the states the java.nio binding
  // does, and the OBJECT-STORE-SEMANTICS binding (no atomic rename —
  // publishes are conditional creates + copies, the S3 primitive set)
  // proves the commit protocol never actually needs rename(2). The
  // encoded-root run puts the store under a directory whose name a URI
  // must percent-encode, so every op maps scanned file names back to
  // manifest entries across that encoding.
  for ((ioMode, encodedRoot) <- Seq(("local", false), ("hadoop", false),
      ("object", false), ("local", true)))
  test("random op sequences: store state equals the reference model " +
    "after every step; clones freeze; history replays; vacuum(0) safe " +
    s"[io=$ioMode${if (encodedRoot) ", root=encoded" else ""}]") {
    def mkCat(root: String): Catalog = ioMode match {
      case "hadoop" => new Catalog(spark, root, StoreIO.hadoop(spark))
      case "object" =>
        new Catalog(spark, root, new graft.store.ObjectStoreSemanticsIO)
      case _ => new Catalog(spark, root)
    }
    val rnd = new Random(sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong + 2).getOrElse(42424242L))
    val root = {
      val dir = Files.createTempDirectory("graft_fuzz")
      if (encodedRoot)
        Files.createDirectory(dir.resolve("my store %41")).toString
      else dir.toString
    }
    // var: the REOPEN op below swaps in a fresh instance (cold manifest
    // cache), fuzzing the log-structured checkpoint + delta replay path
    var cat = mkCat(root)
    // a CHECK every fuzz row satisfies — clones inherit it, and the
    // restore section below proves it survives a root rewind for
    // tables born after the restore point (round-13 identity fix)
    cat.addCheck("users", "email_at", "email LIKE '%@%'")
    val tables = mutable.LinkedHashMap[String, Model](
      "users" -> mutable.LinkedHashMap.empty)
    val maxId = mutable.Map[String, Long]("users" -> 0L)
    val opLog = mutable.ArrayBuffer[String]()
    // version -> full model snapshot, for time-travel replay
    val history = mutable.ArrayBuffer[(Long, Map[String, Map[Long, (String, String)]])]()
    var nextClone = 0
    var emails = 0
    // vacuum(retain=0) legitimately retires pre-vacuum snapshots (their
    // dead files are reclaimed), so time travel and restore are only
    // guaranteed for versions committed AFTER the latest vacuum
    var lastVacuumAt = 0L
    // round 16: column-rename chains per table (current name of the
    // fuzzed "phone" column; the model never reads it, so the value of
    // the op is COMPOSITION — every later read, clone, compact,
    // restore, reopen and time travel crosses the rename map)
    val phoneCol = mutable.Map[String, String]().withDefaultValue("phone")
    var renameSeq = 0

    def snapshot(): Map[String, Map[Long, (String, String)]] =
      tables.map { case (t, m) => t -> m.toMap }.toMap

    def checkAll(step: Int): Unit = tables.foreach { case (t, m) =>
      val got = readState(cat, t)
      assert(got == m.toMap,
        s"step $step table $t diverged.\nops:\n${opLog.mkString("\n")}\n" +
          s"missing=${(m.toMap.toSet diff got.toSet).take(3)} " +
          s"extra=${(got.toSet diff m.toMap.toSet).take(3)}")
    }

    for (step <- 1 to 50) {
      val t = tables.keys.toVector(rnd.nextInt(tables.size))
      val m = tables(t)
      rnd.nextInt(20) match {
        case 0 | 1 | 2 => // append one row
          emails += 1
          val em = s"u$emails@x.c"
          val id = cat.append(t, userDf(em, "user"))
          opLog += s"append($t, $em) -> $id"
          assert(id == maxId(t) + 1, s"dense id broken: $id")
          maxId(t) = id
          m(id) = (em, "user")
        case 3 | 4 => // update by email (may hit nothing)
          if (m.nonEmpty) {
            val (_, (em, _)) = m.toVector(rnd.nextInt(m.size))
            cat.update(t, col("email") === em,
              Map("user_role" -> lit("admin")))
            opLog += s"update($t, $em -> admin)"
            m.keys.filter(k => m(k)._1 == em)
              .foreach(k => m(k) = (m(k)._1, "admin"))
          }
        case 5 => // delete by email
          if (m.nonEmpty) {
            val (_, (em, _)) = m.toVector(rnd.nextInt(m.size))
            cat.delete(t, col("email") === em)
            opLog += s"delete($t, $em)"
            m.keys.filter(k => m(k)._1 == em).toVector.foreach(m.remove)
          }
        case 6 => // compaction: whole-table, or the round-18 selective
          // small-file fold (layout-only either way — the model is
          // untouched; compactSmall composes the manifest-row-count
          // candidate choice and DV folding/all-dead-file GC with
          // every other op, incl. reads through rename chains and
          // time travel over the folded layout)
          if (rnd.nextBoolean()) {
            cat.compact(t)
            opLog += s"compact($t)"
          } else {
            val smallRows = 1L + rnd.nextInt(4)
            val targetRows = smallRows * (1L + rnd.nextInt(5))
            val n = cat.compactSmall(t, smallRows, targetRows)
            opLog += s"compactSmall($t, $smallRows, $targetRows) -> $n"
          }
        case 7 => // vacuum at retain=0 — must never break the CURRENT state
          cat.vacuum(t, retainMillis = 0L)
          opLog += s"vacuum($t)"
          lastVacuumAt = cat.version
        case 8 => // shallow clone into a fresh name
          if (nextClone < 4) { // cap clone count to keep checks fast
            nextClone += 1
            val dst = s"snap_$nextClone"
            cat.cloneTable(t, dst)
            opLog += s"clone($t -> $dst)"
            tables(dst) = m.clone()
            maxId(dst) = maxId(t)
            phoneCol(dst) = phoneCol(t)
          }
        case 10 => // REOPEN: fresh instance, cold cache — the full
          // checkpoint + tail-delta replay must reproduce the state
          // (round 14: this is the log-structured read path, and it
          // crosses checkpoint boundaries as versions accumulate)
          cat = mkCat(root)
          opLog += "reopen()"
        case 11 | 12 => // POINT update by surrogate id: the id-pinned
          // shape takes the round-15 merge-on-read path (deletion
          // vector + patch file) — composing DVs with every other op
          // (compact folds, vacuum retires sidecars, clones freeze
          // them, restore/time-travel read each snapshot's own mask,
          // reopen replays them cold)
          if (m.nonEmpty) {
            val id = m.keys.toVector(rnd.nextInt(m.size))
            cat.update(t, col("user_id") === id,
              Map("user_role" -> lit("dvrole")))
            opLog += s"pointUpdate($t, id=$id -> dvrole)"
            m(id) = (m(id)._1, "dvrole")
          }
        case 13 => // POINT delete by surrogate id (pure-DV commit)
          if (m.nonEmpty) {
            val id = m.keys.toVector(rnd.nextInt(m.size))
            cat.delete(t, col("user_id") === id)
            opLog += s"pointDelete($t, id=$id)"
            m.remove(id)
          }
        case 14 => // clustered compaction (round-15 optimize): layout-
          // only, so the model is untouched — composes the Z-order
          // rewrite with DV folding, clones, vacuum, restore, reopen.
          // Clones lack a statsColumns registry entry (name-keyed), so
          // the op only fires on the registered table.
          if (graft.store.Schemas.statsColumns.contains(t)) {
            cat.optimize(t, Seq("created_at"), 1 + rnd.nextInt(3))
            opLog += s"optimize($t, created_at)"
          }
        case 15 => // CREATE TABLE (round-15 DDL): a dynamic users-shaped
          // table joins the model — every other op (append/update/
          // delete/compact/vacuum/clone/reopen/point-DV) then composes
          // with it; the same CHECK is attached so the restore section's
          // uniform check-enforcement assertion holds for it too
          if (!tables.contains("dyn")) {
            cat.createTable("dyn",
              graft.store.Schemas.registry("users")._1, "user_id")
            cat.addCheck("dyn", "email_at", "email LIKE '%@%'")
            opLog += "createTable(dyn)"
            tables("dyn") = mutable.LinkedHashMap.empty
            maxId("dyn") = 0L
          }
        case 16 => // DROP TABLE: tombstoned commit; history below stays
          // replayable (the time-travel section still asserts dyn's old
          // snapshots), clones of it live on, the name is reusable
          if (tables.contains("dyn")) {
            cat.dropTable("dyn")
            opLog += "dropTable(dyn)"
            tables.remove("dyn")
            maxId.remove("dyn")
          }
        case 17 => // RENAME COLUMN (round 16): chain-rename the phone
          // column on the chosen table — pure metadata; later appends
          // (which still ship a "phone" column) NULL-backfill it like
          // any absent nullable column, and every subsequent read of
          // the table crosses the coalesce map (cold reopen, clones,
          // compaction folding, restore, and the time-travel section
          // read pre-rename snapshots through their own names)
          {
            renameSeq += 1
            val to = s"ph_$renameSeq"
            cat.renameColumn(t, phoneCol(t), to)
            opLog += s"renameColumn($t, ${phoneCol(t)} -> $to)"
            phoneCol(t) = to
          }
        case 18 => // RENAME TABLE (round 16): atomic manifest-key move
          // of the dynamic table; the model's key moves with it, old
          // history keeps replaying under the old name (the
          // time-travel section asserts per-snapshot names), and
          // restore below a rename resurrects the old key
          if (tables.contains("dyn") && !tables.contains("dyn_r")) {
            cat.renameTable("dyn", "dyn_r")
            opLog += "renameTable(dyn -> dyn_r)"
            tables("dyn_r") = tables.remove("dyn").get
            maxId("dyn_r") = maxId.remove("dyn").get
            phoneCol("dyn_r") = phoneCol("dyn")
            phoneCol.remove("dyn")
          } else if (tables.contains("dyn_r")) {
            cat.dropTable("dyn_r") // keep the name pool bounded
            opLog += "dropTable(dyn_r)"
            tables.remove("dyn_r")
            maxId.remove("dyn_r")
          }
        case 19 => // target-reading MERGE (round 17): matched rows FOLD
          // the standing role (`SET user_role = concat(t.user_role,
          // '+', s.user_role)` — the incremental-aggregate shape), a
          // fresh key inserts with a dense id; composes with DVs,
          // renames (the source ships the CURRENT phone-chain name),
          // compaction, clones, restore, reopen, and time travel
          {
            emails += 1
            val newEm = s"u$emails@x.c"
            val existing =
              if (m.nonEmpty) Some(m.toVector(rnd.nextInt(m.size))._2._1)
              else None
            val batch = (existing.toSeq :+ newEm)
              .map(em => userDf(em, "mg")).reduce(_ union _)
              .withColumnRenamed("phone", phoneCol(t))
            val (nU, nI) = cat.merge(t, batch, "email",
              matchedExprs = Map("user_role" ->
                "concat(t.user_role, '+', s.user_role)"))
            opLog += s"mergeExpr($t, ${existing.getOrElse("-")} + $newEm)" +
              s" -> ($nU, $nI)"
            assert(nU == existing.size.toLong && nI == 1L,
              s"merge counts ($nU, $nI), expected (${existing.size}, 1)")
            existing.foreach { em =>
              m.keys.filter(k => m(k)._1 == em)
                .foreach(k => m(k) = (em, m(k)._2 + "+mg"))
            }
            maxId(t) = maxId(t) + 1
            m(maxId(t)) = (newEm, "mg")
          }
        case 9 => // write INTO a clone (divergence) if any exists
          val clones = tables.keys.filter(_.startsWith("snap_")).toVector
          if (clones.nonEmpty) {
            val c = clones(rnd.nextInt(clones.size))
            emails += 1
            val em = s"u$emails@x.c"
            val id = cat.append(c, userDf(em, "vip"))
            opLog += s"append($c, $em) -> $id"
            assert(id == maxId(c) + 1)
            maxId(c) = id
            tables(c)(id) = (em, "vip")
          }
      }
      history += ((cat.version, snapshot()))
      checkAll(step)
    }

    // time travel: replay a sample of post-last-vacuum versions exactly
    val replayable = history.toVector.filter(_._1 >= lastVacuumAt)
    assert(replayable.nonEmpty, "no replayable versions survived — " +
      "vacuum landed on the last step; reseed")
    val sample = rnd.shuffle(replayable).take(6)
    sample.foreach { case (v, snap) =>
      snap.foreach { case (t, m) =>
        // a table that did not exist at v is absent from the snapshot
        // map; only existing tables are asserted
        val got = cat.readAt(t, v).select("user_id", "email", "user_role")
          .as[(Long, String, String)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(got == m,
          s"time travel v$v table $t diverged\nops:\n${opLog.mkString("\n")}")
      }
    }

    // restore to a replayable version: every table rewinds to the model
    val (rv, rsnap) = replayable(replayable.size / 2)
    cat.restoreTo(rv)
    rsnap.foreach { case (t, m) =>
      assert(readState(cat, t) == m, s"restore to v$rv: $t diverged")
    }
    // tables cloned AFTER rv must now read empty (did not exist then),
    // but their catalog identity — including the inherited CHECK —
    // must survive: a violating write still fails, a clean one lands
    tables.keys.filterNot(rsnap.contains).foreach { t =>
      assert(cat.read(t).count() == 0,
        s"$t existed after restore to pre-clone version")
      intercept[IllegalArgumentException] {
        cat.append(t, userDf("no-at-sign", "user"))
      }
      assert(cat.read(t).count() == 0,
        s"$t: check-violating append landed after restore")
      cat.append(t, userDf("ok@x.c", "user"))
      assert(cat.read(t).count() == 1,
        s"$t: conforming append failed after restore")
    }
  }
}

package graft.store

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** A store root whose name a URI must percent-encode (`my store %41`:
  * a space, and a `%` that is not an escape) behaves exactly as a plain
  * root. A scanned row names its file by a URI (`input_file_name()`),
  * the manifest by a root-relative path; merge, SCD2, the pinned scan
  * route and `fsck` map one to the other, and a mapping that compares
  * encoded against decoded spellings reads every file as unmatched.
  * Each binding runs the same operations at both roots and must return
  * the same counts, rows, unique keys and a clean audit. */
class EncodedRootSpec extends SparkSuite {
  import EncodedRootSpec.Outcome
  import spark.implicits._

  private val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private val t2 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")

  private def users(ids: Seq[Int], role: String): DataFrame =
    ids.map(i => ("F", "L", "0123456789", s"u$i@x.c", "h", role,
      new java.sql.Timestamp(i * 1000L)))
      .toDF("first_name", "last_name", "phone", "email", "password_hash",
        "user_role", "created_at")

  private def dim(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("user_id", "user_role", "email")

  private def run(root: Path, ioMode: String): Outcome = {
    Files.createDirectories(root)
    val cat = ioMode match {
      case "hadoop" => new Catalog(spark, root.toString, StoreIO.hadoop(spark))
      case _ => new Catalog(spark, root.toString)
    }
    cat.append("users", users(0 until 20, "user"), orderBy = Seq("email"))
    // star merge: 15 of the 20 source keys match
    val star = cat.merge("users", users(5 until 25, "star"), "email")
    // partial-SET merge: rewrites only user_role of the 10 matched rows
    // (merge-on-read: deletion vectors plus a patch file), inserts 2
    val partial = cat.merge("users", users((0 until 10) ++ (25 until 27),
      "part"), "email", matchedCols = Some(Map("user_role" -> "user_role")))
    // a pinned update through the scan route attributes its dead id to
    // the file it was scanned from
    cat.scanPinned(_.update("users", col("user_id") === 3L,
      Map("user_role" -> lit("pinned"))))
    val seeded = cat.scd2Merge("users_dim",
      dim((1L to 10L).map(k => (k, "user", s"d$k@x.c"))), "user_id",
      Seq("user_role", "email"), t1)
    // keys 1-5 change (close and reopen), 6-10 repeat, 11-12 are new
    val scd2 = cat.scd2Merge("users_dim",
      dim((1L to 5L).map(k => (k, "admin", s"d$k@x.c")) ++
        (6L to 12L).map(k => (k, "user", s"d$k@x.c"))), "user_id",
      Seq("user_role", "email"), t2)
    val fresh = new Catalog(spark, root.toString)
    Outcome(star, partial, seeded, scd2,
      fresh.read("users").select("user_id", "email", "user_role")
        .as[(Long, String, String)].collect().toSeq.sorted,
      fresh.read("users_dim").select("user_id", "user_role", "is_current")
        .as[(Long, String, Boolean)].collect().toSeq.sorted,
      Seq("users", "users_dim").flatMap(t => cat.fsck(t).collect().toSeq
        .map(r => (t, r.getBoolean(2), r.getString(3)))))
  }

  for (ioMode <- Seq("local", "hadoop"))
    test("merge, partial merge, pinned scan update, SCD2 and fsck at a " +
      s"root named 'my store %41' match a plain root [io=$ioMode]") {
      val base = Files.createTempDirectory("graft_encoded")
      val plain = run(base.resolve("plain"), ioMode)
      val encoded = run(base.resolve("my store %41"), ioMode)
      assert(plain.star == ((15L, 5L)) && plain.partial == ((10L, 2L)),
        s"plain-root merge counts: $plain")
      assert(plain.seeded == ((0L, 10L)) && plain.scd2 == ((5L, 7L)),
        s"plain-root SCD2 counts: $plain")
      assert(plain.users.size == 27 &&
        plain.users.map(_._2).distinct.size == 27)
      assert(plain.users.count(_._3 == "part") == 12 &&
        plain.users.count(_._3 == "pinned") == 1, plain.users)
      val current = plain.dims.filter(_._3)
      assert(plain.dims.size == 17 && current.size == 12 &&
        current.map(_._1).distinct.size == 12, plain.dims)
      assert(plain.audits.forall(_._2), plain.audits)
      assert(encoded.star == plain.star && encoded.partial == plain.partial,
        s"merge counts: encoded $encoded vs plain $plain")
      assert(encoded.seeded == plain.seeded && encoded.scd2 == plain.scd2,
        s"SCD2 counts: encoded $encoded vs plain $plain")
      assert(encoded.users == plain.users, "users rows differ")
      assert(encoded.dims == plain.dims, "users_dim rows differ")
      assert(encoded.audits.forall(_._2), encoded.audits)
      assert(encoded.audits.size == plain.audits.size, encoded.audits)
    }
}

private object EncodedRootSpec {
  final case class Outcome(
      star: (Long, Long),
      partial: (Long, Long),
      seeded: (Long, Long),
      scd2: (Long, Long),
      users: Seq[(Long, String, String)],
      dims: Seq[(Long, String, Boolean)],
      audits: Seq[(String, Boolean, String)])
}

package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.scalacheck.{Gen, Prop, Test => Check}

import graft.SparkSuite

/** The commit-log codec ([[CommitLog]]). The golden tests pin the
  * exact delta bytes and checkpoint cells for states with every
  * optional field set — the on-disk format must not drift, since
  * every existing store root is read through it. The properties check
  * that any state decodes back to itself from a delta and from a
  * checkpoint. */
class CommitLogSpec extends SparkSuite {

  private def freshLog(): CommitLog = new CommitLog(new LocalStoreIO,
    Files.createTempDirectory("graft_commitlog").toString)

  private def check(p: Prop): Unit = {
    val r = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(150), p)
    assert(r.passed, r.status.toString)
  }

  // ---- golden fixture: every optional field set ------------------------

  private val schema = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("email", StringType), StructField("ts", TimestampType)))
  private val longTail = "été-" * 10 + "😀tail"
  /** Bound-truncated non-ASCII string stats, as staging records them. */
  private val (emailLo, emailHi) = Catalog.strStatBounds(
    "aïda@x.c" + longTail, "zoë" + longTail).get
  private val full = FileEntry("users/snap-1/part-00000-a.snappy.parquet",
    1L, 40L, Map("ts" -> (10L, 20L), "user_id" -> (-5L, Long.MaxValue)),
    Map("email" -> (emailLo, emailHi), "nm" -> ("", "ü")),
    Some(("_dv/d1.dv", 3L)), 40L,
    Map("email" -> 0L, "ts" -> 2L, "user_id" -> 0L))
  /** A DV with a count of 0 and no row count. */
  private val sparse = FileEntry("users/snap-2/part-00000-b.snappy.parquet",
    41L, 42L, dv = Some(("_dv/d2.dv", 0L)))
  private val users = TableState(42L, Vector(full, sparse), Some(schema),
    Map("pos" -> "user_id > 0", "email_set" -> "email IS NOT NULL"),
    Some("user_id"), Some(Seq("ts", "user_id")),
    Map("email" -> Seq("mail", "e_mail")), Seq("people", "persons"))
  /** `statsCols = Some(Nil)`: "explicitly no stats", written as `[]`. */
  private val bare = TableState(0L, Vector.empty, statsCols = Some(Nil))

  private val delta = Map(
    "users" -> TableDelta(users.maxId, users.files,
      Vector("users/snap-0/part-00000-old.snappy.parquet"), users.schema,
      users.checks, users.idCol, users.statsCols, users.renames,
      users.priorDirs),
    "gone" -> TableDelta.Dropped,
    "bare" -> TableDelta(0L, Vector.empty, Vector.empty, None, Map.empty,
      None, statsCols = Some(Nil)))

  private val Stamp = 1700000000000L

  private val DeltaGolden =
    "{\"_version\":2,\"_committedAtMs\":1700000000000,\"tables\":{\"bar" +
      "e\":{\"maxId\":0,\"statscols\":[]},\"gone\":{\"dropped\":true},\"u" +
      "sers\":{\"maxId\":42,\"schema\":\"{\\\"type\\\":\\\"struct\\\",\\" +
      "\"fields\\\":[{\\\"name\\\":\\\"user_id\\\",\\\"type\\\":\\\"long" +
      "\\\",\\\"nullable\\\":false,\\\"metadata\\\":{}},{\\\"name\\\":\\" +
      "\"email\\\",\\\"type\\\":\\\"string\\\",\\\"nullable\\\":true,\\\"" +
      "metadata\\\":{}},{\\\"name\\\":\\\"ts\\\",\\\"type\\\":\\\"timesta" +
      "mp\\\",\\\"nullable\\\":true,\\\"metadata\\\":{}}]}\",\"idcol\":\"" +
      "user_id\",\"checks\":{\"email_set\":\"email IS NOT NULL\",\"pos\":" +
      "\"user_id > 0\"},\"statscols\":[\"ts\",\"user_id\"],\"renames\":{" +
      "\"email\":[\"mail\",\"e_mail\"]},\"priordirs\":[\"people\",\"perso" +
      "ns\"],\"add\":[{\"path\":\"users/snap-1/part-00000-a.snappy.parque" +
      "t\",\"min\":1,\"max\":40,\"cols\":{\"ts\":[10,20],\"user_id\":[-5," +
      "9223372036854775807]},\"scols\":{\"email\":[\"a\u00efda@x.c\u00e9t" +
      "\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-" +
      "\u00e9t\u00e9-\",\"zo\u00eb\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t" +
      "\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-" +
      "\u00ea\"],\"nm\":[\"\",\"\u00fc\"]},\"dv\":\"_dv/d1.dv\",\"dvn\":3" +
      ",\"rows\":40,\"nulls\":{\"email\":0,\"ts\":2,\"user_id\":0}},{\"pa" +
      "th\":\"users/snap-2/part-00000-b.snappy.parquet\",\"min\":41,\"max" +
      "\":42,\"dv\":\"_dv/d2.dv\",\"dvn\":0}],\"remove\":[\"users/snap-0/" +
      "part-00000-old.snappy.parquet\"]}}}"

  private val CheckpointColumns = Seq(
    "table", "kind", "max_id", "schema_json", "checks_json", "id_col",
    "path", "min_id", "f_max_id", "cols_json", "scols_json", "dv_path",
    "dv_count", "n_rows", "nulls_json", "stats_cols_json", "renames_json",
    "prior_dirs_json")

  private val CheckpointGolden: Seq[Seq[Any]] = Seq(
    Seq("bare", "m", 0L, null, null, null, null, null, null, null, null,
      null, null, null, null, "[]", null, null),
    Seq("users", "m", 42L,
      "{\"type\":\"struct\",\"fields\":[{\"name\":\"user_id\",\"t" +
        "ype\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name" +
        "\":\"email\",\"type\":\"string\",\"nullable\":true,\"metad" +
        "ata\":{}},{\"name\":\"ts\",\"type\":\"timestamp\",\"nullab" +
        "le\":true,\"metadata\":{}}]}",
      "{\"email_set\":\"email IS NOT NULL\",\"pos\":\"user_id > 0" +
        "\"}",
      "user_id", null, null, null, null, null, null, null, null, null,
      "[\"ts\",\"user_id\"]", "{\"email\":[\"mail\",\"e_mail\"]}",
      "[\"people\",\"persons\"]"),
    Seq("users", "f", null, null, null, null,
      "users/snap-1/part-00000-a.snappy.parquet", 1L, 40L,
      "{\"ts\":[10,20],\"user_id\":[-5,9223372036854775807]}",
      "{\"email\":[\"a\u00efda@x.c\u00e9t\u00e9-\u00e9t\u00e9-" +
        "\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-\"" +
        ",\"zo\u00eb\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-" +
        "\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-\u00e9t\u00e9-" +
        "\u00ea\"],\"nm\":[\"\",\"\u00fc\"]}",
      "_dv/d1.dv", 3L, 40L, "{\"email\":0,\"ts\":2,\"user_id\":0}", null,
      null, null),
    Seq("users", "f", null, null, null, null,
      "users/snap-2/part-00000-b.snappy.parquet", 41L, 42L, null, null,
      "_dv/d2.dv", 0L, null, null, null, null, null))

  test("golden: delta bytes are unchanged for every field, a tombstone " +
    "and an explicitly empty stats list") {
    val got = new String(CommitLog.encodeDelta(2L, Stamp, delta), UTF_8)
    assert(got == DeltaGolden)
    assert(CommitLog.decodeDelta(got.getBytes(UTF_8)) == delta)
  }

  test("golden: checkpoint schema, rows, cells and footer are unchanged") {
    val log = freshLog()
    val state = Map("users" -> users, "bare" -> bare)
    log.writeCheckpoint(2L, Stamp, state)
    val p = log.checkpointPath(2L)
    val df = spark.read.parquet(p)
    assert(df.schema.fieldNames.toSeq == CheckpointColumns)
    assert(df.collect().map(_.toSeq).toSeq == CheckpointGolden)
    assert(log.stamp(p) == ((2L, Stamp)))
    assert(log.readCheckpoint(p) == state)
  }

  test("an explicitly empty map decodes like an absent one; an empty " +
    "stats list does not") {
    def table(fields: String): TableDelta = CommitLog.decodeDelta(
      s"""{"tables":{"t":{"maxId":1$fields}}}""".getBytes(UTF_8))("t")
    def file(fields: String): FileEntry = table(
      s""","add":[{"path":"p","min":1,"max":1$fields}]""").add.head
    assert(file(""","cols":{},"scols":{},"nulls":{}""") == file(""))
    assert(file("") == FileEntry("p", 1L, 1L))
    assert(table(""","checks":{},"renames":{},"priordirs":[]""") ==
      table(""))
    assert(table(""","statscols":[]""").statsCols == Some(Nil))
    assert(table("").statsCols.isEmpty)
  }

  // ---- round trip -------------------------------------------------------

  private val char: Gen[Char] = Gen.frequency(
    6 -> Gen.alphaNumChar,
    2 -> Gen.oneOf('é', 'ü', '列', ' ', '"', '\\', '\n', '\u0000', '/'),
    1 -> Gen.choose('\u00a0', '\ud7ff'))
  /** One character: BMP, supplementary (a surrogate pair) or combining. */
  private val codePoint: Gen[String] = Gen.frequency(
    8 -> char.map(_.toString), 1 -> Gen.oneOf("😀", "𝄞", "e\u0301"))
  /** Well-formed UTF-16. */
  private val text: Gen[String] = Gen.listOf(codePoint).map(_.mkString)
  private val name: Gen[String] = Gen.frequency(
    4 -> Gen.identifier.map(_.take(12)),
    1 -> Gen.choose(0, 8).flatMap(Gen.listOfN(_, codePoint))
      .map(_.mkString))
  private val long: Gen[Long] = Gen.frequency(
    4 -> Gen.choose(-1000L, 1000L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L))
  /** Exact pairs and the bound-truncated pairs long strings stage as. */
  private val strPair: Gen[(String, String)] = for {
    a <- text; b <- text; pad <- Gen.listOfN(40, char).map(_.mkString)
    (lo, hi) = if (Catalog.utf8Compare(a, b) <= 0) (a, b) else (b, a)
    truncate <- Gen.oneOf(false, true)
  } yield
    if (!truncate) (lo, hi)
    else Catalog.strStatBounds(lo + pad, hi + pad).getOrElse((lo, hi))
  private def smallMap[V](v: Gen[V]): Gen[Map[String, V]] =
    Gen.choose(0, 3).flatMap(n => Gen.mapOfN(n, Gen.zip(name, v)))
  private val names: Gen[Seq[String]] =
    Gen.choose(0, 3).flatMap(Gen.listOfN(_, name))

  private def file(path: String): Gen[FileEntry] = for {
    mn <- long; mx <- long
    cols <- smallMap(Gen.zip(long, long))
    scols <- smallMap(strPair)
    dv <- Gen.option(Gen.zip(text, Gen.oneOf(Gen.const(0L),
      Gen.choose(1L, Long.MaxValue))))
    rows <- Gen.oneOf(Gen.const(-1L), Gen.choose(0L, Long.MaxValue))
    nulls <- smallMap(Gen.choose(0L, Long.MaxValue))
  } yield FileEntry(path, mn, mx, cols, scols, dv, rows, nulls)

  private def files(canonical: Boolean): Gen[Vector[FileEntry]] = for {
    n <- Gen.choose(0, 4)
    paths <- Gen.listOfN(n, text).map(_.distinct)
    fs <- Gen.sequence[Vector[FileEntry], FileEntry](paths.map(file))
  } yield if (canonical) CommitLog.canonFiles(fs) else fs

  private val schemaOpt: Gen[Option[StructType]] = Gen.oneOf(None,
    Some(schema), Some(StructType(Seq(StructField("é列", LongType)))))

  private val tableState: Gen[TableState] = for {
    maxId <- long; fs <- files(canonical = true); sch <- schemaOpt
    checks <- smallMap(text); idCol <- Gen.option(name)
    statsCols <- Gen.option(names); renames <- smallMap(names)
    priorDirs <- names
  } yield TableState(maxId, fs, sch, checks, idCol, statsCols, renames,
    priorDirs)

  private val tableDelta: Gen[TableDelta] = Gen.frequency(
    1 -> Gen.const(TableDelta.Dropped),
    5 -> (for {
      st <- tableState; add <- files(canonical = false)
      remove <- Gen.listOf(text).map(_.toVector)
    } yield TableDelta(st.maxId, add, remove, st.schema, st.checks,
      st.idCol, st.statsCols, st.renames, st.priorDirs)))

  test("round trip: decodeDelta(encodeDelta(d)) == d") {
    check(Prop.forAll(smallMap(tableDelta), long, long) { (d, v, at) =>
      CommitLog.decodeDelta(CommitLog.encodeDelta(v, at, d)) == d
    })
  }

  test("round trip: a checkpoint reads back every table, whole and " +
    "one at a time, with its footer stamp") {
    val log = freshLog()
    check(Prop.forAll(smallMap(tableState), Gen.choose(1L, 1000L), long) {
      (m, v, at) =>
        log.writeCheckpoint(v, at, m)
        val p = log.checkpointPath(v)
        try log.readCheckpoint(p) == m && log.stamp(p) == ((v, at)) &&
          m.forall { case (t, st) =>
            log.readCheckpointTable(p, t) == Some(st)
          }
        finally Files.delete(java.nio.file.Paths.get(p))
    })
  }
}

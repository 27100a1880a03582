package graft.ext

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

import PreparedTables.warehousePath

/** Shared prepare-once machinery for the layout-at-rest operators
  * ([[BucketedJoin]], [[PartitionedScan]], [[ZOrderLayout]]) and the
  * store-root fixtures: each rewrites fixture tables into a managed
  * layout ONCE per (warehouse, fixture dir, source mtime/size) and
  * reuses the copies until either changes — the ingest-time cost model
  * the 100 TB versions of these ops have. One implementation so a fix
  * to the memo rule or the orphan-directory cleanup cannot silently
  * miss a sibling.
  *
  * '''Cross-process memo (round 17).''' The in-JVM `@volatile` key is
  * only the fast path; staging itself runs under a per-warehouse OS
  * file lock (`_graft_stage.lock`, `FileChannel.lock`, plus a JVM
  * monitor — POSIX locks are process-scoped) and records an on-disk
  * DONE MARKER per fixture (`_graft_staged_<table0>.marker`: the memo
  * key + which managed tables were session-catalog-registered). A
  * later instance — same or different process — ADOPTS the staged
  * copies without the destructive drop+rewrite when the marker's key
  * matches, every managed directory exists, and every
  * catalog-registered table resolves in ITS session. Store-root
  * fixtures (no session-catalog entries — graft Catalog state lives
  * wholly on disk) adopt across processes, which is exactly the
  * `sbt test` + `graft.Verify` shared-checkout race the old
  * single-process assumption documented: one process no longer deletes
  * a root the other is mid-read. saveAsTable fixtures adopt too
  * (round 18) by replaying STAGE-TIME adoption DDL recorded in the
  * marker — see [[adoptDdl]]; plain re-registration is not enough,
  * because bucket specs and partition discovery live in the catalog
  * entry, not the parquet directory. The marker is deleted before a
  * restage and written only after the writer succeeds, so a crash
  * mid-stage can never leave an adoptable lie. */
private[graft] final class PreparedTables(
    sourceFiles: Seq[String],
    managedTables: Seq[String],
    writer: (SparkSession, String) => Unit,
    /** Writer-logic version, part of the memo key: bump when the STAGED
      * CONTENT for the same sources changes (e.g. a trainer starts
      * snapping its means), so an already-staged warehouse restages
      * instead of silently serving the old layout — source mtime/size
      * alone cannot see a code change. */
    version: String = "",
    /** Adoption DDL for one catalog-registered table, INVOKED AT STAGE
      * TIME (with the stager's session, table name, staged location)
      * and recorded in the done marker — an adopting process replays
      * exactly these statements. Layout-carrying fixtures MUST
      * override it: a plain `CREATE TABLE ... USING parquet LOCATION`
      * silently drops the bucket spec (the join shuffles again) and
      * reads a partitioned directory as zero rows — both wrong in
      * ways the content gate cannot see. Stage-time evaluation is
      * load-bearing for dynamic layouts too: a bucket count taken
      * from the session conf (the graph loop tables) must be the
      * STAGER's value, which the adopter's session cannot know. The
      * default emits the explicit-schema plain registration, correct
      * for unbucketed, unpartitioned fixtures only. */
    adoptDdl: (SparkSession, String, String) => Seq[String] =
      PreparedTables.plainAdoptDdl) {

  @volatile private var preparedKey: String = ""

  /** Memo key of the copies last written: warehouse dir + fixture dir +
    * writer version + each source file's (mtime, size) — rewritten
    * fixture content at the same path, a different warehouse in the
    * same JVM, or a bumped writer version triggers a re-prepare instead
    * of silently reusing stale tables. */
  private def memoKey(s: SparkSession, d: String): String = {
    val srcs = sourceFiles.map { f =>
      val p = java.nio.file.Paths.get(d, f)
      if (java.nio.file.Files.exists(p))
        s"$f:${java.nio.file.Files.getLastModifiedTime(p).toMillis}:${java.nio.file.Files.size(p)}"
      else s"$f:absent"
    }
    (s.conf.get("spark.sql.warehouse.dir") +: d +: version +: srcs)
      .mkString("|")
  }

  private def markerPath(wh: Path): Path =
    wh.resolve(s"_graft_staged_${managedTables.head}.marker")

  def ensurePrepared(s: SparkSession, d: String): Unit = {
    val key = memoKey(s, d)
    if (preparedKey == key) return // in-JVM fast path, no IO
    val wh = warehousePath(s)
    Files.createDirectories(wh)
    PreparedTables.withStageLock(wh) {
      if (preparedKey != key) { // may have raced another thread here
        val marker = markerPath(wh)
        val adopted = readMarker(marker) match {
          case Some((mk, catTables, ddl)) if mk == key =>
            managedTables.forall(t => Files.exists(wh.resolve(t))) &&
              catTables.forall(t =>
                s.catalog.tableExists(t) ||
                  adoptCatalogTable(s, t, ddl.getOrElse(t, Nil)))
          case _ => false
        }
        if (!adopted) {
          Files.deleteIfExists(marker) // a crash below must not leave a lie
          prepare(s, d)
          writeMarker(s, wh, key)
        }
        preparedKey = key
      }
    }
  }

  /** Cross-process saveAsTable adoption (round 18, closing SURVEY
    * §7.7.4): a fresh process's in-memory session catalog has no entry
    * for a table another process staged with `saveAsTable`, so until
    * now such fixtures restaged per process (slow-but-safe). The staged
    * DATA is just a parquet directory under the warehouse, though — so
    * when the marker's memo key matches, this replays the STAGE-TIME
    * adoption DDL the marker carries (see [[adoptDdl]]) instead of
    * rewriting, preserving bucket specs and partition discovery that a
    * bare external registration would silently drop. A readability
    * probe guards the result: a mis-declared adoption (a partitioned
    * directory registered unpartitioned) "succeeds" while serving zero
    * rows, and every fixture here is non-empty — an empty or
    * unreadable adoption falls back to restaging, as does a marker
    * with no recorded DDL (pre-upgrade format). [[prepare]]'s
    * drop+delete path still fully clears an external registration plus
    * its directory on restage. Returns false (→ restage) if anything
    * fails — adoption is an optimization, never a correctness
    * gamble. */
  private def adoptCatalogTable(s: SparkSession, t: String,
      stmts: Seq[String]): Boolean =
    try {
      stmts.nonEmpty && {
        stmts.foreach(s.sql(_))
        s.catalog.tableExists(t) && !s.table(t).isEmpty
      }
    } catch { case _: Exception => false }

  /** Marker format: memo key, CSV of catalog-registered tables, then
    * one `<table>\u0001<statement>` line per adoption-DDL statement in
    * replay order. */
  private def writeMarker(s: SparkSession, wh: Path, key: String): Unit = {
    val catTables = managedTables.filter(t => s.catalog.tableExists(t))
    val ddlLines = catTables.flatMap { t =>
      adoptDdl(s, t, wh.resolve(t).toString)
        .map(stmt => s"$t\u0001$stmt")
    }
    Files.write(markerPath(wh),
      (key +: catTables.mkString(",") +: ddlLines).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readMarker(p: Path)
      : Option[(String, Seq[String], Map[String, Seq[String]])] =
    if (!Files.exists(p)) None
    else {
      val lines = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).split("\n", -1)
      if (lines.isEmpty) None
      else {
        val ddl = lines.drop(2).toSeq
          .flatMap { l =>
            l.split("\u0001", 2) match {
              case Array(t, stmt) if stmt.nonEmpty => Some((t, stmt))
              case _ => None
            }
          }
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        Some((lines(0),
          lines.lift(1).map(_.split(",").filter(_.nonEmpty).toSeq)
            .getOrElse(Nil), ddl))
      }
    }

  /** Unconditional restage for callers that need a fresh layout (the
    * z-order spec): same lock + marker discipline as [[ensurePrepared]],
    * never a silent reuse. */
  def forcePrepare(s: SparkSession, d: String): Unit = {
    val wh = warehousePath(s)
    Files.createDirectories(wh)
    PreparedTables.withStageLock(wh) {
      Files.deleteIfExists(markerPath(wh))
      prepare(s, d)
      preparedKey = memoKey(s, d)
      val catTables =
        managedTables.filter(t => s.catalog.tableExists(t))
      Files.write(markerPath(wh),
        (preparedKey + "\n" + catTables.mkString(",")).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Drop stale catalog entries AND any orphan managed-table directory a
    * previous process left (a fresh session's catalog doesn't know about
    * them), then run the writer. Idempotent; callers hold the stage
    * lock. */
  private def prepare(s: SparkSession, d: String): Unit = {
    managedTables.foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val dir = warehousePath(s).resolve(t)
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    writer(s, d)
  }
}

private[graft] object PreparedTables {

  /** Local path of a `spark.sql.warehouse.dir` value. Parsed via Hadoop
    * `Path`, not `new java.net.URI(raw)`: Spark populates this conf from
    * `Path.toString`, which does NOT percent-encode, so a warehouse dir
    * containing a space (or any RFC-3986-reserved char) would throw
    * URISyntaxException; and a scheme-less value must resolve against
    * the process CWD the same way Spark itself resolves it, not surprise
    * the caller with a URI-relative path. */
  def warehousePath(raw: String): Path = {
    val u = new org.apache.hadoop.fs.Path(raw).toUri
    require(u.getScheme == null || u.getScheme == "file",
      s"fixture staging needs a local warehouse dir; got '$raw'")
    Paths.get(u.getPath).toAbsolutePath
  }

  /** Local path of the session's warehouse dir. */
  def warehousePath(s: SparkSession): Path =
    warehousePath(s.conf.get("spark.sql.warehouse.dir"))

  /** Root directory of the store-root fixture `name`: the managed
    * directory `name` under the session's warehouse. */
  def storeRoot(s: SparkSession, name: String): String =
    warehousePath(s).resolve(name).toString

  /** Default adoption DDL: explicit-schema plain external
    * registration. Correct ONLY for unbucketed, unpartitioned
    * fixtures — layout-carrying fixtures override [[PreparedTables]]'s
    * `adoptDdl` with their CLUSTERED BY / PARTITIONED BY statements. */
  def plainAdoptDdl(s: SparkSession, t: String, loc: String): Seq[String] =
    Seq(s"CREATE TABLE $t (${s.table(t).schema.toDDL}) " +
      s"USING parquet LOCATION '$loc'")

  /** Per-warehouse JVM monitors (POSIX locks are process-scoped: a
    * second lock attempt from the same JVM throws instead of
    * blocking, so same-JVM stagers serialize here first). */
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Warehouses whose stage lock THIS thread already holds: fixture
    * writers legitimately stage sub-fixtures (a streaming feed's
    * writer prepares its replay source), so the lock must be
    * REENTRANT per thread — `synchronized` already is, but a second
    * `FileChannel.lock` from the same JVM throws
    * OverlappingFileLockException instead of granting. */
  private val holding = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue() = new java.util.HashSet[String]()
  }

  /** Run `f` holding the per-warehouse stage lock: JVM monitor + OS
    * file lock, so stagings are serialized across threads AND
    * processes sharing one warehouse; reentrant within a thread. */
  private def withStageLock[A](wh: Path)(f: => A): A = {
    val key = wh.toAbsolutePath.normalize.toString
    if (holding.get().contains(key)) f
    else monitors.computeIfAbsent(key, _ => new Object).synchronized {
      val lockFile = wh.resolve("_graft_stage.lock")
      val ch = java.nio.channels.FileChannel.open(lockFile,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        holding.get().add(key)
        try f finally {
          holding.get().remove(key)
          lock.release()
        }
      } finally ch.close()
    }
  }
}

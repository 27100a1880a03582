package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Filesystem SPI for the store's DATA PATH (the [[CommitLock]] SPI's
  * counterpart for everything else): every manifest,
  * delta-log, checkpoint, deletion-vector, lease and vacuum operation
  * the [[Catalog]] performs goes through this trait, so deploying the
  * store on HDFS or an object store is an implementation swap — the
  * OCC/commit design above it is already FS-agnostic (the commit is one
  * atomic rename of a staged file, Delta-Lake's protocol).
  *
  * Two implementations ship:
  *
  *  - [[LocalStoreIO]] (default for scheme-less / `file:` roots):
  *    `java.nio.file` — the fastest primitive on a local or
  *    cluster-POSIX root; byte-identical behavior to the pre-SPI store.
  *  - [[HadoopStoreIO]] (`spark.graft.store.io=hadoop`, or forced when
  *    the root carries a non-`file:` URI scheme): Hadoop
  *    `FileSystem` — the route to HDFS, and the one CI exercises
  *    against `RawLocalFileSystem` so the contract is pinned by the
  *    same fuzz suites as the local impl.
  *
  * '''Commit atomicity, per filesystem.''' The commit protocol needs
  * exactly one primitive: [[rename]] of a fully-written temp file onto
  * `_log/vN.json` must be atomic (readers see the old log listing or
  * the complete new file, never a partial one). POSIX `rename(2)` and
  * HDFS `rename` are atomic; `RawLocalFileSystem.rename` maps to the
  * former. S3 and GCS have NO atomic rename — an object-store port must
  * instead implement [[rename])'s publish step as a conditional put of
  * the delta object (`If-None-Match: *` / `ifGenerationMatch=0`), which
  * is STRONGER (create-if-absent catches a racing commit the lock
  * should have excluded) and pairs with the conditional [[LeaseStore]]
  * the lock SPI already defines. Data files never need atomic rename:
  * they are staged under UUID-unique directories and become visible
  * only via the manifest swap.
  *
  * '''Path currency''' is plain strings (relative, absolute, or
  * URI-qualified — whatever the root was opened with); [[canon]] maps
  * any spelling to one canonical absolute form so identity comparisons
  * (vacuum liveness, fsck orphan detection) are well-defined per impl.
  * Data files are read by Spark's scan, not through this SPI: a scanned
  * row names its file in the key space of
  * [[graft.store.sql.GraftTable.manifestPathOf]], which is the same
  * under every binding.
  */
private[graft] trait StoreIO {
  /** `base + "/" + child` in this FS's path syntax. */
  def resolve(base: String, child: String): String =
    if (base.endsWith("/")) base + child else base + "/" + child

  /** Canonical absolute form for identity comparisons. */
  def canon(path: String): String

  /** `path` relative to `base` (both canonicalized first). */
  def relativize(base: String, path: String): String

  def exists(path: String): Boolean
  def mkdirs(path: String): Unit
  def mtimeMs(path: String): Long

  /** Full content; throws [[StoreIO.NoSuchPath]] when absent (one
    * exception type across impls — java.nio's NoSuchFileException and
    * Hadoop's FileNotFoundException are unrelated hierarchies). */
  def readAllBytes(path: String): Array[Byte]

  /** Plain create/overwrite write (callers stage to a `.tmp` sibling
    * and [[rename]] — the write itself need not be atomic). */
  def write(path: String, bytes: Array[Byte]): Unit

  /** Atomic create-if-absent (the lock-mode marker primitive). True =
    * this caller created it. */
  def createIfAbsent(path: String, bytes: Array[Byte]): Boolean

  /** Atomic publish of a staged file (see the class scaladoc for the
    * per-FS contract). Replaces an existing destination. */
  def rename(src: String, dst: String): Unit

  /** Atomic publish that REFUSES an existing destination — the commit
    * fence at the storage layer: the delta-log publish uses
    * this, so a writer that lost its lease mid-commit and slipped past
    * the client-side fencing read can still never clobber the
    * stealer's landed commit; it collides on the version file instead.
    * True = published; false = the destination already exists (the
    * caller surfaces an OCC conflict). Local: `Files.move(ATOMIC_MOVE)`
    * without REPLACE (the JDK's unix impl existence-checks then
    * renames); HDFS: `rename` natively refuses; S3/GCS ports: the
    * conditional put (`If-None-Match: *` / `ifGenerationMatch=0`) —
    * on those stores this primitive is PERFECTLY atomic, which is why
    * the protocol routes the commit through it. */
  def renameIfAbsent(src: String, dst: String): Boolean

  def delete(path: String): Unit
  def deleteIfExists(path: String): Boolean

  /** Non-recursive children of `dir` (empty when absent). */
  def list(dir: String): Vector[StoreIO.Entry]

  /** Recursive walk of `dir` including `dir` itself and every
    * subdirectory entry (empty when absent) — the vacuum/fsck sweep
    * shape. Paths come back canonical. */
  def walk(dir: String): Vector[StoreIO.Entry]

  /** Hadoop configuration for parquet metadata IO against this store's
    * filesystem ([[CommitLog]]'s checkpoint writer/reader, the staged
    * data files). Pins a `RawLocalFileSystem` for `file:` paths, so no
    * `.crc` sidecars land in `_log/` (fsck treats strays as problems),
    * and sets permissions without forking ([[PosixLocalFileSystem]]). */
  def hadoopConf: Configuration
}

private[graft] object StoreIO {

  /** One listed/walked child: canonical path + the metadata the sweep
    * paths need. `depth` is the path's segment count (empty-dir cleanup
    * deletes deepest-first). */
  final case class Entry(path: String, isDir: Boolean, mtimeMs: Long) {
    def name: String = path.substring(path.lastIndexOf('/') + 1)
    def depth: Int = path.count(_ == '/')
  }

  /** The one "absent path" exception across impls. */
  final class NoSuchPath(path: String, cause: Throwable)
    extends java.io.IOException(s"no such path: $path", cause)

  private val SchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*://".r

  /** The root as a local filesystem path when it IS one (scheme-less,
    * or `file:`); None for genuinely remote roots. The file-based
    * [[CommitLock]] primitives (POSIX locks) exist only in the Some
    * case. */
  def localPathOf(root: String): Option[java.nio.file.Path] =
    SchemeRe.findFirstIn(root) match {
      case None => Some(Paths.get(root))
      case Some(s) if s.startsWith("file://") =>
        Some(Paths.get(new java.net.URI(root)))
      case _ => None
    }

  /** Resolve the configured implementation for one store root:
    * `spark.graft.store.io` = `local` (default) | `hadoop`; a root with
    * a non-`file:` URI scheme forces `hadoop` (java.nio cannot address
    * it). Unlike the commit-lock mode, the choice needs no on-disk
    * pinning: both impls read and write the identical layout and
    * protocol, so mixed-impl processes on one root interoperate. */
  def forRoot(spark: SparkSession, root: String): StoreIO = {
    val mode = spark.conf.getOption("spark.graft.store.io")
      .map(_.trim.toLowerCase).getOrElse("local")
    if (mode != "local" && mode != "hadoop")
      throw new IllegalArgumentException(
        s"spark.graft.store.io must be 'local' or 'hadoop'; got '$mode'")
    val remote = localPathOf(root).isEmpty
    if (remote || mode == "hadoop") hadoop(spark)
    else new LocalStoreIO
  }

  /** The Hadoop impl over the session's Hadoop configuration (test
    * hook + the [[forRoot]] resolution target). */
  def hadoop(spark: SparkSession): HadoopStoreIO = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.file.impl", classOf[PosixLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    new HadoopStoreIO(c)
  }
}

/** `java.nio.file` implementation — the default for local/POSIX roots.
  * Non-final so specs
  * can interpose fault injection on single operations (the
  * publish-fence race test overrides [[renameIfAbsent]]). */
private[graft] class LocalStoreIO extends StoreIO {

  private def p(s: String) = Paths.get(s)

  override def canon(path: String): String =
    p(path).toAbsolutePath.normalize.toString

  override def relativize(base: String, path: String): String =
    p(base).toAbsolutePath.normalize
      .relativize(p(path).toAbsolutePath.normalize).toString

  override def exists(path: String): Boolean = Files.exists(p(path))
  override def mkdirs(path: String): Unit = {
    Files.createDirectories(p(path)); ()
  }
  override def mtimeMs(path: String): Long =
    Files.getLastModifiedTime(p(path)).toMillis

  override def readAllBytes(path: String): Array[Byte] =
    try Files.readAllBytes(p(path))
    catch {
      case e: java.nio.file.NoSuchFileException =>
        throw new StoreIO.NoSuchPath(path, e)
    }

  override def write(path: String, bytes: Array[Byte]): Unit = {
    Files.write(p(path), bytes); ()
  }

  override def createIfAbsent(path: String, bytes: Array[Byte]): Boolean =
    try {
      Files.write(p(path), bytes, StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  override def rename(src: String, dst: String): Unit = {
    Files.move(p(src), p(dst), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  // ATOMIC conditional publish: link(2) fails with EEXIST atomically
  // when the destination exists, so createLink + delete-src is a
  // genuinely conditional rename on every POSIX filesystem — no
  // check-then-move window at all (ATOMIC_MOVE alone maps to
  // rename(2), which REPLACES silently). Filesystems without hard
  // links fall back to the narrow check-then-move the commit lock
  // serializes; object-store ports get the primitive perfectly atomic
  // via the conditional put (see the trait scaladoc).
  override def renameIfAbsent(src: String, dst: String): Boolean = {
    // The try/catch covers ONLY createLink: if the link lands but the
    // source delete threw, falling through to the fallback would see
    // dst existing and report false for a publish that SUCCEEDED —
    // Catalog would then retry and double-apply a committed delta. A
    // leftover src tmp is harmless; a wrong false is not.
    val linked: Option[Boolean] =
      try { Files.createLink(p(dst), p(src)); Some(true) }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => Some(false)
        case _: UnsupportedOperationException | _: java.io.IOException =>
          None // no hard links on this FS: take the fallback below
      }
    linked match {
      case Some(ok) =>
        if (ok) {
          try Files.deleteIfExists(p(src))
          catch { case _: java.io.IOException => () } // best-effort
        }
        ok
      case None =>
        // no-hardlink fallback (FAT/exFAT, some network mounts):
        // best-effort conditional, residue documented at the call site
        !Files.exists(p(dst)) && {
          try {
            Files.move(p(src), p(dst), StandardCopyOption.ATOMIC_MOVE)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        }
    }
  }

  override def delete(path: String): Unit = Files.delete(p(path))
  override def deleteIfExists(path: String): Boolean =
    Files.deleteIfExists(p(path))

  override def list(dir: String): Vector[StoreIO.Entry] =
    if (!Files.exists(p(dir))) Vector.empty
    else {
      val ls = Files.list(p(dir))
      try ls.iterator().asScala.map { c =>
        StoreIO.Entry(c.toAbsolutePath.normalize.toString,
          Files.isDirectory(c), Files.getLastModifiedTime(c).toMillis)
      }.toVector
      finally ls.close()
    }

  override def walk(dir: String): Vector[StoreIO.Entry] =
    if (!Files.exists(p(dir))) Vector.empty
    else {
      val it = Files.walk(p(dir))
      try it.iterator().asScala.map { c =>
        StoreIO.Entry(c.toAbsolutePath.normalize.toString,
          Files.isDirectory(c), Files.getLastModifiedTime(c).toMillis)
      }.toVector
      finally it.close()
    }

  override val hadoopConf: Configuration = {
    val c = new Configuration(false)
    c.set("fs.file.impl", classOf[PosixLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
}

/** Object-store SEMANTICS binding: a [[LocalStoreIO]] that
  * FORBIDS atomic rename — every publish maps to the primitives an
  * S3/GCS port actually has, so the fuzz suites prove the commit
  * protocol correct WITHOUT rename(2):
  *
  *  - [[rename]] (checkpoints, DV sidecars — always onto fresh or
  *    self-owned names) = copy bytes + delete source, the S3
  *    CopyObject+Delete shape;
  *  - [[renameIfAbsent]] (THE commit publish) = conditional
  *    create-if-absent of the destination with the source's bytes +
  *    delete source — one `If-None-Match: *` put. This is exactly the
  *    store-side fence the protocol routes the commit through, and on
  *    a real object store it is PERFECTLY atomic (here the local
  *    CREATE_NEW gives the same guarantee).
  *
  * A real S3 port swaps the byte copies for SDK calls; the SEMANTICS —
  * what the protocol is allowed to assume — are pinned by running
  * StoreFuzzSpec's model fuzz under this binding. Not selectable via
  * conf (it is a proof harness, not a deployment target — deployments
  * bind the SDK). */
private[graft] class ObjectStoreSemanticsIO extends LocalStoreIO {
  override def rename(src: String, dst: String): Unit = {
    write(dst, readAllBytes(src))
    deleteIfExists(src)
    ()
  }
  override def renameIfAbsent(src: String, dst: String): Boolean = {
    val published = createIfAbsent(dst, readAllBytes(src))
    deleteIfExists(src)
    published
  }
}

/** Hadoop `FileSystem` implementation — HDFS and (with a conditional-
  * put rename port, see the trait scaladoc) object stores. CI pins the
  * contract against `RawLocalFileSystem`, whose rename maps to POSIX
  * `rename(2)` (atomic); HDFS rename is atomic by spec. */
private[graft] final class HadoopStoreIO(conf: Configuration)
    extends StoreIO {

  private def fsOf(path: String): (FileSystem, HPath) = {
    val hp = new HPath(path)
    (hp.getFileSystem(conf), hp)
  }

  override def canon(path: String): String = {
    val (fs, hp) = fsOf(path)
    fs.makeQualified(hp).toString
  }

  override def relativize(base: String, path: String): String = {
    val b = canon(base)
    val c = canon(path)
    if (c == b) ""
    else if (c.startsWith(b + "/")) c.substring(b.length + 1)
    else throw new IllegalArgumentException(
      s"'$path' ($c) is not under '$base' ($b)")
  }

  override def exists(path: String): Boolean = {
    val (fs, hp) = fsOf(path); fs.exists(hp)
  }

  override def mkdirs(path: String): Unit = {
    val (fs, hp) = fsOf(path); fs.mkdirs(hp); ()
  }

  override def mtimeMs(path: String): Long = {
    val (fs, hp) = fsOf(path); fs.getFileStatus(hp).getModificationTime
  }

  override def readAllBytes(path: String): Array[Byte] = {
    val (fs, hp) = fsOf(path)
    val in =
      try fs.open(hp)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new StoreIO.NoSuchPath(path, e)
      }
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  override def write(path: String, bytes: Array[Byte]): Unit = {
    val (fs, hp) = fsOf(path)
    val out = fs.create(hp, true)
    try out.write(bytes) finally out.close()
  }

  override def createIfAbsent(path: String,
      bytes: Array[Byte]): Boolean = {
    val (fs, hp) = fsOf(path)
    // FileSystem.create(overwrite = false) is HDFS's atomic
    // create-if-absent (single-writer NameNode op); RawLocalFileSystem
    // maps it to O_CREAT|O_EXCL semantics via exists+create — adequate
    // for the marker's advisory role, and the lock SPI never rests on
    // this primitive (LeaseStore carries the real conditional ops)
    try {
      val out = fs.create(hp, false)
      try out.write(bytes) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException if fs.exists(hp) => false
    }
  }

  override def rename(src: String, dst: String): Unit = {
    val (fs, s) = fsOf(src)
    val d = new HPath(dst)
    // HDFS rename refuses an existing destination (returns false);
    // callers only publish onto fresh names (commit versions are
    // unique under the lock), so a standing destination is crash
    // debris of an identical staged file — clear it and retry once
    if (!fs.rename(s, d)) {
      if (fs.exists(d)) fs.delete(d, false)
      if (!fs.rename(s, d))
        throw new java.io.IOException(s"rename $src -> $dst failed")
    }
  }

  override def renameIfAbsent(src: String, dst: String): Boolean = {
    val (fs, s) = fsOf(src)
    val d = new HPath(dst)
    // Pre-check exists(): HDFS rename
    // natively refuses an existing destination (returns false), but
    // RawLocalFileSystem.rename delegates to File.renameTo — POSIX
    // rename(2), which REPLACES the destination silently and returns
    // true. Without the check, every local-path HadoopStoreIO
    // deployment (the only reachable kind while CommitLock.forRoot
    // requires local roots) had a publish that could clobber a landed
    // commit, making the store-side fence a no-op there.
    // Check-then-rename is not atomic, but the commit lock serializes
    // writers and the fence narrows the residue; genuinely atomic
    // publish needs HDFS's native refusal or a conditional-create port.
    if (fs.exists(d)) false
    else fs.rename(s, d) || {
      if (!fs.exists(d))
        throw new java.io.IOException(s"rename $src -> $dst failed")
      false
    }
  }

  override def delete(path: String): Unit = {
    val (fs, hp) = fsOf(path)
    if (!fs.delete(hp, false))
      throw new java.io.IOException(s"delete failed: $path")
  }

  override def deleteIfExists(path: String): Boolean = {
    val (fs, hp) = fsOf(path)
    try fs.delete(hp, false)
    catch { case _: java.io.FileNotFoundException => false }
  }

  override def list(dir: String): Vector[StoreIO.Entry] = {
    val (fs, hp) = fsOf(dir)
    if (!fs.exists(hp)) Vector.empty
    else fs.listStatus(hp).toVector.map { st =>
      StoreIO.Entry(fs.makeQualified(st.getPath).toString,
        st.isDirectory, st.getModificationTime)
    }
  }

  override def walk(dir: String): Vector[StoreIO.Entry] = {
    val (fs, hp) = fsOf(dir)
    if (!fs.exists(hp)) Vector.empty
    else {
      val out = Vector.newBuilder[StoreIO.Entry]
      def go(p: HPath): Unit = {
        val st = fs.getFileStatus(p)
        out += StoreIO.Entry(fs.makeQualified(p).toString,
          st.isDirectory, st.getModificationTime)
        if (st.isDirectory) fs.listStatus(p).foreach(c => go(c.getPath))
      }
      go(hp)
      out.result()
    }
  }

  override val hadoopConf: Configuration = conf
}

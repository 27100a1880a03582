package graft.store

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.types.{DataType, StructType}

/** One live parquet file: path relative to root + surrogate-id stats
  * (minId > maxId encodes "no rows / no stats", never prunable) +
  * optional per-column value stats for the table's designated
  * [[Schemas.statsColumns]] (Delta-style data skipping: values are
  * normalized to an orderable Long — epoch micros for timestamps, the
  * value itself for integral columns). A column absent from the map
  * has no stats and is never pruned on — correctness cannot depend on
  * stats presence.
  *
  * `scols` carries the same skipping metadata for STRING stats columns
  * as BOUNDED min/max: the recorded pair is an OUTER bound of the
  * file's true range — min is an exact value or a truncated prefix
  * (<= every value), max is exact or a prefix-incremented upper bound
  * (Delta's truncation trick, see [[Catalog.strStatHi]]) — compared in
  * UTF-8 binary order (Spark's string order). Bounds being outer means
  * pruning by them is always sound; a value whose bound cannot be
  * represented records no stat. */
private[store] case class FileEntry(path: String, minId: Long,
    maxId: Long, cols: Map[String, (Long, Long)] = Map.empty,
    scols: Map[String, (String, String)] = Map.empty,
    /** Deletion vector (merge-on-read): `Some((sidecar relative path,
      * dead-row count))` marks rows of THIS file dead by surrogate id
      * without rewriting it — the sidecar ([[DvIO]]) lists the dead
      * ids. Readers mask ([[sql.DvMaskedScan]] on the scan route,
      * [[DriverReads]] on the driver); compaction and COW
      * rewrites fold the mask in (their output carries no dv).
      * Sidecars are immutable: a further delete on the same file
      * writes a NEW sidecar with the union, so time travel reads each
      * snapshot's own mask. Stats stay OUTER bounds (a dead row can
      * only make them loose, never wrong). */
    dv: Option[(String, Long)] = None,
    /** Physical row count at stage time; -1 = unknown (the file was
      * staged without one). The `rows >= 0` marker also scopes
      * [[nulls]]: only files that recorded counts make null-pruning
      * claims. */
    rows: Long = -1L,
    /** Per-column NULL counts for every column the file was staged
      * WITH (zeros recorded explicitly — a column absent from this
      * map did not exist at stage time, e.g. pre-evolution files, and
      * is never pruned on). `nulls(c) == 0` lets `IS NULL` probes
      * skip the file; `nulls(c) == rows` (all-null) lets
      * `IS NOT NULL` probes skip it — both stay sound under deletion
      * vectors, which can only shrink the visible subset. */
    nulls: Map[String, Long] = Map.empty)

/** Per-table manifest state. `schema = None` means the registry schema
  * ([[Schemas.registry]]); `Some` is an EVOLVED schema
  * ([[Catalog!.Tx.addColumn]]) that every manifest from that commit on
  * carries — schema versioning rides the same atomic manifest swap as
  * the data, so a snapshot's schema and its files are always
  * consistent (and time travel reads an old snapshot through the
  * schema it had THEN). */
private[store] case class TableState(maxId: Long, files: Vector[FileEntry],
    schema: Option[StructType] = None,
    checks: Map[String, String] = Map.empty,
    /** Surrogate-id column when the table is NOT in [[Schemas.registry]]
      * (a shallow clone of a registered table carries its source's id
      * column and effective schema in the manifest, so the clone is
      * fully writable without registration). */
    idCol: Option[String] = None,
    /** Designated stats columns carried in the manifest: `None` falls
      * back to the name-keyed [[Schemas.statsColumns]] registry (the
      * fixture bootstrap); `Some` pins the list as table state —
      * `CREATE TABLE`'d tables, clones (which inherit their source's
      * effective list), and `setStatsColumns` DDL all ride it, so
      * stage-time stats collection, `optimize ZORDER`,
      * readRange/SQL-door file skipping, and merge OCC reconcile work
      * on DYNAMIC tables exactly as on fixture tables. Like
      * schema/idCol, the list versions with the manifest: time travel
      * reads each snapshot's own list. `Some(Nil)` is "explicitly no
      * stats" (overrides the registry). */
    statsCols: Option[Seq[String]] = None,
    /** Column-rename history (the Delta column-mapping analogue
      * without file rewrites): current logical name -> the PRIOR names
      * this column carried, newest first. Files written before a
      * rename keep their bytes and their old header name; readers
      * build a union read schema (current + prior twins, nullable) and
      * COALESCE — parquet by-name resolution NULL-backfills whichever
      * name a file lacks, so exactly the name the file carries
      * supplies the value (a genuine NULL stays NULL through the
      * coalesce). New files always write the CURRENT name, so
      * compaction/OPTIMIZE naturally migrate the layout. Like
      * schema/idCol, the map versions with the manifest: time travel
      * reads each snapshot through its own names, and clones inherit
      * it. The surrogate id is not renameable (DV masks, dense-id
      * plumbing). */
    renames: Map[String, Seq[String]] = Map.empty,
    /** Directories (root-relative, = prior table names) this table's
      * files lived under before a RENAME TABLE. File entries keep
      * their old-name paths across a rename (zero-copy), so
      * [[Catalog.vacuum]] on the NEW name must sweep the old
      * directories too — without this record, dead pre-rename
      * rewrites under the old path would be reclaimable only by
      * vacuuming the OLD name, which no caller routes to after the
      * rename (unbounded garbage). Chained renames accumulate;
      * compaction never clears the list (cheap to re-sweep an empty
      * dir, dangerous to forget a non-empty one). */
    priorDirs: Seq[String] = Nil)

/** One commit's per-table delta: adds carry full entries (stats
  * included), removes are paths; the metadata fields are the table's
  * ABSOLUTE post-commit values (small — bytes, not file lists). */
private[store] case class TableDelta(maxId: Long, add: Vector[FileEntry],
    remove: Vector[String], schema: Option[StructType],
    checks: Map[String, String], idCol: Option[String],
    statsCols: Option[Seq[String]] = None,
    renames: Map[String, Seq[String]] = Map.empty,
    priorDirs: Seq[String] = Nil,
    /** DROP TABLE tombstone: the table's manifest key is removed by
      * this commit. History below stays readable (time travel /
      * restore replay OLD manifests); the files lose their last
      * CURRENT reference and retire once vacuum retention passes the
      * retained history that still names them. A tombstone carries no
      * other field. */
    dropped: Boolean = false)

private[store] object TableDelta {
  /** The DROP TABLE tombstone, as it decodes. */
  val Dropped: TableDelta = TableDelta(0L, Vector.empty, Vector.empty, None,
    Map.empty, None, dropped = true)
}

/** The store's commit log under `<root>/_log/` — the one place that
  * knows its on-disk format. Two kinds of file make up the log; any
  * other name in `_log/` is not part of it (fsck reports it):
  *
  * {{{
  *   v<N>.json                one DELTA per commit
  *   v<N>.checkpoint.parquet  the FULL state at version N
  * }}}
  *
  * '''Deltas.''' A JSON object `{"_version", "_committedAtMs",
  * "tables"}`; `tables` maps each table the commit changed, in name
  * order, to either `{"dropped": true}` or its post-commit metadata
  * (`maxId`, `schema`, `idcol`, `checks`, `statscols`, `renames`,
  * `priordirs`) plus `add` (full [[FileEntry]] objects) and `remove`
  * (paths). Bytes are proportional to the commit, never to the table.
  * The atomic publish of the file IS the commit ([[Catalog]] owns the
  * publish and its fencing).
  *
  * '''Checkpoints.''' Every [[Catalog.CheckpointInterval]]-th version
  * also gets ONE parquet file ([[Schema]]): one metadata row
  * (`kind = "m"`) per table and one row per live file entry
  * (`kind = "f"`), sorted by (table, kind, path). The version and the
  * delta's commit stamp ride the footer key-value metadata, so
  * [[stamp]] reads no row content. Because rows are sorted by table and
  * row groups are small ([[RowGroupBytes]]), a single-table read
  * ([[readCheckpointTable]]) pushes `table = t` into the scan and
  * parses only that table's entries. The file is a plain parquet table,
  * so `spark.read.parquet` can audit it at scale.
  *
  * Invariants of the encoding:
  *  - each JSON fragment (cols, scols, nulls, checks, statscols,
  *    renames, priordirs) has ONE [[Fragment]] codec: deltas embed it
  *    as a subtree, checkpoints store it as a `*_json` string cell. A
  *    state therefore decodes identically from either form, and fsck's
  *    checkpoint-vs-replay audit compares states, not bytes;
  *  - encoding is deterministic: object keys sorted, empty maps and
  *    `rows < 0` omitted, `statscols` written whenever defined (`[]`
  *    is "explicitly no stats", distinct from absent);
  *  - decoding treats an absent field as empty (maps), `None`
  *    (options), -1 (`rows`) or 0 (a `dvn` / `dv_count` next to a
  *    present DV path), and reads a checkpoint through the FILE's own
  *    parquet schema, so a column the file lacks decodes as absent;
  *  - decoded file vectors are in canonical path order
  *    ([[canonFiles]]);
  *  - every file lands through a tmp sibling + rename, via the store's
  *    [[StoreIO]]; the parquet reader and writer bind to its
  *    `hadoopConf`, which keeps `.crc` sidecars out of `_log/`. */
private[store] final class CommitLog(io: StoreIO, val dir: String) {
  import CommitLog._

  def deltaPath(v: Long): String = io.resolve(dir, s"v$v.json")

  def checkpointPath(v: Long): String =
    io.resolve(dir, s"v$v.checkpoint.parquet")

  /** A fresh tmp sibling for version `v`'s delta. UUID-unique: two
    * writers racing for the same version never share staged bytes. */
  def deltaTmpPath(v: Long): String =
    io.resolve(dir, s"v$v.json." +
      java.util.UUID.randomUUID().toString.take(8) + ".tmp")

  /** Every log file as (version, isCheckpoint, path); empty if no log. */
  def list(): Vector[(Long, Boolean, String)] =
    io.list(dir).flatMap(e =>
      parseName(e.name).map { case (v, ck) => (v, ck, e.path) })

  /** Files in the log directory that are not log files. */
  def strays(): Vector[String] =
    io.list(dir).filter(e => !e.isDir && parseName(e.name).isEmpty)
      .map(_.path)

  def readDelta(p: String): Map[String, TableDelta] =
    decodeDelta(io.readAllBytes(p))

  def deltaAt(v: Long): Map[String, TableDelta] = readDelta(deltaPath(v))

  /** Write `state` as the checkpoint of version `v` (tmp + rename). */
  def writeCheckpoint(v: Long, committedAtMs: Long, state: Manifest)
      : Unit = {
    val target = checkpointPath(v)
    val tmp = target + ".tmp"
    io.deleteIfExists(tmp)
    val c = conf()
    GroupWriteSupport.setSchema(Schema, c)
    val meta = Map(VersionKey -> v.toString,
      StampKey -> committedAtMs.toString)
    val w: ParquetWriter[Group] = ExampleParquetWriter
      .builder(new HPath(tmp))
      .withConf(c)
      .withType(Schema)
      .withExtraMetaData(meta.asJava)
      .withRowGroupSize(RowGroupBytes.toLong)
      .withDictionaryEncoding(true)
      .build()
    val gf = new SimpleGroupFactory(Schema)
    def putCell[A](g: Group, name: String, frag: Fragment[A], a: A): Unit =
      g.append(name, frag.toCell(a))
    try {
      state.toSeq.sortBy(_._1).foreach { case (tbl, st) =>
        val m = gf.newGroup()
        m.append("table", tbl).append("kind", "m")
        m.append("max_id", st.maxId)
        st.schema.foreach(s => m.append("schema_json", s.json))
        if (st.checks.nonEmpty) putCell(m, "checks_json", Checks, st.checks)
        st.idCol.foreach(m.append("id_col", _))
        st.statsCols.foreach(putCell(m, "stats_cols_json", Names, _))
        if (st.renames.nonEmpty)
          putCell(m, "renames_json", Renames, st.renames)
        if (st.priorDirs.nonEmpty)
          putCell(m, "prior_dirs_json", Names, st.priorDirs)
        w.write(m)
        st.files.sortBy(_.path).foreach { f =>
          val g = gf.newGroup()
          g.append("table", tbl).append("kind", "f")
          g.append("path", f.path).append("min_id", f.minId)
          g.append("f_max_id", f.maxId)
          if (f.cols.nonEmpty) putCell(g, "cols_json", Cols, f.cols)
          if (f.scols.nonEmpty) putCell(g, "scols_json", Scols, f.scols)
          f.dv.foreach { case (dp, dn) =>
            g.append("dv_path", dp).append("dv_count", dn)
          }
          if (f.rows >= 0L) g.append("n_rows", f.rows)
          if (f.nulls.nonEmpty) putCell(g, "nulls_json", Nulls, f.nulls)
          w.write(g)
        }
      }
    } finally w.close()
    io.rename(tmp, target)
  }

  /** (version, committedAtMs) of a checkpoint from its footer alone —
    * no row content is read. */
  def stamp(p: String): (Long, Long) = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(p), conf()))
    try {
      val kv = r.getFooter.getFileMetaData.getKeyValueMetaData
      (Option(kv.get(VersionKey)).map(_.toLong).getOrElse(
        throw new IllegalStateException(
          s"parquet checkpoint $p carries no $VersionKey footer entry")),
        Option(kv.get(StampKey)).map(_.toLong).getOrElse(0L))
    } finally r.close()
  }

  /** Commit time of a listed log file: the stamp written inside it,
    * else the file's mtime (a checkpoint whose footer cannot be read
    * falls back the same way rather than failing). */
  def committedAtMs(isCheckpoint: Boolean, p: String): Long = {
    val stamped =
      if (isCheckpoint)
        try Some(stamp(p)._2).filter(_ > 0L)
        catch { case _: Exception => None }
      else Option(mapper.readTree(io.readAllBytes(p)).get("_committedAtMs"))
        .map(_.asLong())
    stamped.getOrElse(io.mtimeMs(p))
  }

  /** Every table's state in the checkpoint at `p`. */
  def readCheckpoint(p: String): Manifest =
    readRows(p, None).groupBy(_.getString("table", 0)).flatMap {
      case (tbl, rows) => decodeTable(rows).map(tbl -> _)
    }

  /** One table's state in the checkpoint at `p`: row groups whose
    * `table` stats exclude it are skipped, so the cost follows the
    * table's entry count, not the store's. */
  def readCheckpointTable(p: String, table: String): Option[TableState] =
    decodeTable(readRows(p, Some(table)))

  /** Fresh per-call copy of the store FS configuration:
    * `GroupWriteSupport.setSchema` mutates the conf it is given, and a
    * shared instance would race concurrent checkpoint writers. */
  private def conf(): Configuration = new Configuration(io.hadoopConf)

  /** The checkpoint's rows in file order. Read through the FILE's own
    * schema (no projection), so a checkpoint written before a format
    * column existed stays readable — decoding checks field presence
    * per row. */
  private def readRows(p: String, table: Option[String])
      : Vector[Group] = {
    val b = ParquetReader.builder(new GroupReadSupport(), new HPath(p))
      .withConf(conf())
    val reader = table match {
      case Some(t) => b.withFilter(FilterCompat.get(FilterApi.eq(
        FilterApi.binaryColumn("table"), Binary.fromString(t)))).build()
      case None => b.build()
    }
    val out = Vector.newBuilder[Group]
    try {
      var g = reader.read()
      while (g != null) {
        out += g
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }
}

private[store] object CommitLog {
  type Manifest = Map[String, TableState]

  /** Small row groups so the sorted `table` column's per-group stats
    * give sub-file access; at a million files this is ~thousands of
    * groups — the footer stays driver-trivial. */
  private val RowGroupBytes = 64 * 1024

  private val VersionKey = "graft.version"
  private val StampKey = "graft.committedAtMs"

  private val Schema: MessageType = MessageTypeParser.parseMessageType(
    """message graft_checkpoint {
      |  required binary table (UTF8);
      |  required binary kind (UTF8);
      |  optional int64 max_id;
      |  optional binary schema_json (UTF8);
      |  optional binary checks_json (UTF8);
      |  optional binary id_col (UTF8);
      |  optional binary path (UTF8);
      |  optional int64 min_id;
      |  optional int64 f_max_id;
      |  optional binary cols_json (UTF8);
      |  optional binary scols_json (UTF8);
      |  optional binary dv_path (UTF8);
      |  optional int64 dv_count;
      |  optional int64 n_rows;
      |  optional binary nulls_json (UTF8);
      |  optional binary stats_cols_json (UTF8);
      |  optional binary renames_json (UTF8);
      |  optional binary prior_dirs_json (UTF8);
      |}""".stripMargin)

  private val mapper = new ObjectMapper()

  private val DeltaName = "v(\\d+)\\.json".r
  private val CheckpointName = "v(\\d+)\\.checkpoint\\.parquet".r

  /** (version, isCheckpoint) of a log file name; None for any other. */
  private def parseName(n: String): Option[(Long, Boolean)] = n match {
    case DeltaName(v) => Some((v.toLong, false))
    case CheckpointName(v) => Some((v.toLong, true))
    case _ => None
  }

  /** Canonical file order: every decoded state sorts its file vector by
    * path. Checkpoints store entries sorted while delta replay appends
    * changed entries at the tail; without one order, two readers of the
    * SAME state (one via checkpoint, one via replay) would disagree on
    * Vector equality, breaking fsck's divergence audit and OCC's state
    * comparisons. */
  def canonFiles(v: Vector[FileEntry]): Vector[FileEntry] = v.sortBy(_.path)

  /** The codec of one JSON fragment. A delta embeds `encode`'s node as
    * a subtree; a checkpoint stores it as a string cell. */
  private final class Fragment[A](val encode: A => JsonNode,
      val decode: JsonNode => A) {
    def toCell(a: A): String = mapper.writeValueAsString(encode(a))
    def fromCell(s: String): A = decode(mapper.readTree(s))
  }

  private def sortedObject[V](m: Map[String, V])(
      put: (ObjectNode, String, V) => Unit): JsonNode = {
    val n = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => put(n, k, v) }
    n
  }

  private def members[V](n: JsonNode)(get: JsonNode => V): Map[String, V] =
    n.properties().asScala.map(e => e.getKey -> get(e.getValue)).toMap

  private def strArray(xs: Seq[String]): JsonNode = {
    val a = mapper.createArrayNode()
    xs.foreach(a.add)
    a
  }

  private def strs(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq

  /** Per-column integral (min, max): `{"c": [lo, hi], ...}`. */
  private val Cols = new Fragment[Map[String, (Long, Long)]](
    sortedObject(_)((n, c, r) => n.putArray(c).add(r._1).add(r._2)),
    members(_)(a => (a.get(0).asLong(), a.get(1).asLong())))

  /** Per-column bounded string (min, max): `{"c": ["lo", "hi"], ...}`. */
  private val Scols = new Fragment[Map[String, (String, String)]](
    sortedObject(_)((n, c, r) => n.putArray(c).add(r._1).add(r._2)),
    members(_)(a => (a.get(0).asText(), a.get(1).asText())))

  /** Per-column null counts: `{"c": n, ...}`. */
  private val Nulls = new Fragment[Map[String, Long]](
    sortedObject(_)((n, c, v) => n.put(c, v)), members(_)(_.asLong()))

  /** CHECK constraints by name: `{"name": "sql", ...}`. */
  private val Checks = new Fragment[Map[String, String]](
    sortedObject(_)((n, k, v) => n.put(k, v)), members(_)(_.asText()))

  /** An ordered name list — `statscols` and `priordirs`: `["a", ...]`. */
  private val Names = new Fragment[Seq[String]](strArray, strs)

  /** Rename history, current name -> prior names newest first:
    * `{"cur": ["prior", ...], ...}`. */
  private val Renames = new Fragment[Map[String, Seq[String]]](
    sortedObject(_)((n, k, ps) => n.set[JsonNode](k, strArray(ps))),
    members(_)(strs))

  private def fileNode(f: FileEntry): JsonNode = {
    val n = mapper.createObjectNode()
    n.put("path", f.path); n.put("min", f.minId); n.put("max", f.maxId)
    if (f.cols.nonEmpty) n.set[JsonNode]("cols", Cols.encode(f.cols))
    if (f.scols.nonEmpty) n.set[JsonNode]("scols", Scols.encode(f.scols))
    f.dv.foreach { case (p, c) => n.put("dv", p); n.put("dvn", c) }
    if (f.rows >= 0L) n.put("rows", f.rows)
    if (f.nulls.nonEmpty) n.set[JsonNode]("nulls", Nulls.encode(f.nulls))
    n
  }

  private def field[A](n: JsonNode, key: String, frag: Fragment[A])
      : Option[A] = Option(n.get(key)).map(frag.decode)

  private def decodeFile(f: JsonNode): FileEntry =
    FileEntry(f.get("path").asText(), f.get("min").asLong(),
      f.get("max").asLong(),
      field(f, "cols", Cols).getOrElse(Map.empty),
      field(f, "scols", Scols).getOrElse(Map.empty),
      Option(f.get("dv")).map(d =>
        (d.asText(), Option(f.get("dvn")).map(_.asLong()).getOrElse(0L))),
      Option(f.get("rows")).map(_.asLong()).getOrElse(-1L),
      field(f, "nulls", Nulls).getOrElse(Map.empty))

  private def toSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** The bytes of one delta file: `delta`'s tables in name order. */
  def encodeDelta(version: Long, committedAtMs: Long,
      delta: Map[String, TableDelta]): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("_version", version)
    root.put("_committedAtMs", committedAtMs)
    val tables = root.putObject("tables")
    delta.toSeq.sortBy(_._1).foreach { case (tbl, td) =>
      val t = tables.putObject(tbl)
      if (td.dropped) t.put("dropped", true)
      else {
        t.put("maxId", td.maxId)
        td.schema.foreach(s => t.put("schema", s.json))
        td.idCol.foreach(c => t.put("idcol", c))
        if (td.checks.nonEmpty)
          t.set[JsonNode]("checks", Checks.encode(td.checks))
        td.statsCols.foreach(sc =>
          t.set[JsonNode]("statscols", Names.encode(sc)))
        if (td.renames.nonEmpty)
          t.set[JsonNode]("renames", Renames.encode(td.renames))
        if (td.priorDirs.nonEmpty)
          t.set[JsonNode]("priordirs", Names.encode(td.priorDirs))
        if (td.add.nonEmpty) {
          val a = t.putArray("add")
          td.add.foreach(f => a.add(fileNode(f)))
        }
        if (td.remove.nonEmpty) t.set[JsonNode]("remove", strArray(td.remove))
      }
    }
    mapper.writeValueAsBytes(root)
  }

  def decodeDelta(bytes: Array[Byte]): Map[String, TableDelta] =
    Option(mapper.readTree(bytes).get("tables")).map(members(_) { t =>
      if (Option(t.get("dropped")).exists(_.asBoolean())) TableDelta.Dropped
      else
        TableDelta(t.get("maxId").asLong(),
          Option(t.get("add")).map(_.elements().asScala.map(decodeFile)
            .toVector).getOrElse(Vector.empty),
          Option(t.get("remove")).map(strs(_).toVector)
            .getOrElse(Vector.empty),
          Option(t.get("schema")).map(n => toSchema(n.asText())),
          field(t, "checks", Checks).getOrElse(Map.empty),
          Option(t.get("idcol")).map(_.asText()),
          field(t, "statscols", Names),
          field(t, "renames", Renames).getOrElse(Map.empty),
          field(t, "priordirs", Names).getOrElse(Nil))
    }).getOrElse(Map.empty)

  private def optStr(g: Group, name: String): Option[String] =
    if (!g.getType.containsField(name)) None // column the file predates
    else if (g.getFieldRepetitionCount(name) > 0) Some(g.getString(name, 0))
    else None

  private def optLong(g: Group, name: String): Option[Long] =
    if (g.getFieldRepetitionCount(name) > 0) Some(g.getLong(name, 0))
    else None

  private def optCell[A](g: Group, name: String, frag: Fragment[A])
      : Option[A] = optStr(g, name).map(frag.fromCell)

  /** One table's state from its checkpoint rows; None without a
    * metadata row. */
  private def decodeTable(rows: Seq[Group]): Option[TableState] =
    rows.find(_.getString("kind", 0) == "m").map { m =>
      val files = rows.filter(_.getString("kind", 0) == "f").map { g =>
        FileEntry(g.getString("path", 0), g.getLong("min_id", 0),
          g.getLong("f_max_id", 0),
          optCell(g, "cols_json", Cols).getOrElse(Map.empty),
          optCell(g, "scols_json", Scols).getOrElse(Map.empty),
          optStr(g, "dv_path").map(dp =>
            (dp, optLong(g, "dv_count").getOrElse(0L))),
          optLong(g, "n_rows").getOrElse(-1L),
          optCell(g, "nulls_json", Nulls).getOrElse(Map.empty))
      }.toVector
      TableState(m.getLong("max_id", 0), canonFiles(files),
        optStr(m, "schema_json").map(toSchema),
        optCell(m, "checks_json", Checks).getOrElse(Map.empty),
        optStr(m, "id_col"),
        optCell(m, "stats_cols_json", Names),
        optCell(m, "renames_json", Renames).getOrElse(Map.empty),
        optCell(m, "prior_dirs_json", Names).getOrElse(Nil))
    }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.store.Catalog

import PreparedTables.storeRoot

/** [EXT] incremental index maintenance == rebuild — the 100 TB property
  * the whole index family (LSH buckets, IVF cells, postings) relies on
  * but previously only implied: an index kept up to date THROUGH the
  * store's ingest path must be indistinguishable from one rebuilt from
  * scratch.
  *
  * The index here is the minhash LSH band-key table (the candidate
  * structure behind `ext_dedup_minhash`, same md5 construction so the
  * DuckDB oracle can replay it): four rows per document, one per band,
  * keyed `idx_key = doc_id * 4 + band` — unique per row, so document
  * re-indexing is a natural [[Catalog.Tx.merge]] upsert.
  *
  * Fixture prep stages TWO ingest ticks on a store root
  * ([[PreparedTables]] memo):
  *
  *   - version 1 indexes docs `doc_id <= 299`, but the `(200, 299]`
  *     slice is indexed from STALE content (`upper(text)` — token
  *     structure preserved, shingles and therefore band keys changed);
  *   - version 2 is ONE merge of the corrected `(200, 299]` slice plus
  *     the brand-new `(299, 499]` docs: matched keys rewrite their
  *     band_key in place (the update maintenance path), unmatched keys
  *     insert (the new-doc path).
  *
  * The gate query computes LSH candidate pairs FROM THE STORE-MAINTAINED
  * INDEX, while the oracle recomputes the same pairs from the raw
  * `documents` fixture — i.e. the from-scratch REBUILD. A single stale
  * band key surviving the merge (or a missed insert) changes the pair
  * set and the row hash goes red: the gate row IS the
  * incremental-equals-rebuild check. IndexMaintainSpec additionally
  * diffs the index table itself against an in-memory rebuild and pins
  * that version 1 was genuinely stale.
  *
  * Scale shape: the merge's rewrite cost is proportional to the files
  * holding matched keys (content pruning, [[Catalog.Tx.merge]]); the
  * candidate-pair query is the capped-bucket self-join of the dedup
  * family — key-equality shuffles only, bucket cap 64 bounds the pair
  * fan-out exactly as in `ext_dedup_minhash`'s oracle.
  *
  * The SECOND index family under the same contract is the IVF cell
  * assignment ([[IvfSearch]]): one (vec_id, cell) row per vector,
  * maintained through the same two-tick stale-then-merge fixture and
  * gated against a from-scratch reassignment of the raw embeddings
  * (`ext_index_incremental_ivf`).
  */
object IndexMaintain {

  private val NumHashes = 16
  private val BandSize = 4
  private[graft] val NumBands = NumHashes / BandSize
  private val BucketCap = 64

  /** Batch-1 universe: docs with id <= D1; `(OverlapLo, D1]` arrives
    * stale in batch 1 and corrected in batch 2. */
  private[graft] val D1 = 299L
  private[graft] val OverlapLo = 200L

  private val Root = "graft_index_root"

  /** (idx_key, doc_id, band, band_key) rows for a (doc_id, text) batch —
    * the same shingle -> 16 seeded-md5 minhash -> 4 band keys pipeline
    * as [[Dedup]] (so the oracle's SQL replay matches bit-for-bit),
    * minus the rep-clustering (an index stores EVERY doc). */
  private[graft] def bandRows(s: SparkSession, docs: DataFrame): DataFrame = {
    val m5 = (c: Column) => graft.functions.FastMd5.fast_md5(s, c)
    val m5b = (c: Column) => graft.functions.FastMd5.fast_md5_bin(s, c)
    val sh = docs
      .select(col("doc_id"),
        graft.functions.ShingleGen.shingle_gen(s, col("text"), 3).as("sh"))
    val sig = sh.groupBy("doc_id")
      .agg(min(m5b(concat(lit("0:"), col("sh")))).as("m0"),
        (1 until NumHashes).map(j =>
          min(m5b(concat(lit(s"$j:"), col("sh")))).as(s"m$j")): _*)
      .select(col("doc_id") +: (0 until NumHashes).map(j =>
        lower(hex(col(s"m$j"))).as(s"m$j")): _*)
    sig.select(col("doc_id"),
        posexplode(array((0 until NumBands).map { b =>
          m5(concat((lit(s"$b:") +: (0 until BandSize)
            .map(r => col(s"m${b * BandSize + r}"))): _*))
        }: _*)))
      .select((col("doc_id") * NumBands + col("pos")).as("idx_key"),
        col("doc_id"), col("pos").cast("int").as("band"),
        col("col").as("band_key"))
  }

  /** Stage the two ingest ticks on a fresh root. */
  private def write(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, Root))
    require(cat.version == 0L,
      s"stale graft_index_root (v${cat.version}) survived fixture prep")
    val docs = Tables.documents(s, d).select("doc_id", "text")
    // v1: (OverlapLo, D1] indexed from stale content — upper() keeps the
    // token structure (same docs indexed) but changes every shingle that
    // contains a lowercase letter, hence the band keys
    val stale = docs.filter(col("doc_id") <= D1)
      .select(col("doc_id"),
        when(col("doc_id") > OverlapLo, upper(col("text")))
          .otherwise(col("text")).as("text"))
    cat.append("lsh_index", bandRows(s, stale), orderBy = Seq("idx_key"))
    // v2: one merge = corrected overlap (keyed update) + new docs (insert)
    val batch2 = docs.filter(col("doc_id") > OverlapLo)
    cat.transaction { tx =>
      tx.merge("lsh_index", bandRows(s, batch2), "idx_key")
    }
  }

  private val prepared = new PreparedTables(
    Seq("documents.parquet"), Seq(Root), write)

  def ensurePrepared(s: SparkSession, d: String): Unit =
    prepared.ensurePrepared(s, d)

  private[graft] def readIndex(s: SparkSession): DataFrame =
    new Catalog(s, storeRoot(s, Root)).read("lsh_index")

  /** Capped LSH candidate pairs from the incrementally-maintained index;
    * the oracle rebuilds the index from the raw fixture. */
  val indexIncremental: Q = Q(
    "ext_index_incremental",
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 2),
       |    i -> array_to_string(w[i:i+2], ' ')))) AS sh
       |  FROM (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
       |    FROM documents) tokd
       |  WHERE len(w) >= 3),
       |sig AS (
       |  SELECT doc_id,
       |${(0 until NumHashes).map(j =>
          s"    MIN(md5('$j:' || sh)) AS m$j").mkString(",\n")}
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |${(0 until NumBands).map(b =>
          s"  SELECT doc_id, md5('$b:' || ${(0 until BandSize).map(r =>
            s"m${b * BandSize + r}").mkString(" || ")}) AS band_key FROM sig")
          .mkString("\n  UNION ALL\n")}),
       |bsz AS (SELECT band_key, COUNT(*) AS bn FROM bands GROUP BY band_key)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |JOIN bsz z ON z.band_key = a.band_key
       |WHERE z.bn <= $BucketCap
       |ORDER BY doc_a, doc_b""".stripMargin
  ) { (s, d) =>
    ensurePrepared(s, d)
    val idx = readIndex(s).select("doc_id", "band_key")
    val hot = idx.groupBy("band_key").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > BucketCap).select("band_key")
    val ok = idx.join(hot, Seq("band_key"), "left_anti")
    ok.as("a")
      .join(ok.as("b"), col("a.band_key") === col("b.band_key")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }.copy(setup = Some(ensurePrepared _))

  // ---------------------------------------- IVF cell-assignment index

  /** Batch-1 universe bound and stale-slice floor for the IVF index —
    * the vector-table analogue of [[D1]]/[[OverlapLo]]. Centroids are
    * the K lowest vec_ids ([[IvfSearch.cents]]), all below the overlap,
    * so the quantizer is identical across both ticks (an index's
    * quantizer is fixed at build time). */
  private[graft] val D1V = 299L
  private[graft] val OverlapLoV = 200L

  private val IvfRoot = "graft_ivf_index_root"

  /** (vec_id, cell) under the seed quantizer of the TRUE vectors —
    * the rebuild truth ([[IvfSearch.assigned]] on raw embeddings). */
  private[graft] def cellRows(s: SparkSession, v: DataFrame): DataFrame =
    IvfSearch.assigned(s, v, IvfSearch.cents(v))
      .select(col("vec_id"), col("cell").cast("long").as("cell"))

  /** Rebuild truth straight from the fixture dir (spec hook). */
  private[graft] def cellRowsAt(s: SparkSession, d: String): DataFrame =
    cellRows(s, Similarity.vecs(s, d))

  /** Stage the two IVF ingest ticks: v1 indexes `vec_id <= D1V` but the
    * `(OverlapLoV, D1V]` slice is assigned from STALE content (the
    * embedding REVERSED — same norm, different direction, so the
    * max-cosine cell moves for most vectors); v2 is ONE
    * [[Catalog.Tx.merge]] of the corrected slice plus the brand-new
    * `(D1V, ..]` vectors, keyed by `vec_id` — matched keys rewrite
    * their cell in place, unmatched insert. */
  private def writeIvf(s: SparkSession, d: String): Unit = {
    val cat = new Catalog(s, storeRoot(s, IvfRoot))
    require(cat.version == 0L,
      s"stale graft_ivf_index_root (v${cat.version}) survived fixture prep")
    val v = Similarity.vecs(s, d)
    val c = IvfSearch.cents(v)
    val stale = v.filter(col("vec_id") <= D1V)
      .select(col("vec_id"),
        when(col("vec_id") > OverlapLoV, reverse(col("e")))
          .otherwise(col("e")).as("e"),
        col("nrm"))
    cat.append("ivf_index",
      IvfSearch.assigned(s, stale, c)
        .select(col("vec_id"), col("cell").cast("long").as("cell")),
      orderBy = Seq("vec_id"))
    val batch2 = v.filter(col("vec_id") > OverlapLoV)
    cat.transaction { tx =>
      tx.merge("ivf_index",
        IvfSearch.assigned(s, batch2, c)
          .select(col("vec_id"), col("cell").cast("long").as("cell")),
        "vec_id")
    }
  }

  private val preparedIvf = new PreparedTables(
    Seq("embeddings.parquet"), Seq(IvfRoot), writeIvf)

  def ensureIvfPrepared(s: SparkSession, d: String): Unit =
    preparedIvf.ensurePrepared(s, d)

  private[graft] def readIvfIndex(s: SparkSession): DataFrame =
    new Catalog(s, storeRoot(s, IvfRoot)).read("ivf_index")

  /** The store-maintained IVF cell assignment vs the from-scratch
    * rebuild: the oracle recomputes every vector's max-cosine cell from
    * the raw embeddings (the `assigned` CTE of `ext_sim_ivf`, whose
    * cross-engine bit-exactness that row already proves). One stale
    * cell surviving the merge — or one missed insert — is a red row. */
  val indexIncrementalIvf: Q = Q(
    "ext_index_incremental_ivf",
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |cents AS (
       |  SELECT vec_id AS cent_id, e AS ce FROM v
       |  WHERE vec_id < ${IvfSearch.K})
       |SELECT vec_id, cent_id AS cell FROM (
       |  SELECT v.vec_id, c.cent_id,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      ${Similarity.dotSql("v.e", "c.ce")}
       |        / (${Similarity.normSql("v.e")} * ${Similarity.normSql("c.ce")})
       |        DESC, c.cent_id) AS arank
       |  FROM v CROSS JOIN cents c) s
       |WHERE arank = 1 ORDER BY vec_id""".stripMargin
  ) { (s, d) =>
    ensureIvfPrepared(s, d)
    readIvfIndex(s).select("vec_id", "cell").orderBy("vec_id")
  }.copy(setup = Some(ensureIvfPrepared _))

  val all: Seq[Q] = Seq(indexIncremental, indexIncrementalIvf)
}

package graft.ext

import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}

/** [EXT] benchmark decontamination: flag corpus documents that share
  * word n-grams with a held-out evaluation set — the standard guard
  * against train/test leakage in LLM data pipelines (n-gram overlap per
  * GPT-3 appendix C / Gopher section A.3-style filtering; public
  * methodology, applied to the fixture corpus).
  *
  * The "benchmark" here is a deterministic doc_id slice of `documents`
  * standing in for an external eval corpus; in production it is a
  * separate (small) table, which is exactly why the blocklist side
  * BROADCASTS: eval suites are a few million n-grams at most, so the
  * 100 TB corpus is scanned once, its shingles checked against the
  * broadcast set map-side, and the only exchange is the final per-doc
  * aggregate on doc_id — a narrow, high-cardinality key. No shuffle of
  * the corpus text ever happens.
  *
  * Shingle width: 3 words, matching [[Dedup]]'s shingle vocabulary (the
  * fixture texts are short synthetic sentences; production pipelines use
  * 8-13-gram windows, which is a constant in one place). Hit counting is
  * over each document's DISTINCT shingle set, so `n_hits / n_shingles`
  * is a well-defined contamination fraction; both counts are emitted
  * raw (the quotient is left to the caller — a rounded ratio of small
  * integers is a cross-engine rounding-tie hazard, see
  * [[graft.core.Determinism]]).
  */
object Decontam {

  private val EvalMod = 53
  private val NGram = 3

  private val toksSql =
    """list_filter(string_split_regex(text, '\s+'), t -> t <> '')"""

  val decontam: Q = Q(
    "ext_corpus_decontam",
    s"""WITH tokd AS (
       |  SELECT doc_id, $toksSql AS w FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - ${NGram - 1}),
       |    i -> array_to_string(w[i:i+${NGram - 1}], ' ')))) AS sh
       |  FROM tokd WHERE len(w) >= $NGram),
       |block AS (SELECT DISTINCT sh FROM sh WHERE doc_id % $EvalMod = 0),
       |corp AS (SELECT * FROM sh WHERE doc_id % $EvalMod <> 0)
       |SELECT c.doc_id, COUNT(b.sh) AS n_hits, COUNT(*) AS n_shingles
       |FROM corp c LEFT JOIN block b ON c.sh = b.sh
       |GROUP BY c.doc_id HAVING COUNT(b.sh) > 0
       |ORDER BY c.doc_id""".stripMargin
  ) { (s, d) =>
    val shingled = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.ShingleGen.shingle_gen(s, col("text"), NGram)
          .as("sh"))
    val block = shingled.filter(col("doc_id") % EvalMod === 0)
      .select("sh").distinct()
      .withColumn("hit", lit(1))
    shingled.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(block), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_hits"),
        count(lit(1)).as("n_shingles"))
      .filter(col("n_hits") > 0)
      .orderBy("doc_id")
  }

  /** Split-leakage audit — the OTHER half of train/test hygiene:
    * [[decontam]] guards against an EXTERNAL eval set; this guards the
    * pipeline's OWN held-out split against near-duplicate leakage. The
    * verified minhash near-dup pairs ([[Dedup.minhashPairs]], jaccard
    * >= 0.6 — the exact pair set of `ext_dedup_minhash`) are joined to
    * the deterministic split assignment of `ext_split_assign`
    * (md5-prefix bounds) and rolled up per (split_a, split_b): any row
    * with split_a != split_b is a leak — a test/val document whose
    * near-duplicate sits in train, silently inflating eval scores. The
    * census shape (counts + max jaccard per class) is the dashboard
    * row; the leaking pair LIST is the same join without the rollup.
    *
    * Scale shape: inherits the dedup family's skew-bounded candidate
    * pipeline wholesale (capped LSH buckets, rep-collapsed exact
    * clusters); the split label is a row-local md5 projection and the
    * rollup keys on a 3x3 class space — the audit adds ONE broadcast-
    * scale join and a tiny aggregate on top of pairs the pipeline
    * already computes. */
  val splitLeakage: Q = Q(
    "ext_split_leakage",
    s"""WITH pairs AS (
       |${Dedup.minhashPairsSqlBody}),
       |sp AS (SELECT doc_id,
       |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '028f'
       |         THEN 'test'
       |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '051e'
       |         THEN 'val'
       |       ELSE 'train' END AS split FROM documents)
       |SELECT sa.split AS split_a, sb.split AS split_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  MAX(p.jaccard) AS max_jaccard
       |FROM pairs p
       |JOIN sp sa ON sa.doc_id = p.doc_a
       |JOIN sp sb ON sb.doc_id = p.doc_b
       |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin
  ) { (s, d) =>
    val sp = Tables.documents(s, d).select(col("doc_id"),
      when(substring(graft.functions.FastMd5.fast_md5(s,
        col("doc_id").cast("string")), 1, 4) < "028f", "test")
        .when(substring(graft.functions.FastMd5.fast_md5(s,
          col("doc_id").cast("string")), 1, 4) < "051e", "val")
        .otherwise("train").as("split"))
    Dedup.minhashPairs(s, d)
      .join(sp.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy("split_a", "split_b")
  }

  val all: Seq[Q] = Seq(decontam, splitLeakage)
}

package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Diagnostic main: stage-level time attribution for the dedup family
  * (VERDICT r2 task 1 — "measure first, do not rewrite blind").
  *
  * Re-inlines the ext_dedup_minhash pipeline and forces each intermediate
  * with count(), printing wall-clock + row counts, so the 267 s can be
  * attributed to a specific stage instead of theorized about.
  */
object ProfileDedup {
  private def toks(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  -> $r")
      r
    }

    // ---- stage 1: clustered (window over fp) ----
    val wfp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val mem = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fp"), toks(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .withColumn("rep_id", min(col("doc_id")).over(wfp))
      .withColumn("csize", count(lit(1)).over(wfp))
      .cache()
    time("mem (clustered+cache)")(mem.count())

    // ---- stage 2: repShingles ----
    val sh = mem.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("csize"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("w")) - 2),
          i => concat_ws(" ", slice(col("w"), i, lit(3)))))).as("sh"))
      .cache()
    time("sh (repShingles+cache)")(sh.count())

    val NumHashes = 16
    val BandSize = 4
    val BucketCap = 64

    // ---- stage 3: signatures ----
    val sig = sh.groupBy("doc_id")
      .agg(
        min(md5(concat(lit("0:"), col("sh")))).as("m0"),
        (1 until NumHashes).map(j =>
          min(md5(concat(lit(s"$j:"), col("sh")))).as(s"m$j"))
          :+ first(col("csize")).as("csize"): _*)
    time("sig (16 min-md5 aggs)")(sig.count())

    // ---- stage 4: bands ----
    val bands = sig.select(col("doc_id"), col("csize"),
      explode(array((0 until NumHashes / BandSize).map { b =>
        md5(concat((lit(s"$b:") +: (0 until BandSize)
          .map(r => col(s"m${b * BandSize + r}"))): _*))
      }: _*)).as("band_key")).cache()
    time("bands (+cache)")(bands.count())

    val hot = bands.groupBy("band_key")
      .agg(sum(col("csize")).as("bweight"))
      .filter(col("bweight") > BucketCap)
      .select("band_key")
    time("hot buckets")(hot.count())

    val bandsOk = bands.join(hot, Seq("band_key"), "left_anti")
    time("bandsOk (anti-join)")(bandsOk.count())

    // ---- stage 5: candidate self-join ----
    val cand = bandsOk.as("a")
      .join(bandsOk.as("b"),
        col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("rep_a"), col("b.doc_id").as("rep_b"))
      .distinct()
    time("cand (band self-join)")(cand.count())
    println("[profile] cand plan:")
    cand.explain("formatted")

    // ---- stage 6: intersection verify ----
    val inter = cand
      .join(sh.as("sa"), col("sa.doc_id") === col("rep_a"))
      .join(sh.as("sb"),
        col("sb.doc_id") === col("rep_b") && col("sb.sh") === col("sa.sh"))
      .groupBy("rep_a", "rep_b").agg(count(lit(1)).as("n_int"))
    time("inter (verify joins)")(inter.count())
    println("[profile] inter plan:")
    inter.explain("formatted")

    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val jac = col("n_int") * lit(1.0) /
      (col("za.n_sh") + col("zb.n_sh") - col("n_int"))
    val repPairs = inter
      .join(sizes.as("za"), col("za.doc_id") === col("rep_a"))
      .join(sizes.as("zb"), col("zb.doc_id") === col("rep_b"))
      .filter(jac >= 0.6)
      .select(col("rep_a"), col("rep_b"), round(jac, 4).as("jaccard"))
    time("repPairs")(repPairs.count())

    // ---- full end-to-end, as Bench runs it ----
    spark.catalog.clearCache()
    time("FULL ext_dedup_minhash")(
      graft.ext.Dedup.minhashLsh.fn(spark, sfDir).count())
    spark.catalog.clearCache()
    time("FULL ext_dedup_simhash")(
      graft.ext.Dedup.simhash.fn(spark, sfDir).count())
    spark.catalog.clearCache()
    time("FULL ext_dedup_ngram")(
      graft.ext.Dedup.ngramJaccard.fn(spark, sfDir).count())

    spark.stop()
  }
}

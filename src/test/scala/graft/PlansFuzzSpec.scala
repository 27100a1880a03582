package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.{AsOf, IntervalJoin}

/** Randomized differential tests for the custom join operators: every
  * case is checked against a driver-side brute-force reference, across
  * both physical variants, both as-of directions, and random tolerances.
  * Seeded — failures reproduce. Key domains are deliberately tiny so
  * collisions, duplicate (key, time) probes, empty groups, and
  * single-sided keys all occur constantly.
  */
class PlansFuzzSpec extends SparkSuite {
  import spark.implicits._

  private val Cases = 12

  test("as-of join equals the brute-force reference on random data — " +
    "both variants x both directions x tolerance on/off") {
    val rnd = new Random(sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260815L))
    for (c <- 1 to Cases) {
      val nl = 1 + rnd.nextInt(60); val nr = rnd.nextInt(60)
      val keys = Array("a", "b", "c", "d")
      val left = Seq.fill(nl)((keys(rnd.nextInt(4)),
        rnd.nextInt(50).toLong, rnd.nextInt(1000)))
        .toDF("pk", "pt", "pv")
      val rightRows = Seq.fill(nr)((keys(rnd.nextInt(4)),
        rnd.nextInt(50).toLong, rnd.nextInt(1000)))
        // unique (key, time): the documented tie contract
        .distinctBy(x => (x._1, x._2))
      val right = rightRows.toDF("k", "t", "v")
      val fwd = rnd.nextBoolean()
      val tol = if (rnd.nextBoolean()) Some(rnd.nextInt(15).toLong) else None
      // driver-side reference
      val byKey = rightRows.groupBy(_._1)
      val lRows = left.as[(String, Long, Int)].collect()
      val expect = lRows.map { case (pk, pt, pv) =>
        val cands = byKey.getOrElse(pk, Seq.empty)
        val m =
          if (!fwd) cands.filter(_._2 <= pt).sortBy(_._2).lastOption
            .filter(r => tol.forall(pt - r._2 <= _))
          else cands.filter(_._2 >= pt).sortBy(_._2).headOption
            .filter(r => tol.forall(r._2 - pt <= _))
        (pk, pt, pv, m.map(_._3))
      }.groupBy(identity).view.mapValues(_.length).toMap
      // both physical variants, plus the round-13 skew-salted rewrite
      // (salt factor fuzzed too: 2..7)
      val salt = 2 + rnd.nextInt(6)
      for ((bc, sa) <- Seq((Some(false), None), (Some(true), None),
          (Some(false), Some(salt)))) {
        val got = AsOf.join(left, right, Seq("pk" -> "k"), "pt", "t",
          tolerance = tol, forward = fwd, broadcastRight = bc,
          skewSalt = sa)
          .select("pk", "pt", "pv", "v")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
            Option(r.get(3)).map(_.asInstanceOf[Int])))
          .groupBy(identity).view.mapValues(_.length).toMap
        assert(got == expect,
          s"case $c (fwd=$fwd tol=$tol bc=$bc salt=$sa nl=$nl " +
            s"nr=${rightRows.size}):" +
            s" diff ${(got.toSet diff expect.toSet).take(3)} / " +
            s"${(expect.toSet diff got.toSet).take(3)}")
      }
      // round-14 AUTO path: thresholds scaled down so the census FIRES
      // on the tiny fuzz fixtures (ratio=1 & minKeyRows=1 make every
      // distribution "hot"); the auto-chosen factor — fuzz-varied via
      // targetRowsPerTask — must be semantics-neutral exactly like the
      // explicit salts above
      val autoConfs = Seq(
        graft.plans.SkewSalt.AutoMinLeftBytesKey -> "1",
        graft.plans.SkewSalt.AutoMinKeyRowsKey -> "1",
        graft.plans.SkewSalt.AutoRatioKey -> "1",
        graft.plans.SkewSalt.AutoTargetRowsKey ->
          (1 + rnd.nextInt(20)).toString)
      autoConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        graft.plans.SkewSalt.clearCensusCache()
        val got = AsOf.join(left, right, Seq("pk" -> "k"), "pt", "t",
          tolerance = tol, forward = fwd, broadcastRight = Some(false))
          .select("pk", "pt", "pv", "v")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
            Option(r.get(3)).map(_.asInstanceOf[Int])))
          .groupBy(identity).view.mapValues(_.length).toMap
        assert(got == expect,
          s"case $c AUTO (fwd=$fwd tol=$tol nl=$nl nr=${rightRows.size}):" +
            s" diff ${(got.toSet diff expect.toSet).take(3)} / " +
            s"${(expect.toSet diff got.toSet).take(3)}")
      } finally {
        autoConfs.foreach { case (k, _) => spark.conf.unset(k) }
        graft.plans.SkewSalt.clearCensusCache()
      }
    }
  }

  test("interval join equals the brute-force reference on random data — " +
    "both variants") {
    val rnd = new Random(sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong + 1).getOrElse(977L))
    for (c <- 1 to Cases) {
      val nl = rnd.nextInt(50); val nr = rnd.nextInt(50)
      val keys = Array("a", "b", "c")
      def mk(n: Int) = Seq.fill(n) {
        val st = rnd.nextInt(40).toLong
        // includes empty (len 0) intervals, which must never match
        (keys(rnd.nextInt(3)), st, st + rnd.nextInt(10).toLong,
          rnd.nextInt(1000))
      }
      val lRows = mk(nl); val rRows = mk(nr)
      val left = lRows.toDF("k", "st", "en", "lv")
      val right = rRows.toDF("rk", "rst", "ren", "rv")
      val expect = (for {
        (lk, ls, le, lv) <- lRows
        (rk, rs, re, rv) <- rRows
        if lk == rk && ls < re && rs < le
      } yield (lv, rv)).groupBy(identity).view.mapValues(_.length).toMap
      val salt = 2 + rnd.nextInt(6)
      for ((bc, sa) <- Seq((Some(false), None), (Some(true), None),
          (Some(false), Some(salt)))) {
        val got = IntervalJoin.join(left, right, Seq("k" -> "rk"),
          "st", "en", "rst", "ren", broadcastRight = bc, skewSalt = sa)
          .select("lv", "rv").as[(Int, Int)].collect()
          .groupBy(identity).view.mapValues(_.length).toMap
        assert(got == expect,
          s"case $c (bc=$bc salt=$sa nl=$nl nr=$nr): got ${got.size} " +
            s"distinct vs ${expect.size}; " +
            s"diff ${(got.toSet diff expect.toSet).take(3)}" +
            s" / ${(expect.toSet diff got.toSet).take(3)}")
      }
    }
  }

  test("local plan fold equals the same random join -> aggregate/window " +
    "-> filter tree run with the rule excluded") {
    val rnd = new Random(sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong + 2)
      .getOrElse(20261019L))
    val doubles = Array(0.0, -0.0, Double.NaN, 1.5)
    def schema(p: String) = StructType(Seq(
      StructField(s"${p}id", IntegerType, nullable = false),
      StructField(s"${p}k", IntegerType),
      StructField(s"${p}d", DoubleType),
      StructField(s"${p}m", DecimalType(8, 2))))
    def rows(n: Int, base: Int): Seq[Row] = (0 until n).map(i => Row(
      base + i,
      if (rnd.nextInt(5) == 0) null else rnd.nextInt(4),
      if (rnd.nextInt(6) == 0) null else doubles(rnd.nextInt(4)),
      if (rnd.nextInt(6) == 0) null
      else java.math.BigDecimal.valueOf(rnd.nextInt(2000) - 1000L, 2)))
    val joinTypes = Array("inner", "left_outer", "left_semi", "left_anti")
    for (c <- 1 to 2 * Cases) {
      // non-empty inputs: Spark itself folds a join with an empty side
      val lRows = rows(1 + rnd.nextInt(40), 0)
      val rRows = rows(1 + rnd.nextInt(40), 1000)
      val jt = joinTypes(rnd.nextInt(4))
      val keyCase = rnd.nextInt(4)
      val residual = rnd.nextBoolean()
      val tail = rnd.nextInt(4)
      val cut = rnd.nextInt(3)
      val semi = jt == "left_semi" || jt == "left_anti"
      def query(l: DataFrame, r: DataFrame): DataFrame = {
        val keys = keyCase match {
          case 0 => l("k") === r("rk")
          case 1 => l("k") <=> r("rk")
          case 2 => l("d") === r("rd")
          case _ => l("k") === r("rk") && l("d") <=> r("rd")
        }
        val joined = l.join(r,
          if (residual) keys && l("m") > r("rm") else keys, jt)
        // every row's (id, rid) is unique, so row_number has no ties
        val order = if (semi) Seq(col("id").desc)
          else Seq(col("id").desc, col("rid").asc)
        tail match {
          case 0 => joined.groupBy("k").agg(count(lit(1)).as("n"),
              sum("m").as("s"), max("d").as("x"), min("id").as("i"))
            .filter(if (cut == 0) col("n") > 1 else lit(true))
          case 1 => joined.groupBy("d").agg(count("m").as("n"),
              min("m").as("s"))
            .filter(if (cut == 0) col("s").isNotNull else lit(true))
          case 2 => joined.withColumn("rn", row_number().over(
              Window.partitionBy("k").orderBy(order: _*)))
            .filter(if (cut < 2) col("rn") === 1 else lit(true))
          case _ => joined.withColumn("rk2", rank().over(
              Window.partitionBy("d").orderBy(col("m").desc)))
            .withColumn("dr", dense_rank().over(
              Window.partitionBy("d").orderBy(col("m").desc)))
            .filter(if (cut == 0) col("dr") <= 2 else lit(true))
        }
      }
      def run(): (DataFrame, Seq[String]) = {
        val q = query(spark.createDataFrame(lRows.asJava, schema("")),
          spark.createDataFrame(rRows.asJava, schema("r")))
        (q, q.collect().map(_.toString).toSeq.sorted)
      }
      val (folded, got) = run()
      val key = "spark.sql.optimizer.excludedRules"
      spark.conf.set(key, graft.plans.LocalPlanFold.ruleName)
      val (kept, want) = try run() finally spark.conf.unset(key)
      val what = s"case $c ($jt keys=$keyCase residual=$residual " +
        s"tail=$tail cut=$cut nl=${lRows.size} nr=${rRows.size})"
      assert(folded.queryExecution.optimizedPlan
        .isInstanceOf[LocalRelation], s"$what not folded")
      assert(!kept.queryExecution.optimizedPlan
        .isInstanceOf[LocalRelation], s"$what folded")
      assert(got == want, s"$what: ${got.diff(want).take(3)} / " +
        s"${want.diff(got).take(3)}")
    }
  }
}

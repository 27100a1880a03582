package graft

import scala.util.Random

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
}

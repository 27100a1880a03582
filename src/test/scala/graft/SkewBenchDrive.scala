package graft

import org.apache.spark.sql.functions._

/** Micro-benchmark: the skew-salted as-of rewrite vs the plain
  * co-partitioned walk on a PLANTED hot key — the straggler shape AQE
  * cannot split for a custom exec. Left side: `nHot` probe rows all on
  * one key (plus a uniform tail over `nKeys` keys); right side: `nRight`
  * history rows per key. Unsalted, the hot key's entire probe set sorts
  * and walks in ONE task; salted, it spreads across `salt` tasks with
  * the right history replicated per bucket.
  *
  * Usage: SkewBenchDrive [nHot] [nKeys] [nRightPerKey] [salt] [reps]
  */
object SkewBenchDrive {
  def main(args: Array[String]): Unit = {
    val nHot = args.headOption.map(_.toInt).getOrElse(4000000)
    val nKeys = if (args.length > 1) args(1).toInt else 31
    val nRight = if (args.length > 2) args(2).toInt else 2000
    val salt = if (args.length > 3) args(3).toInt else 16
    val reps = if (args.length > 4) args(4).toInt else 3
    val spark = graft.core.Sessions.local()

    // left: nHot rows on key 0 (the planted skew) + nHot/4 uniform tail
    val left = spark.range(nHot)
      .select(lit(0L).as("k"), (col("id") * 37L % 1000000007L).as("t"),
        col("id").as("lid"))
      .unionAll(spark.range(nHot / 4)
        .select((col("id") % nKeys + 1L).as("k"),
          (col("id") * 41L % 1000000007L).as("t"), col("id").as("lid")))
      .localCheckpoint(true)
    val right = spark.range((nKeys + 1).toLong * nRight)
      .select((col("id") % (nKeys + 1)).as("rk"),
        (col("id") * 97L % 1000000007L).as("rt"), col("id").as("rv"))
      .localCheckpoint(true)

    def run(saltOpt: Option[Int]): (Double, Long) = {
      var best = Double.MaxValue
      var chk = 0L
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val j = graft.plans.AsOf.join(left, right, Seq("k" -> "rk"),
          "t", "rt", broadcastRight = Some(false), skewSalt = saltOpt)
        val tPlan = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        chk = j.agg(count(lit(1)), sum(col("rv"))).collect()(0).getLong(0)
        val tExec = (System.nanoTime() - t1) / 1e9
        System.err.println(
          f"[skewbench]   salt=$saltOpt rep$i plan=$tPlan%.2f s exec=$tExec%.2f s")
        best = math.min(best, tPlan + tExec)
      }
      (best, chk)
    }

    // Some(0) pins salting OFF (round 14: an absent request now means
    // census-driven AUTO detection, which would rescue the planted key
    // and erase the baseline this drive exists to measure)
    val (tu, cu) = run(Some(0))
    val (ts, cs) = run(Some(salt))
    // AUTO: no knob anywhere — the census detects the planted hot key
    // and picks its own factor (first rep pays the census job; the
    // min-of-reps steady state rides the per-plan cache)
    graft.plans.SkewSalt.clearCensusCache()
    val (ta, ca) = run(None)
    require(cu == cs && cu == ca,
      s"salted/auto result diverged: $cu vs $cs vs $ca")
    println(f"[skewbench] unsalted=$tu%.2f s salted($salt)=$ts%.2f s " +
      f"auto=$ta%.2f s speedup=${tu / ts}%.2fx autoSpeedup=${tu / ta}%.2fx " +
      f"rows=$cu (nHot=$nHot nRight=$nRight)")
    spark.stop()
  }
}

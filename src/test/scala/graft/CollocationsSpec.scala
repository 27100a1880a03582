package graft

class CollocationsSpec extends SparkSuite {

  private def docTokens: Seq[(Long, Seq[String])] =
    graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq)).toSeq

  test("collocations equal a local recomputation over the top-50 vocab") {
    val docs = docTokens.map { case (id, ts) => (id, ts.distinct.toSet) }
    val df = docs.flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val top = df.toSeq.sortBy { case (t, c) => (-c, t) }.take(50).toMap
    val nDocs = docs.size.toLong
    val pairCounts = docs.flatMap { case (_, ts) =>
      val keep = ts.filter(top.contains).toSeq.sorted
      for (i <- keep.indices; j <- (i + 1) until keep.length)
        yield (keep(i), keep(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val local = pairCounts.filter(_._2 >= 5).map { case ((a, b), cab) =>
      (a, b, top(a), top(b), cab,
        cab * nDocs * 1000000L / (top(a) * top(b)))
    }.toSeq.sortBy { case (a, b, _, _, _, l) => (-l, a, b) }.take(20)
    val got = graft.ext.Collocations.collocations.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == local, s"spark $got\nvs local $local")
  }

  test("zipf fit equals a local OLS over the top-100 ranks and the " +
    "slope is negative") {
    val cnts = docTokens.flatMap(_._2).groupBy(identity)
      .map { case (t, xs) => (t, xs.size.toLong) }.toSeq
      .sortBy { case (t, c) => (-c, t) }.take(100)
    val xs = cnts.indices.map(i => math.log((i + 1).toDouble))
    val ys = cnts.map { case (_, c) => math.log(c.toDouble) }
    val m = cnts.size.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum
    val syy = ys.map(a => a * a).sum
    val slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    val intercept = (sy - slope * sx) / m
    val r2 = (m * sxy - sx * sy) * (m * sxy - sx * sy) /
      ((m * sxx - sx * sx) * (m * syy - sy * sy))
    val r = graft.ext.Collocations.zipfFit.fn(spark, sf).collect()(0)
    assert(r.getLong(0) == cnts.size.toLong)
    assert(math.abs(r.getDouble(1) - slope) < 1e-5)
    assert(math.abs(r.getDouble(2) - intercept) < 1e-5)
    assert(math.abs(r.getDouble(3) - r2) < 1e-5)
    assert(r.getDouble(1) < 0.0, "zipf slope must be negative")
  }

  test("length gini equals the brute mean-absolute-difference " +
    "definition and sits in [0, 1)") {
    val lens = graft.core.Tables.documents(spark, sf)
      .select("n_chars").collect().map(_.getLong(0))
    val n = lens.length.toLong
    val s = lens.sum
    val mad = (for (a <- lens; b <- lens) yield (a - b).abs).map(BigInt(_)).sum
    val brute = mad * 1000000 / (BigInt(2) * n * s) // G = MAD/(2 n mu)
    val r = graft.ext.Collocations.lengthGini.fn(spark, sf).collect()(0)
    assert(r.getLong(0) == n && r.getLong(1) == s)
    assert(BigInt(r.getLong(2)) == brute,
      s"gini ${r.getLong(2)} vs brute $brute")
    assert(r.getLong(2) >= 0 && r.getLong(2) < 1000000)
  }

  test("vocab growth curve is monotone, ends at the full-corpus census, " +
    "and vocab never exceeds cumulative tokens") {
    val rows = graft.ext.Collocations.vocabGrowth.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == (1L to 10L))
    val byK = rows.sortBy(_._1)
    Seq[((Long, Long, Long, Long, Long)) => Long](_._3, _._4, _._5)
      .foreach { f =>
        val vs = byK.map(f)
        assert(vs.zip(vs.tail).forall { case (x, y) => x <= y },
          s"non-monotone: ${vs.toSeq}")
      }
    val toks = docTokens
    val last = byK.last
    assert(last._3 == toks.size.toLong)
    assert(last._4 == toks.map(_._2.size.toLong).sum)
    assert(last._5 == toks.flatMap(_._2).distinct.size.toLong)
    byK.foreach { case (_, _, _, tk, vk) => assert(vk <= tk) }
  }
}

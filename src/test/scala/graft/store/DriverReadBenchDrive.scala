package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.functions._

import graft.service.Portal

/** Micro-benchmark: the scan-vs-driver crossover of the store's read
  * routes ([[DriverReads]]), the measurement behind
  * [[DriverReads.MaxRows]].
  *
  * Protocol: for each table size N, seed a `users`-shaped table of N
  * rows in files of `rowsPerFile` rows, then time five calls on each
  * route (median of `reps`):
  *  - '''point''': `read(t).filter(email = x).limit(1).collect()` —
  *    Portal's login shape;
  *  - '''sorted''': `read(t).filter(..).orderBy(..).select(..)
  *    .collect()` — Portal's event list shape;
  *  - '''count''': `read(t).count()` — the stream ingest's read-back;
  *  - '''cold''': the point call on a fresh `Catalog` (the driver route
  *    decodes every file; the scan route lists and plans them);
  *  - '''cold count''': the count on a fresh `Catalog`.
  * The scan route is [[Catalog.scanRead]]; the driver route is a
  * [[DriverReads]] per catalog instance with no cap, so it is measured
  * on both sides of [[DriverReads.MaxRows]]. Every call plans through
  * the session's rules: under the cap the driver route's sort and
  * count fold on the driver ([[graft.plans.LocalPlanFold]]), above it
  * they run `SortExec` and an aggregate job.
  *
  * A second table times an id-pinned merge-on-read update (Portal's
  * payment status flip) whose hit set is one file of 1, 1,024 and 4,095
  * rows, on the driver route (`transaction`, the default cap) and the
  * scan route ([[Catalog.scanPinned]]), median of `reps`, each on a
  * fresh table: '''warm''' on the instance that has served the table
  * (the hit file is cached) and '''cold''' on a fresh instance (the
  * driver route decodes the hit file).
  *
  * A Portal store of 12 users x 4 events (48 registrations: those of
  * the 2 free events paid on registration, those of the 2 paid events
  * paid by half the users, some after a failed attempt) times Portal's
  * registrations page and admin dashboard, `getUserRegistrations(user).collect()` and
  * `eventStats().collect()`, median of `reps` after 3 warm calls, with
  * [[graft.plans.LocalPlanFold]] on ('''fold''') and excluded through
  * `spark.sql.optimizer.excludedRules` ('''jobs''': the same
  * driver-served relations, joined, aggregated and windowed by Spark
  * jobs).
  *
  * The job route of the store's staging ([[Catalog]]'s `stageFiles`)
  * is timed on an `events_ingest` table: a '''micro-batch''' append
  * of 3,333 rows over 4 partitions with ids in `event_id` order (the
  * stream ingest's batch shape), on a warm instance, and a
  * '''compactSmall''' folding 12 job-staged files of 278 rows, each on a
  * fresh table: Spark jobs and ms per call, median of `reps`.
  *
  * The scan route over the cap is timed on a `users` table of 64 files
  * of 256 rows: `read(t).count()` '''unfiltered''' and filtered to one
  * file's id range ('''one-file-ids''', which manifest-stats pruning
  * narrows to that file): files scanned, Spark jobs and ms per call,
  * median of `reps` after 3 warm calls.
  *
  * Usage: DriverReadBenchDrive [sizes,comma-separated] [rowsPerFile] [reps]
  * (sbt: `Test/runMain graft.store.DriverReadBenchDrive 256 256 7`)
  */
object DriverReadBenchDrive {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(',').map(_.toInt).toSeq)
      .getOrElse(Seq(256, 1024, 2048, 4096, 8192, 16384))
    val rowsPerFile = if (args.length > 1) args(1).toInt else 256
    val reps = if (args.length > 2) args(2).toInt else 7
    val spark = graft.core.Sessions.local()

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def ms(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    }

    def seed(n: Int, perFile: Int = rowsPerFile): Catalog = {
      val cat = new Catalog(spark,
        Files.createTempDirectory("graft_readbench").toString)
      (0 until n by perFile).foreach { lo =>
        val hi = math.min(n, lo + perFile)
        cat.append("users", spark.range(lo, hi, 1, 1).select(
          concat(lit("First"), col("id")).as("first_name"),
          lit("Last").as("last_name"), lit("5550000000").as("phone"),
          concat(col("id"), lit("@x.com")).as("email"),
          sha2(col("id").cast("string"), 256).as("password_hash"),
          lit("user").as("user_role"),
          col("id").cast("timestamp").as("created_at")))
      }
      cat
    }

    def point(df: DataFrame, n: Int): Unit =
      df.filter(col("email") === s"${n / 2}@x.com").limit(1).collect()
    def sorted(df: DataFrame): Unit =
      df.filter(col("user_role") === "user")
        .orderBy(col("created_at").desc, col("user_id"))
        .select(col("user_id"), col("email")).collect()

    // warm the JIT and Spark's planner on a throwaway table
    val warm = seed(512)
    (1 to 5).foreach { _ =>
      point(warm.read("users"), 512); sorted(warm.read("users"))
      point(warm.scanRead("users"), 512); sorted(warm.scanRead("users"))
    }

    // one driver-route cache per catalog instance, as `read` keeps it
    val drivers = scala.collection.mutable.Map.empty[Catalog, DriverReads]
    println("[readbench] rows files route point_ms sorted_ms count_ms " +
      "cold_ms cold_count_ms")
    sizes.foreach { n =>
      val cat = seed(n)
      val files = cat.liveFiles("users").size
      val routes: Seq[(String, Catalog => DataFrame)] = Seq(
        "scan" -> (_.scanRead("users")),
        "driver" -> { c =>
          val reads = drivers.getOrElseUpdate(c,
            new DriverReads(spark, c.io, c.root, Long.MaxValue))
          c.driverRead("users", reads).get
        })
      routes.foreach { case (name, rd) =>
        def cold(call: DataFrame => Unit): Double =
          median((1 to reps).map { _ =>
            val fresh = new Catalog(spark, cat.root)
            ms(call(rd(fresh)))
          })
        def warm(call: DataFrame => Unit): Double =
          median((1 to reps).map(_ => ms(call(rd(cat)))))
        val p = warm(point(_, n))
        val s = warm(sorted)
        val c = warm(_.count())
        val cp = cold(point(_, n))
        val cc = cold(_.count())
        println(f"[readbench] $n%6d $files%5d $name%-6s $p%8.1f $s%9.1f " +
          f"$c%8.1f $cp%7.1f $cc%13.1f")
      }
    }
    def flip(tx: Catalog#Tx, id: Long): Unit =
      tx.update("users", col("user_id") === id,
        Map("user_role" -> lit("admin")))
    (1 to 5).foreach { i =>
      val w = seed(64, perFile = 64)
      w.scanPinned(flip(_, i.toLong))
      w.transaction(flip(_, i + 10L))
    }
    println("[readbench] update hit_rows route warm_ms cold_ms")
    Seq(1, 1024, DriverReads.MaxRows - 1).foreach { n =>
      Seq[(String, Catalog => (Catalog#Tx => Unit) => Unit)](
        "scan" -> (c => op => c.scanPinned(op)),
        "driver" -> (c => op => c.transaction(op))).foreach {
        case (name, run) =>
          def timed(cold: Boolean): Double = median((1 to reps).map { _ =>
            val cat = graft.core.Sessions.withShufflePartitions(spark, 1) {
              seed(n, perFile = n)
            }
            cat.read("users").count()
            val on = if (cold) new Catalog(spark, cat.root) else cat
            ms(run(on)(flip(_, n / 2 + 1L)))
          })
          val w = timed(cold = false)
          val c = timed(cold = true)
          println(f"[readbench] update $n%5d $name%-6s $w%7.1f $c%7.1f")
      }
    }
    val portal = Portal(spark,
      Files.createTempDirectory("graft_readbench").toString)
    val org = portal.createUser("Org", "O", "", "o@x.com", "s3cret1",
      "organizer")
    val events = (1 to 4).map(i => portal.addEvent(s"Event $i", "d",
      new Timestamp(1700000000000L + i * 86400000L), 64800, "Hall",
      "Music", org, BigDecimal(if (i % 2 == 0) 0 else 25)))
    val users = (1 to 12).map(i => portal.createUser(s"U$i", "L", "",
      s"u$i@x.com", "s3cret1"))
    for (u <- users; e <- events) {
      val (reg, pay) = portal.registerAndPay(u, e)
      if (pay.isEmpty && u % 3 == 0)
        portal.recordPayment(u, reg, amount = BigDecimal(25),
          paymentType = "OneTime", paymentStatus = "Failed")
      if (pay.isEmpty && u % 2 == 0)
        portal.recordPayment(u, reg, amount = BigDecimal(25),
          paymentType = "OneTime")
    }
    println("[readbench] portal call fold_ms jobs_ms")
    Seq[(String, () => Unit)](
      "getUserRegistrations" ->
        (() => portal.getUserRegistrations(users(5)).collect()),
      "eventStats" -> (() => portal.eventStats().collect())).foreach {
      case (name, call) =>
        def timed(): Double = {
          (1 to 3).foreach(_ => call())
          median((1 to reps).map(_ => ms(call())))
        }
        val fold = timed()
        val key = "spark.sql.optimizer.excludedRules"
        spark.conf.set(key, graft.plans.LocalPlanFold.ruleName)
        val jobs = try timed() finally spark.conf.unset(key)
        println(f"[readbench] portal $name%-20s $fold%7.1f $jobs%7.1f")
    }

    // Spark jobs started under a job group, counted on the listener bus
    val sc = spark.sparkContext
    val started = new ConcurrentHashMap[String, AtomicInteger]
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
          .flatMap(g => Option(started.get(g))).foreach(_.incrementAndGet())
    })
    def inGroup(g: String)(body: => Unit): Unit = {
      started.put(g, new AtomicInteger)
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    /** (jobs, ms) of `body`; a marker job started after it proves every
      * earlier job event has reached the listener. */
    def jobsMs(body: => Unit): (Int, Double) = {
      val g = java.util.UUID.randomUUID().toString
      var t = 0.0
      inGroup(g) { t = ms(body) }
      inGroup(s"$g-marker")(sc.parallelize(Seq(1), 1).count())
      while (started.get(s"$g-marker").get == 0) Thread.sleep(5)
      (started.get(g).get, t)
    }
    // event ids descend within each partition: the append's id sort
    // shuffles, as a stream micro-batch's does
    def batch(from: Long, n: Int, parts: Int): DataFrame =
      spark.range(from, from + n, 1, parts).select(
        (lit(2 * from + n - 1) - col("id")).as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L)
          .as("ts"),
        (col("id") % 97).as("user_id"),
        concat(lit("type"), col("id") % 5).as("event_type"),
        (col("id") * 0.5).as("value"), lit("{}").as("props"))
    def ingestStore(): Catalog = new Catalog(spark,
      Files.createTempDirectory("graft_readbench").toString)
    println("[readbench] jobroute call jobs ms")
    val ingest = ingestStore()
    (0 until 3).foreach(i => ingest.append("events_ingest",
      batch(i * 3333L, 3333, 4), orderBy = Seq("event_id")))
    val appends = (3 until 3 + reps).map(i => jobsMs(ingest.append(
      "events_ingest", batch(i * 3333L, 3333, 4), orderBy = Seq("event_id"))))
    val compacts = (0 until reps).map { _ =>
      val c = ingestStore()
      (0 until 12).foreach(i => c.append("events_ingest",
        batch(i * 278L, 278, 1), orderBy = Seq("event_id")))
      jobsMs(c.compactSmall("events_ingest", smallRows = 1000,
        targetRows = 4000))
    }
    Seq("micro-batch" -> appends, "compactSmall" -> compacts).foreach {
      case (name, runs) =>
        val j = median(runs.map(_._1.toDouble)).toInt
        val t = median(runs.map(_._2))
        println(f"[readbench] jobroute $name%-12s $j%4d $t%7.1f")
    }

    // the scan route over the cap: 64 files of 256 rows, counted whole
    // and filtered to one file's id range (manifest-stats pruning)
    println("[readbench] scan64 call files jobs ms")
    val big = seed(64 * 256, perFile = 256)
    val (lo, hi) = big.liveFiles("users").map(f => (f._2, f._3)).minBy(_._1)
    def scanned(df: DataFrame): Int = deepScans(
      df.queryExecution.executedPlan).sum
    Seq[(String, () => DataFrame)](
      "unfiltered" -> (() => big.read("users")),
      "one-file-ids" -> (() => big.read("users")
        .filter(col("user_id").between(lo, hi)))).foreach {
      case (name, frame) =>
        (1 to 3).foreach(_ => frame().count())
        val runs = (1 to reps).map(_ => jobsMs(frame().count()))
        val j = median(runs.map(_._1.toDouble)).toInt
        val t = median(runs.map(_._2))
        println(f"[readbench] scan64 $name%-12s ${scanned(frame())}%5d " +
          f"$j%4d $t%7.1f")
    }
    spark.stop()
  }

  /** Files each store scan in `p` reads (AQE stages unwrapped). */
  private def deepScans(p: SparkPlan): Seq[Int] = {
    def files(s: Scan): Int = s match {
      case w: graft.store.sql.WrappingScan => files(w.inner)
      case f: FileScan => f.fileIndex.inputFiles.length
      case _ => 0
    }
    val here = p match {
      case b: BatchScanExec => Seq(files(b.scan))
      case f: FileSourceScanExec => Seq(f.relation.location.inputFiles.length)
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    here ++ kids.flatMap(deepScans)
  }
}

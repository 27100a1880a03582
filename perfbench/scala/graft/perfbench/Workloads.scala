package graft.perfbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.service.Portal
import graft.store.Catalog
import graft.streaming.StreamIngest

/** Files and bytes under a directory tree, by the store's file kinds. */
object StoreStats {
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else Seq(f)

  def paths(root: File): Set[String] = walk(root).map(_.getPath).toSet

  def dir(root: File): Map[String, Any] = {
    val fs = walk(root)
    val log = fs.filter(_.getParentFile.getName == "_log")
    Map(
      "bytes" -> fs.map(_.length).sum,
      "commits" -> log.count(f => f.getName.matches("v\\d+\\.json")),
      "checkpoints" -> log.count(_.getName.contains(".checkpoint")),
      "log_bytes" -> log.map(_.length).sum)
  }

  /** Data files created since `before` was taken, and their bytes. */
  def written(root: File, before: Set[String]): Map[String, Any] = {
    val fresh = walk(root).filterNot(f => before.contains(f.getPath))
      .filter(_.getName.endsWith(".parquet"))
    Map("files_written" -> fresh.size,
      "bytes_written" -> fresh.map(_.length).sum)
  }
}

/** One store root a workload writes to, with before/after accounting
  * over the timed window. */
final class Store(run: Run, tables: Seq[String]) {
  val root = new File(run.workDir, "store")
  val cat = new Catalog(run.spark, root.getPath)
  private var before: Set[String] = Set.empty
  private var beforeDir: Map[String, Any] = Map.empty
  private var liveBefore = 0L

  private def liveRows(): Long = tables.map(t => cat.read(t).count()).sum

  def markWindow(): Unit = {
    before = StoreStats.paths(root)
    beforeDir = StoreStats.dir(root)
    liveBefore = liveRows()
  }

  def stats(): Map[String, Any] =
    StoreStats.dir(root) ++ StoreStats.written(root, before) ++ Map(
      "live_rows" -> liveRows(), "live_rows_before" -> liveBefore,
      "files_live" -> tables.map(t => cat.read(t).inputFiles.length).sum,
      "before" -> beforeDir)
}

/** Registry queries looked up in `SparkEntry.registry`, each result
  * collected to the client. The first result of each query is kept and
  * written to `<work>/results/<name>` after the window for the front
  * end's DuckDB oracle check; every later result must match its
  * order-insensitive fingerprint. */
final class RegistryRunner(run: Run) {
  private val registry = SparkEntry.registry.map(q => q.name -> q).toMap
  private val first =
    mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  private val mismatches = new ConcurrentLinkedQueue[String]

  private def fingerprint(rows: Array[Row]): (Int, Int) =
    (rows.length, MurmurHash3.unorderedHash(rows.iterator.map(_.toString)))

  def prepare(names: Seq[String]): Unit =
    names.distinct.foreach(n =>
      registry(n).setup.foreach(_(run.spark, run.dataDir)))

  def exec(name: String, layer: String): Unit = {
    var schema: StructType = null
    run.op(name, layer) {
      val df = registry(name).fn(run.spark, run.dataDir)
      schema = df.schema
      if (run.tracer.on) {
        // planning is lazy: forcing it first times it without redoing it
        val t0 = run.tracer.now()
        df.queryExecution.executedPlan
        run.tracer.notePlan(run.tracer.now() - t0)
      }
      df.collect()
    } { rows =>
      first.get(name) match {
        case None => first(name) = (rows, schema)
        case Some((ref, _)) if fingerprint(ref) != fingerprint(rows) =>
          mismatches.add(s"$name: rows/hash ${fingerprint(rows)} differ " +
            s"from its first run ${fingerprint(ref)}")
        case _ =>
      }
    }
  }

  /** Write each query's first result for the oracle check, several at
    * a time (each write is one small job). */
  def writeResults(): Unit = {
    val (spark, workDir) = (run.spark, run.workDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try first.toSeq.map { case (name, (rows, schema)) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(rows.toSeq.asJava, schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$workDir/results/$name")
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  def failures: Seq[String] = mismatches.asScala.toSeq

  def oracles: Map[String, String] =
    first.keys.flatMap(n => registry(n).oracle.map(n -> _)).toMap
}

/** `analytics`: one client runs whole passes over a fixed mix, each in
  * its own seed-shuffled order: one untimed warm-up pass, then the plan's
  * timed passes. The mix is registry queries (`ops`, `ext`, `plans` and a
  * stateful `streaming` query) plus one `ingest` unit: a
  * `StreamIngest.ingestEvents` run into a growing store, a
  * `Catalog.read(...).count()` read-back and a `Catalog.compactSmall`. */
final class Analytics(run: Run) extends Workload {
  private val cfg = run.cfg
  private val layers = cfg.get("layers").fields.asScala
    .map(e => e.getKey -> e.getValue.asText).toMap
  private def units(order: JsonNode): Seq[String] =
    order.elements.asScala.map(_.asText).toSeq
  private val passes = cfg.get("passes").elements.asScala.map(units).toSeq
  private val runner = new RegistryRunner(run)
  private val store = new Store(run, Seq("events_ingest", "stream_offsets"))
  private val eventRows = cfg.get("event_rows").asLong
  private val failures = mutable.ArrayBuffer.empty[String]
  private var ingests = 0

  private def ingest(): Unit = {
    val query = s"ingest_$ingests"
    ingests += 1
    run.op("ingestEvents", "streaming")(StreamIngest.ingestEvents(
      run.spark, run.dataDir, store.cat, query))()
    val want = eventRows * ingests
    run.op("read.count", "store")(store.cat.read("events_ingest").count()) {
      n => if (n != want) failures += s"read back $n ingested rows, want $want"
    }
    run.op("compactSmall", "store")(store.cat.compactSmall("events_ingest",
      smallRows = eventRows, targetRows = 4 * eventRows))()
  }

  private def pass(order: Seq[String]): Unit = order.foreach {
    case "ingest" => ingest()
    case n => runner.exec(n, layers(n))
  }

  def setup(): Unit = runner.prepare(layers.keys.toSeq)

  /** One cold pass: codegen, class loading and the JIT's first tiers. */
  def warmup(): Unit = pass(units(cfg.get("warmup")))

  def measure(): Unit = {
    store.markWindow()
    passes.zipWithIndex.foreach { case (order, i) =>
      run.unit.set(i)
      pass(order)
    }
  }

  def check(): Seq[String] = {
    runner.writeResults()
    val ids = store.cat.read("events_ingest").agg(count(lit(1)),
      min("ingest_id"), max("ingest_id"), countDistinct(col("ingest_id")))
      .head()
    val ledger = store.cat.read("stream_offsets").groupBy("query").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = ids.getLong(0)
    failures.toSeq ++ runner.failures ++
      (if (n != eventRows * ingests)
        Seq(s"events_ingest holds $n rows after $ingests ingests") else Nil) ++
      (if (n > 0 && !(ids.getLong(1) == 1 && ids.getLong(2) == n &&
          ids.getLong(3) == n))
        Seq(s"ingest ids are not dense 1..$n: ${ids.mkString(",")}")
      else Nil) ++
      (0 until ingests).map(i => s"ingest_$i").flatMap { q =>
        val b = ledger.getOrElse(q, 0L)
        if (b < 3) Some(s"ledger holds $b batches for $q") else None
      }
  }

  override def extra(): Map[String, Any] = Map(
    "oracles" -> runner.oracles,
    "event_rows" -> eventRows,
    "store" -> store.stats())
}

/** `portal`: the plan's scripted user sessions against a store seeded
  * with one organizer and the plan's events, taken in turn by `clients`
  * closed-loop threads.
  * A failed call is recorded and not retried; a session whose user could
  * not be created or authenticated stops there. */
final class PortalLoad(run: Run) extends Workload {
  private val cfg = run.cfg
  private val store = new Store(run,
    Seq("users", "events", "registrations", "payments"))
  private val portal = new Portal(store.cat)
  private val sessions = cfg.get("sessions").elements.asScala.toSeq
  private val eventIds = mutable.ArrayBuffer.empty[Long]
  private val eventPrice = mutable.Map.empty[Long, BigDecimal]
  private val next = new AtomicInteger(0)

  // what the client saw, checked against the store after the window
  private val authMismatch = new ConcurrentLinkedQueue[String]
  private val returnedRegs = new ConcurrentHashMap[Long, Long] // reg -> event
  private val paidRegs = ConcurrentHashMap.newKeySet[Long]()
  private val regFailures = new ConcurrentHashMap[Long, AtomicInteger]

  def setup(): Unit = {
    val o = cfg.get("organizer")
    val org = portal.createUser(o.get("first").asText, o.get("last").asText,
      o.get("phone").asText, o.get("email").asText,
      o.get("password").asText, "organizer")
    // the events land in one commit: seeding is set-up, not the workload
    val events = cfg.get("events").elements.asScala.toSeq
    val spark = run.spark
    import spark.implicits._
    store.cat.append("events", events.map(e => (
      e.get("name").asText, e.get("description").asText,
      Timestamp.valueOf(e.get("date").asText), e.get("time_sec").asInt,
      e.get("location").asText, e.get("type").asText, org,
      BigDecimal(e.get("price").asText), e.get("capacity").asInt, true,
      new Timestamp(System.currentTimeMillis())))
      .toDF("event_name", "event_description", "event_date",
        "event_time_sec", "location", "event_type", "organizer_id", "price",
        "capacity", "is_active", "created_at")
      .withColumn("price", $"price".cast("decimal(8,2)")),
      orderBy = Seq("event_time_sec", "event_name"))
    // ids follow the append order: re-read them by name
    val ids = store.cat.read("events").select("event_name", "event_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(ids.size == events.size,
      s"seeded ${ids.size} events, want ${events.size}")
    events.foreach { e =>
      eventIds += ids(e.get("name").asText)
      eventPrice(ids(e.get("name").asText)) = BigDecimal(e.get("price").asText)
    }
  }

  private def session(s: JsonNode): Unit = {
    val email = s.get("email").asText
    val password = s.get("password").asText
    def op[A](name: String)(call: => A): Option[A] =
      run.op(name, "service")(call)()
    for {
      uid <- op("createUser")(portal.createUser(s.get("first").asText,
        s.get("last").asText, s.get("phone").asText, email, password))
      auth <- op("authenticateUser")(portal.authenticateUser(email, password))
    } {
      if (!auth.exists(_.getAs[Long]("user_id") == uid))
        authMismatch.add(s"user $uid ($email) did not authenticate")
      op("listEvents")(portal.listEvents().collect())
      val eid = eventIds(s.get("event").asInt)
      op("registerAndPay")(portal.registerAndPay(uid, eid)) match {
        case Some((reg, pay)) =>
          returnedRegs.put(reg, eid)
          if (pay.isDefined) paidRegs.add(reg)
          else op("recordPayment")(portal.recordPayment(uid, reg, None,
            eventPrice(eid), "OneTime")).foreach(_ => paidRegs.add(reg))
        case None =>
          regFailures.computeIfAbsent(eid, _ => new AtomicInteger)
            .incrementAndGet()
      }
      op("getUserRegistrations")(portal.getUserRegistrations(uid).collect())
      if (s.get("stats").asBoolean)
        op("eventStats")(portal.eventStats().collect())
    }
  }

  def warmup(): Unit =
    cfg.get("warmup").elements.asScala.foreach(session)

  def measure(): Unit = {
    store.markWindow()
    val threads = (0 until cfg.get("clients").asInt).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < sessions.size) {
          run.unit.set(i)
          session(sessions(i))
          i = next.getAndIncrement()
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  def check(): Seq[String] = {
    val regs = store.cat.read("registrations")
      .select("registration_id", "event_id", "payment_status").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val stats = portal.eventStats().collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("registrations"))
      .toMap
    val truth = regs.values.groupBy(_._1).map { case (e, v) => e -> v.size }
    val tally = returnedRegs.asScala.values.groupBy(identity)
      .map { case (e, v) => e -> v.size }
    val unpaid = paidRegs.asScala.toSeq.filterNot(r =>
      regs.get(r).exists(_._2 == "Success"))
    authMismatch.asScala.toSeq ++
      unpaid.map(r => s"paid registration $r is not marked Success") ++
      eventIds.flatMap { e =>
        val got = stats.getOrElse(e, 0L)
        val want = truth.getOrElse(e, 0)
        val lo = tally.getOrElse(e, 0)
        val hi = lo + Option(regFailures.get(e)).fold(0)(_.get)
        if (got != want) Some(s"eventStats($e)=$got, table has $want")
        else if (want < lo || want > hi)
          Some(s"event $e has $want registrations, client saw $lo..$hi")
        else None
      }
  }

  override def extra(): Map[String, Any] = Map("store" -> store.stats())
}

package graft.service

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{Executors, TimeUnit}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSuite
import graft.store.{Catalog, DriverReads, Schemas}

/** Portal's prepared reads and point writes against the frame-by-frame
  * builders they replaced, kept here as the oracle: over seeded random
  * stores every read returns the oracle's rows in the oracle's order
  * with its schema, and every write leaves the snapshot the oracle's
  * write leaves. */
class PreparedPortalSpec extends SparkSuite {
  import spark.implicits._

  /** The Portal reads and writes built frame by frame: each read builds
    * its frame on `cat.read`, each write builds its row with
    * `createDataFrame`, and an update goes through the copy-on-write
    * frame route (the predicate pins no id). */
  private final class Oracle(cat: Catalog) {
    private def rowOf(table: StructType, values: Any*): DataFrame =
      spark.createDataFrame(java.util.List.of(Row.fromSeq(values)),
        StructType(table.fields.tail))
    private def now() = new Timestamp(System.currentTimeMillis())
    private def sha256Hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    def getUserByEmail(email: String): Option[Row] =
      cat.read("users").filter($"email" === email)
        .orderBy($"user_id".desc).limit(1).collect().headOption

    def authenticateUser(email: String, password: String): Option[Row] =
      cat.read("users")
        .filter($"email" === email
          && $"password_hash" === sha2(lit(password), 256))
        .select($"user_id", $"first_name", $"last_name", $"email", $"phone",
          $"user_role")
        .limit(1).collect().headOption

    def listEvents(): DataFrame =
      cat.read("events")
        .filter($"is_active")
        .orderBy($"event_date".asc, $"event_id".asc)
        .select($"event_id".as("id"), $"event_name".as("title"),
          $"event_description".as("description"), $"event_date",
          $"event_time_sec", $"location", $"event_type",
          $"price".cast("double").as("price"))

    def getEvent(eventId: Long): Option[Row] =
      cat.read("events").filter($"event_id" === eventId)
        .limit(1).collect().headOption

    def eventStats(): DataFrame = {
      val regs = cat.read("registrations")
      val pays = cat.read("payments").filter($"payment_status" === "Success")
      val revenue = pays.join(regs.select("registration_id", "event_id"),
          Seq("registration_id"))
        .groupBy($"event_id")
        .agg(coalesce(sum($"amount"), lit(0).cast("decimal(18,2)"))
          .as("revenue"))
      val counts = regs.groupBy($"event_id")
        .agg(count(lit(1)).as("registrations"))
      cat.read("events").select($"event_id")
        .join(counts, Seq("event_id"), "left")
        .join(revenue, Seq("event_id"), "left")
        .select($"event_id",
          coalesce($"registrations", lit(0L)).as("registrations"),
          coalesce($"revenue".cast("double"), lit(0.0)).as("revenue"))
    }

    def getUserRegistrations(userId: Long): DataFrame = {
      val regs = cat.read("registrations").filter($"user_id" === userId)
      val events = cat.read("events")
      val pays = cat.read("payments")
        .join(regs.select("registration_id"), Seq("registration_id"),
          "left_semi")
      val wPay = Window.partitionBy("registration_id")
        .orderBy($"payment_date".desc, $"payment_id".desc)
      val latestPay = pays
        .withColumn("rn", row_number().over(wPay)).filter($"rn" === 1)
        .select($"registration_id",
          $"payment_status".as("latest_payment_status"))
      val wReg = Window.partitionBy("user_id", "event_id")
        .orderBy($"registration_id".desc)
      val dedup = regs.withColumn("rn", row_number().over(wReg))
        .filter($"rn" === 1).drop("rn")
      dedup
        .join(events, Seq("event_id"))
        .join(latestPay, Seq("registration_id"), "left")
        .select($"registration_id", $"event_id",
          $"event_name".as("title"), $"event_description".as("description"),
          $"event_date", $"event_time_sec",
          $"payment_status".as("registration_status"),
          $"latest_payment_status")
        .orderBy($"event_date".asc, $"registration_id".asc)
    }

    private def dec(c: org.apache.spark.sql.Column) =
      aes_decrypt(unbase64(c), lit(Portal.defaultKey)).cast("string")

    def getSavedCards(userId: Long): DataFrame =
      cat.read("saved_cards").filter($"user_id" === userId)
        .withColumn("card_number", dec($"card_number_encrypted"))
        .withColumn("last4", substring($"card_number", -4, 4))
        .select($"card_id", $"user_id", $"card_holder_name", $"card_number",
          $"last4", $"expiry_date")

    def newestCardId(userId: Long): Option[Long] =
      cat.read("saved_cards").filter($"user_id" === userId)
        .agg(max($"card_id")).collect().headOption
        .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))

    def createUser(first: String, last: String, phone: String,
        email: String, password: String, role: String): Long =
      cat.append("users", rowOf(Schemas.users, first, last, phone, email,
        sha256Hex(password), role.toLowerCase, now()))

    def addEvent(name: String, description: String, date: Timestamp,
        timeSec: Int, location: String, eventType: String, organizerId: Long,
        price: BigDecimal): Long =
      cat.append("events", rowOf(Schemas.events, name, description, date,
        timeSec, location, eventType, organizerId, price, 0, true, now()))

    def deleteEvent(eventId: Long): Unit =
      cat.update("events", col("event_id") === eventId || lit(false),
        Map("is_active" -> lit(false)))

    def registerUserForEvent(userId: Long, eventId: Long): Long =
      cat.append("registrations", rowOf(Schemas.registrations, userId,
        eventId, "Pending", now()))

    def recordPayment(userId: Long, registrationId: Long,
        cardId: Option[Long], amount: BigDecimal, paymentType: String,
        paymentStatus: String): Long =
      cat.retried { tx =>
        val paymentId = tx.append("payments", rowOf(Schemas.payments, userId,
          registrationId, cardId.map(Long.box).orNull, amount, paymentType,
          paymentStatus, now()))
        if (paymentStatus == "Success")
          tx.update("registrations",
            col("registration_id") === registrationId || lit(false),
            Map("payment_status" -> lit("Success")))
        () => paymentId + tx.shiftOf("payments")
      }()
  }

  private def freshRoot(): String =
    Files.createTempDirectory("graft_prepared").toString

  private val emails = Seq("ada@x.com", "zoë@exämple.de", "用户@例子.公司",
    "o'neil@x.io", "ADA@x.com", "søren+tag@x.dk")
  private val passwords = Seq("s3cret1", "pässwörd", "密码密码密码",
    "emoji🙂🙂🙂", "with space 1")

  private def rows(df: DataFrame): (StructType, Seq[Row]) =
    (df.schema, df.collect().toSeq)

  /** Every read of `p` equals the oracle's over `cat`'s current state,
    * for the users, events and emails given. */
  private def sameReads(p: Portal, o: Oracle, users: Seq[Long],
      events: Seq[Long], probes: Seq[(String, String)]): Unit = {
    assert(rows(p.listEvents()) == rows(o.listEvents()))
    assert(rows(p.eventStats()) == rows(o.eventStats()))
    (events :+ -1L).foreach(e => assert(p.getEvent(e) == o.getEvent(e)))
    (users :+ -1L).foreach { u =>
      assert(rows(p.getUserRegistrations(u)) ==
        rows(o.getUserRegistrations(u)), s"user $u")
      assert(rows(p.getSavedCards(u)) == rows(o.getSavedCards(u)))
      assert(p.newestCardId(u) == o.newestCardId(u))
    }
    probes.foreach { case (e, pw) =>
      assert(p.getUserByEmail(e) == o.getUserByEmail(e), e)
      assert(p.authenticateUser(e, pw) == o.authenticateUser(e, pw), e)
    }
  }

  /** A random store built through `p`: users (some with NULL names,
    * non-ASCII emails and passwords), events (some NULL descriptions
    * and prices, some soft-deleted), registrations, saved cards and
    * payments whose registration updates leave DV-masked rows. */
  private def populate(p: Portal, rnd: Random)
      : (Seq[Long], Seq[Long], Seq[(String, String)]) = {
    val org = p.createUser("Org", null, "", "org@x.com", "s3cret1",
      "Organizer")
    val users = (1 to 6).map { i =>
      val email = s"u$i." + emails(rnd.nextInt(emails.size))
      val pw = passwords(rnd.nextInt(passwords.size))
      (p.createUser(s"U$i", if (rnd.nextBoolean()) null else "L", "",
        email, pw), email, pw)
    }
    val events = (1 to 5).map { i =>
      p.addEvent(s"Ev$i", if (i % 2 == 0) null else s"déscription $i",
        new Timestamp(1790000000000L + rnd.nextInt(5) * 86400000L),
        rnd.nextInt(86400), "Hall", "Music", org,
        if (i == 3) null else BigDecimal(rnd.nextInt(3) * 12.5))
    }
    p.deleteEvent(events(rnd.nextInt(events.size)))
    for (_ <- 1 to 14) {
      val (u, _, _) = users(rnd.nextInt(users.size))
      val e = events(rnd.nextInt(events.size))
      val (reg, pay) = p.registerAndPay(u, e)
      if (pay.isEmpty && rnd.nextBoolean())
        p.recordPayment(u, reg, None, BigDecimal("12.50"), "OneTime",
          if (rnd.nextInt(4) == 0) "Failed" else "Success")
    }
    users.take(2).foreach { case (u, _, _) =>
      p.addSavedCard(u, "Ada L", s"41111111111111${rnd.nextInt(90) + 10}",
        "123", "12/28")
    }
    val probes = users.map { case (_, e, pw) => (e, pw) } ++
      Seq(("org@x.com", "s3cret1"), (users.head._2, "wrong-pass"),
        ("nobody@x.com", "s3cret1"))
    (org +: users.map(_._1), events, probes)
  }

  test("every prepared read returns the oracle's rows, in its order and " +
    "with its schema, over seeded random stores") {
    for (seed <- 1 to 3) {
      val cat = new Catalog(spark, freshRoot())
      val p = new Portal(cat)
      val (users, events, probes) = populate(p, new Random(seed))
      sameReads(p, new Oracle(cat), users, events, probes)
    }
  }

  test("a schema change between calls rebuilds the templates; reads " +
    "still match the oracle") {
    val cat = new Catalog(spark, freshRoot())
    val p = new Portal(cat)
    val o = new Oracle(cat)
    val (users, events, probes) = populate(p, new Random(7))
    sameReads(p, o, users, events, probes)
    cat.addColumn("events", StructField("venue_note", StringType))
    cat.addColumn("users", StructField("nickname", StringType))
    sameReads(p, o, users, events, probes)
    assert(p.getEvent(events.head).get.schema.fieldNames
      .contains("venue_note"))
    cat.renameColumn("events", "capacity", "seats")
    cat.renameColumn("registrations", "created_at", "registered_at")
    val more = p.registerUserForEvent(users(1), events(1))
    p.recordPayment(users(1), more, amount = BigDecimal(5),
      paymentType = "OneTime")
    sameReads(p, o, users, events, probes)
    assert(p.getEvent(events.head).get.schema.fieldNames.contains("seats"))
  }

  test("a registrations table grown past the driver-route cap binds to " +
    "the scan relation; reads still match the oracle") {
    val cat = new Catalog(spark, freshRoot())
    val p = new Portal(cat)
    val (users, events, probes) = populate(p, new Random(11))
    val ts = new Timestamp(0L)
    val n = DriverReads.MaxRows + 100
    cat.append("registrations", (0 until n).map(i =>
      (users(i % users.size), events(i % events.size),
        if (i % 3 == 0) "Success" else "Pending", ts))
      .toDF("user_id", "event_id", "payment_status", "created_at"))
    assert(cat.read("registrations").count() >= n.toLong)
    assert(jobsIn(p.getUserRegistrations(users(1)).collect()) > 0,
      "over the cap the bind must take the scan route")
    sameReads(p, new Oracle(cat), users, events, probes)
    // a pinned payment over the cap, then the reads again
    val reg = p.registerUserForEvent(users(2), events(0))
    p.recordPayment(users(2), reg, amount = BigDecimal(1),
      paymentType = "OneTime")
    sameReads(p, new Oracle(cat), users, events, probes)
  }

  test("every write leaves the snapshot the oracle's write leaves") {
    def snapshot(cat: Catalog): Map[String, Seq[Row]] =
      Seq("users", "events", "registrations", "payments").map { t =>
        val (schema, id) = cat.tableShape(t)
        // store-stamped times differ between the two stores
        val kept = schema.fields.filterNot(_.dataType ==
          org.apache.spark.sql.types.TimestampType).map(_.name)
        t -> cat.read(t).select(kept.toIndexedSeq.map(col): _*)
          .orderBy(id).collect().toSeq
      }.toMap
    for (seed <- 1 to 2) {
      val a = new Catalog(spark, freshRoot())
      val b = new Catalog(spark, freshRoot())
      val p = new Portal(a)
      val o = new Oracle(b)
      val rnd = new Random(seed)
      val ts = new Timestamp(1790000000000L)
      def both[A](f: => A, g: => A): A = {
        val (x, y) = (f, g)
        assert(x == y)
        assert(snapshot(a) == snapshot(b))
        x
      }
      val org = both(
        p.createUser("Org", null, "", "org@x.com", "s3cret1", "Organizer"),
        o.createUser("Org", null, "", "org@x.com", "s3cret1", "Organizer"))
      val users = (1 to 3).map { i =>
        val e = s"u$i." + emails(rnd.nextInt(emails.size))
        val pw = passwords(rnd.nextInt(passwords.size))
        both(p.createUser(s"U$i", "L", "0123456789", e, pw),
          o.createUser(s"U$i", "L", "0123456789", e, pw, "user"))
      }
      val prices = Seq(BigDecimal("12.345"), null, BigDecimal(0),
        BigDecimal("999999.994"))
      val events = prices.zipWithIndex.map { case (price, i) =>
        both(p.addEvent(s"Ev$i", null, ts, i, "Hall", "Music", org, price),
          o.addEvent(s"Ev$i", null, ts, i, "Hall", "Music", org, price))
      }
      both(p.deleteEvent(events(1)), o.deleteEvent(events(1)))
      for (k <- 1 to 8) {
        val u = users(rnd.nextInt(users.size))
        val e = events(rnd.nextInt(events.size))
        val reg = both(p.registerUserForEvent(u, e),
          o.registerUserForEvent(u, e))
        val status = if (k % 3 == 0) "Failed" else "Success"
        val card = if (k % 2 == 0) Some(k.toLong) else None
        val amount = BigDecimal(s"${k * 3}.125")
        both(p.recordPayment(u, reg, card, amount, "OneTime", status),
          o.recordPayment(u, reg, card, amount, "OneTime", status))
      }
    }
  }

  test("two threads on one Portal: the same prepared read and " +
    "recordPayment concurrently") {
    val cat = new Catalog(spark, freshRoot())
    val p = new Portal(cat)
    val org = p.createUser("O", "O", "", "o@x.com", "s3cret1", "organizer")
    val e = p.addEvent("Gala", "d", new Timestamp(0L), 0, "Hall", "Music",
      org, BigDecimal(10))
    val clients = (1 to 2).map { i =>
      val u = p.createUser(s"U$i", "L", "", s"ü$i@x.com", "s3cret1")
      (u, (1 to 4).map(_ => p.registerUserForEvent(u, e)))
    }
    val pool = Executors.newFixedThreadPool(2)
    val seen = try {
      clients.map { case (u, regs) =>
        pool.submit(() => regs.map { r =>
          p.recordPayment(u, r, amount = BigDecimal(10),
            paymentType = "OneTime")
          // the newest registration per event is the one listed; it is
          // paid once this thread has paid its last one
          val mine = p.getUserRegistrations(u).collect().toSeq.map(x =>
            (x.getAs[Long]("registration_id"),
              x.getAs[String]("registration_status")))
          assert(mine == Seq((regs.last,
            if (r == regs.last) "Success" else "Pending")))
          r
        })
      }.map(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(seen == clients.map(_._2))
    val o = new Oracle(cat)
    clients.foreach { case (u, _) =>
      assert(rows(p.getUserRegistrations(u)) ==
        rows(o.getUserRegistrations(u)))
    }
    assert(rows(p.eventStats()) == rows(o.eventStats()))
    assert(cat.read("payments").count() == 8L)
  }

  test("under the cap every Portal call runs no Spark job") {
    val p = new Portal(new Catalog(spark, freshRoot()))
    val (users, events, probes) = populate(p, new Random(3))
    val u = users(1)
    val calls: Seq[(String, () => Any)] = Seq(
      "createUser" -> (() => p.createUser("N", "L", "", "n@x.com", "s3cret1")),
      "authenticateUser" -> (() =>
        p.authenticateUser(probes.head._1, probes.head._2)),
      "getUserByEmail" -> (() => p.getUserByEmail(probes.head._1)),
      "listEvents" -> (() => p.listEvents().collect()),
      "getEvent" -> (() => p.getEvent(events.head)),
      "registerAndPay" -> (() => p.registerAndPay(u, events.head)),
      "recordPayment" -> (() => p.recordPayment(u,
        p.registerUserForEvent(u, events(1)), amount = BigDecimal(3),
        paymentType = "OneTime")),
      "getUserRegistrations" -> (() => p.getUserRegistrations(u).collect()),
      "eventStats" -> (() => p.eventStats().collect()),
      "getSavedCards" -> (() => p.getSavedCards(users(1)).collect()),
      "newestCardId" -> (() => p.newestCardId(users(1))))
    calls.foreach { case (name, call) =>
      assert(jobsIn(call()) == 0, name)
    }
  }
}

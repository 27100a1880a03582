package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.functions.col

import graft.service.Portal

/** End-to-end lifecycle scenarios E1-E3 (SURVEY §3) against golden
  * expectations, encoding the §0.1 defect decisions.
  */
class PortalSpec extends SparkSuite {

  private def freshPortal(): Portal =
    Portal(spark, Files.createTempDirectory("graft_portal").toString)

  private val ts = Timestamp.valueOf("2026-09-01 18:00:00")

  test("E1: signup + login (hash pushed into plan); wrong password fails") {
    val p = freshPortal()
    val uid = p.createUser("Ada", "L", "0123456789", "ada@x.com", "s3cret1")
    assert(uid == 1L)
    val u = p.authenticateUser("ada@x.com", "s3cret1")
    assert(u.isDefined && u.get.getAs[Long]("user_id") == uid)
    assert(p.authenticateUser("ada@x.com", "wrong").isEmpty)
    // §0.1.4: role gate is case-insensitive on {admin, organizer}
    p.createUser("Org", "O", "", "org@x.com", "s3cret1", role = "Organizer")
    assert(p.isAdmin(p.getUserByEmail("org@x.com").get))
    assert(!p.isAdmin(u.get))
  }

  test("validation blocks bad signups (P7; §0.1.5 decision: it BLOCKS)") {
    val p = freshPortal()
    intercept[IllegalArgumentException](
      p.createUser("", "L", "", "a@x.c", "s3cret1"))
    intercept[IllegalArgumentException](
      p.createUser("A", "L", "", "not-an-email", "s3cret1"))
    intercept[IllegalArgumentException](
      p.createUser("A", "L", "12345", "a@x.c", "s3cret1"))
    intercept[IllegalArgumentException](
      p.createUser("A", "L", "", "a@x.c", "short"))
  }

  test("E2: listEvents hides soft-deleted; eventStats is one grouped plan") {
    val p = freshPortal()
    val org = p.createUser("Org", "O", "", "o@x.com", "s3cret1", "organizer")
    val e1 = p.addEvent("Gala", "d", ts, 64800, "Hall", "Music", org,
      BigDecimal(25))
    val e2 = p.addEvent("Free Fair", "d", ts, 36000, "Park", "Expo", org,
      BigDecimal(0))
    p.deleteEvent(e2)
    val listed = p.listEvents().collect()
    assert(listed.map(_.getAs[Long]("id")).toSeq == Seq(e1))
    // stats: one registration with successful payment on e1
    val u = p.createUser("Ada", "L", "", "ada@x.com", "s3cret1")
    val reg = p.registerUserForEvent(u, e1)
    p.recordPayment(u, reg, amount = BigDecimal(25), paymentType = "OneTime")
    val stats = p.eventStats().collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("registrations"), r.getAs[Double]("revenue"))).toMap
    assert(stats(e1) == ((1L, 25.0)))
    assert(stats(e2) == ((0L, 0.0)))
  }

  test("E3: free event pays immediately; paid stays Pending until " +
    "recordPayment; the 2-statement payment is atomic") {
    val p = freshPortal()
    val org = p.createUser("Org", "O", "", "o@x.com", "s3cret1", "organizer")
    val paid = p.addEvent("Gala", "d", ts, 64800, "Hall", "Music", org,
      BigDecimal(25))
    val free = p.addEvent("Fair", "d", ts, 36000, "Park", "Expo", org,
      BigDecimal(0))
    val u = p.createUser("Ada", "L", "", "ada@x.com", "s3cret1")

    val (regFree, payFree) = p.registerAndPay(u, free)
    assert(payFree.isDefined)
    val (regPaid, payPaid) = p.registerAndPay(u, paid)
    assert(payPaid.isEmpty)

    val regsBefore = p.getUserRegistrations(u).collect()
      .map(r => r.getAs[Long]("registration_id") ->
        r.getAs[String]("registration_status")).toMap
    assert(regsBefore(regFree) == "Success")
    assert(regsBefore(regPaid) == "Pending")
    // J3 left-preservation: unpaid registration has NULL latest status
    val nullStatus = p.getUserRegistrations(u).collect()
      .find(_.getAs[Long]("registration_id") == regPaid).get
    assert(nullStatus.isNullAt(nullStatus.fieldIndex("latest_payment_status")))

    p.recordPayment(u, regPaid, amount = BigDecimal(25),
      paymentType = "OneTime")
    val after = p.getUserRegistrations(u).collect()
      .map(r => r.getAs[Long]("registration_id") ->
        r.getAs[String]("latest_payment_status")).toMap
    assert(after(regPaid) == "Success")
  }

  test("two clients paying concurrently: every payment lands once, with " +
    "dense unique ids (recordPayment re-runs on a conflict)") {
    val root = Files.createTempDirectory("graft_portal").toString
    val p = Portal(spark, root)
    val org = p.createUser("O", "O", "", "o@x.com", "s3cret1", "organizer")
    val e = p.addEvent("Gala", "d", ts, 0, "Hall", "Music", org,
      BigDecimal(10))
    val perClient = 4
    val clients = (1 to 2).map { i =>
      val u = p.createUser(s"U$i", "L", "", s"u$i@x.com", "s3cret1")
      (u, (1 to perClient).map(_ => p.registerUserForEvent(u, e)))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val paid = try {
      clients.map { case (u, regs) =>
        val client = Portal(spark, root) // one service instance per client
        pool.submit(() => regs.map(r => r -> client.recordPayment(u, r,
          amount = BigDecimal(10), paymentType = "OneTime")))
      }.flatMap(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val n = 2 * perClient
    assert(paid.map(_._2).sorted == (1L to n.toLong))
    val cat = new graft.store.Catalog(spark, root)
    val stored = cat.read("payments").collect()
      .map(r => r.getAs[Long]("registration_id") -> r.getAs[Long]("payment_id"))
    assert(stored.toMap == paid.toMap && stored.length == n)
    assert(cat.read("registrations").filter("payment_status = 'Success'")
      .count() == n.toLong)
  }

  test("J4: multiple registrations for one (user,event) dedup to newest") {
    val p = freshPortal()
    val org = p.createUser("O", "O", "", "o@x.com", "s3cret1", "organizer")
    val e = p.addEvent("Gala", "d", ts, 0, "Hall", "Music", org,
      BigDecimal(10))
    val u = p.createUser("A", "L", "", "a@x.com", "s3cret1")
    val r1 = p.registerUserForEvent(u, e)
    val r2 = p.registerUserForEvent(u, e)
    assert(r2 > r1)
    val regs = p.getUserRegistrations(u).collect()
    assert(regs.length == 1
      && regs(0).getAs[Long]("registration_id") == r2)
  }

  test("saved cards: encrypt/decrypt roundtrip, last4, deterministic " +
    "newest (O4 decision)") {
    val cat = new graft.store.Catalog(spark,
      Files.createTempDirectory("graft_cards").toString)
    val p = new Portal(cat)
    val u = p.createUser("A", "L", "", "a@x.com", "s3cret1")
    p.addSavedCard(u, "Ada L", "4111111111111111", "123", "12/28")
    val c2 = p.addSavedCard(u, "Ada L", "5500005555555559", "456", "01/29")
    val cards = p.getSavedCards(u).collect()
      .map(r => r.getAs[Long]("card_id") ->
        (r.getAs[String]("card_number"), r.getAs[String]("last4"))).toMap
    assert(cards(c2) == (("5500005555555559", "5559")))
    assert(cards.size == 2)
    // stored form is ciphertext, not plaintext
    val stored = cat.read("saved_cards")
      .select("card_number_encrypted").collect().map(_.getString(0))
    assert(stored.forall(s => !s.contains("4111111111111111")
      && !s.contains("5500005555555559")))
    assert(p.newestCardId(u).contains(c2))
  }

  test("payment amounts and event prices become decimal(8,2) as a cast " +
    "makes them: half-up rounding, an overflow failing under ANSI and " +
    "NULL without it; a missing card is NULL") {
    import spark.implicits._
    def outcome(v: => Any): Either[String, Any] = Try(v) match {
      case Success(x) => Right(x)
      case Failure(e: SparkThrowable) => Left(e.getCondition)
      case Failure(e) => Left(e.getClass.getName)
    }
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    try for (ansi <- Seq("true", "false")) {
      spark.conf.set(key, ansi)
      val cat = new graft.store.Catalog(spark,
        Files.createTempDirectory("graft_portal").toString)
      val p = new Portal(cat)
      val org = p.createUser("O", "O", "", "o@x.com", "s3cret1", "organizer")
      val e = p.addEvent("Gala", "d", ts, 0, "Hall", "Music", org,
        BigDecimal(10))
      val u = p.createUser("A", "L", "", "a@x.com", "s3cret1")
      val paid = Seq("12.345", "12.344", "-0.005", "0.1", "999999.994",
          "999999.995", "-999999.995", "10000000").map { v =>
        val amount = BigDecimal(v)
        val cast = outcome(Seq(amount).toDF("a")
          .select(col("a").cast("decimal(8,2)")).head().get(0))
        val reg = p.registerUserForEvent(u, e)
        val stored = outcome {
          val id = p.recordPayment(u, reg, amount = amount,
            paymentType = "OneTime")
          cat.read("payments").filter(col("payment_id") === id)
            .select("amount").head().get(0)
        }
        val priced = outcome {
          val id = p.addEvent("Fair", "d", ts, 0, "Park", "Expo", org, amount)
          cat.read("events").filter(col("event_id") === id)
            .select("price").head().get(0)
        }
        assert(stored == cast, s"amount $v, ansi=$ansi")
        assert(priced == cast, s"price $v, ansi=$ansi")
        v -> stored
      }.toMap
      assert(paid("12.345") == Right(new java.math.BigDecimal("12.35")))
      assert(paid("10000000").isLeft == (ansi == "true"))
      val noCard = p.recordPayment(u, p.registerUserForEvent(u, e))
      val card = p.recordPayment(u, p.registerUserForEvent(u, e),
        cardId = Some(7L), amount = BigDecimal(10), paymentType = "Card")
      val cards = cat.read("payments").filter(col("payment_id")
        .isin(noCard, card)).orderBy("payment_id").select("card_id")
        .collect().map(r => Option(r.get(0))).toSeq
      assert(cards == Seq(None, Some(7L)))
    } finally spark.conf.set(key, prev)
  }
}

package graft.service

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.plans.LocalPlanFold
import graft.store.Catalog

/** Probe of a warm Portal call's driver cost (a measurement harness,
  * not a test). Over a store of 20 events and 9 users with their
  * registrations, payments and cards, it times each read and write
  * `Reps` times after `Warm` warm-up calls and prints the medians in
  * milliseconds:
  *  - each read: the whole call (with `collect()` for a read returning a
  *    frame, as a client does), then its steps on the folded route:
  *    bind (one version of the tables' relations, the template bound
  *    to them and the call's values), fold ([[LocalPlanFold]] over the
  *    bound plan) and collect (the frame's `collect()` over the folded
  *    relation, or a point read's row conversion);
  *  - each write: the whole call.
  * Run: sbt "Test/runMain graft.service.PortalCallDrive" */
object PortalCallDrive {
  private val Warm = 10
  private val Reps = 30

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median milliseconds of `call` over [[Reps]] runs after [[Warm]]. */
  private def time(call: () => Any): Double = {
    (1 to Warm).foreach(_ => call())
    median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      call()
      (System.nanoTime() - t0) / 1e6
    })
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(4)
    spark.sparkContext.setLogLevel("WARN")
    val cat = new Catalog(spark,
      Files.createTempDirectory("portal_calls").toString)
    val p = new Portal(cat)
    val org = p.createUser("Org", "A", "", "org@x.com", "s3cret1",
      "organizer")
    val events = (1 to 20).map(i => p.addEvent(s"Ev$i", s"event $i",
      new Timestamp(1790000000000L + i * 86400000L), i * 60, "Hall",
      "Music", org, BigDecimal(if (i % 4 == 0) 0 else 10 + i)))
    val users = (1 to 9).map(i => p.createUser(s"U$i", "L", "",
      s"u$i@x.com", "s3cret1"))
    users.zipWithIndex.foreach { case (u, i) =>
      p.registerAndPay(u, events(i))
      val reg = p.registerUserForEvent(u, events(i + 1))
      p.recordPayment(u, reg, None, BigDecimal(11), "OneTime")
    }
    p.addSavedCard(users(1), "U L", "4111111111111111", "123", "12/28")
    val u = users(1)

    val reads: Seq[(String, Prepared, Seq[(String, Any)], () => Any)] = Seq(
      ("authenticateUser", p.authenticated,
        Seq("email" -> "u2@x.com", "password" -> "s3cret1"),
        () => p.authenticateUser("u2@x.com", "s3cret1")),
      ("getUserByEmail", p.userByEmail, Seq("email" -> "u2@x.com"),
        () => p.getUserByEmail("u2@x.com")),
      ("listEvents", p.activeEvents, Nil, () => p.listEvents().collect()),
      ("getEvent", p.eventById, Seq("event_id" -> events(3)),
        () => p.getEvent(events(3))),
      ("getUserRegistrations", p.userRegistrations, Seq("user_id" -> u),
        () => p.getUserRegistrations(u).collect()),
      ("eventStats", p.stats, Nil, () => p.eventStats().collect()),
      ("getSavedCards", p.savedCards, Seq("user_id" -> u),
        () => p.getSavedCards(u).collect()),
      ("newestCardId", p.newestCard, Seq("user_id" -> u),
        () => p.newestCardId(u)))
    val points = Set("authenticateUser", "getUserByEmail", "getEvent",
      "newestCardId")

    println(f"${"read"}%-22s ${"call"}%8s ${"bind"}%8s ${"fold"}%8s " +
      f"${"collect"}%8s")
    reads.foreach { case (name, prepared, values, call) =>
      val whole = time(call)
      def bind() = {
        val (tpl, relations) = prepared.current()
        (tpl, tpl.bindLocal(relations, values.toMap))
      }
      val steps = bind() match {
        case (tpl, Some(bound)) =>
          LocalPlanFold(bound) match {
            case l: LocalRelation =>
              val folded = LocalRelation(tpl.plan.output, l.data)
              val collect: () => Any =
                if (points(name)) () => folded.data.headOption
                  .map(Prepared.toRow(cat, folded))
                else () => GraftSqlShim.ofAnalyzed(spark, folded).collect()
              f"${time(() => bind())}%8.2f " +
                f"${time(() => LocalPlanFold(bound))}%8.2f " +
                f"${time(collect)}%8.2f"
            case _ => "fold declines: analyzed template optimized per call"
          }
        case _ => "not folded: analyzed template optimized per call"
      }
      println(f"$name%-22s $whole%8.2f $steps")
    }

    var next = 0
    def fresh(): Int = { next += 1; next }
    val writes: Seq[(String, () => Any)] = Seq(
      "createUser" -> (() => p.createUser("N", "L", "",
        s"n${fresh()}@x.com", "s3cret1")),
      "registerUserForEvent" -> (() => p.registerUserForEvent(u, events(5))),
      "recordPayment" -> (() => p.recordPayment(u,
        p.registerUserForEvent(u, events(6)), None, BigDecimal(16),
        "OneTime")),
      "registerAndPay" -> (() => p.registerAndPay(u, events(3))))
    println(f"${"write"}%-22s ${"call"}%8s")
    writes.foreach { case (name, call) =>
      println(f"$name%-22s ${time(call)}%8.2f")
    }
    println("recordPayment includes its registerUserForEvent")
    spark.stop()
  }
}

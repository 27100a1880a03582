package graft.store

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite
import graft.service.Portal

/** A read of several tables sees them all at one committed version
  * ([[Catalog.relations]]): a commit landing while the tables are
  * resolved shows in none of them, never in some. */
class ConsistentRelationsSpec extends SparkSuite {

  /** A local store IO that runs `commit` once, just before the `at`-th
    * probe for the existence of the commit-log delta `next`. */
  private final class CommitOnProbe extends LocalStoreIO {
    @volatile private var hook: Option[(String, Int, () => Unit)] = None
    private val probes = new AtomicInteger(0)

    def arm(next: String, at: Int)(commit: => Unit): Unit = {
      probes.set(0)
      hook = Some((next, at, () => commit))
    }

    def disarm(): Unit = hook = None

    override def exists(path: String): Boolean = {
      hook.foreach { case (next, at, commit) =>
        if (path == next && probes.incrementAndGet() == at) {
          hook = None
          commit()
        }
      }
      super.exists(path)
    }
  }

  test("a payment committed while getUserRegistrations resolves its " +
    "tables shows in both registrations and payments or in neither") {
    val root = Files.createTempDirectory("graft_consistent").toString
    val io = new CommitOnProbe
    val cat = new Catalog(spark, root, io)
    val p = new Portal(cat)
    val org = p.createUser("O", "O", "", "o@x.com", "s3cret1", "organizer")
    val event = p.addEvent("Gala", "d", new Timestamp(0L), 0, "Hall",
      "Music", org, BigDecimal(10))
    val user = p.createUser("U", "L", "", "u@x.com", "s3cret1")
    val reg = p.registerUserForEvent(user, event)
    def statuses(): Seq[(String, String)] =
      p.getUserRegistrations(user).collect().toSeq.map(r =>
        (r.getAs[String]("registration_status"),
          r.getAs[String]("latest_payment_status")))
    assert(statuses() == Seq(("Pending", null)))
    // the payment and the registration's flip land in one commit from
    // another instance on the root, just before the third table (events,
    // registrations, payments) would be resolved on its own
    val other = new Portal(new Catalog(spark, root))
    def pay(): Long = other.recordPayment(user, reg,
      amount = BigDecimal(10), paymentType = "OneTime")
    var paid = false
    val next =
      io.resolve(io.resolve(root, "_log"), s"v${cat.version + 1}.json")
    io.arm(next, at = 3) { pay(); paid = true }
    val during = try statuses() finally io.disarm()
    assert(during == Seq(("Pending", null)) ||
      during == Seq(("Success", "Success")), during)
    if (!paid) pay()
    assert(statuses() == Seq(("Success", "Success")))
  }
}

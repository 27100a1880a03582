package graft.store

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.SparkSuite

/** [[CommitLock]] SPI unit semantics: mutual exclusion under
  * contention for BOTH implementations, lease steal after TTL expiry
  * (exactly one contender wins the steal), token-guarded release, and
  * loud config validation. The cross-impl integration load lives in
  * StoreRaceFuzzSpec (parameterized over `file`/`lease`). */
class CommitLockSpec extends SparkSuite {

  private def contend(lock: CommitLock, threads: Int,
      iters: Int): (Long, Long) = {
    // classic lost-update probe: unsynchronized read-modify-write on a
    // plain var is racy UNLESS the lock serializes the critical section
    var counter = 0L
    var maxInside = 0L
    val inside = new java.util.concurrent.atomic.AtomicLong(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to threads).foreach { _ =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try (1 to iters).foreach { _ =>
            lock.withLock {
              val now = inside.incrementAndGet()
              maxInside = math.max(maxInside, now)
              val v = counter
              Thread.`yield`()
              counter = v + 1
              inside.decrementAndGet()
            }
          } catch { case t: Throwable => errs.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "contenders hung")
    assert(errs.isEmpty, s"contender threw: ${errs.peek()}")
    (counter, maxInside)
  }

  test("both implementations serialize contending holders (no lost " +
    "update, never two holders inside)") {
    for (mode <- Seq("file", "lease")) {
      val root = Files.createTempDirectory(s"graft-lock-$mode")
      spark.conf.set("spark.graft.store.commitLock", mode)
      try {
        val lock = CommitLock.forRoot(spark, root.toString, new LocalStoreIO)
        val (counter, maxInside) = contend(lock, threads = 4, iters = 50)
        assert(counter == 200L, s"[$mode] lost updates: $counter of 200")
        assert(maxInside == 1L, s"[$mode] $maxInside holders inside")
      } finally spark.conf.unset("spark.graft.store.commitLock")
    }
  }

  test("lease: an expired lease (presumed-crashed holder) is stolen and " +
    "the lock proceeds; exactly one contender wins the steal") {
    val root = Files.createTempDirectory("graft-lock-steal")
    val leasePath = root.resolve("_commit.lease")
    // plant a lease whose mtime is far past a short TTL
    Files.write(leasePath, "dead-holder-token".getBytes)
    Files.setLastModifiedTime(leasePath,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10000L))
    val lock = new LeaseCommitLock(root, new Object, ttlMillis = 500L)
    // distinct monitors simulate separate processes (no JVM serialization)
    val locks = (1 to 3).map(_ =>
      new LeaseCommitLock(root, new Object, ttlMillis = 500L))
    var won = 0
    val pool = Executors.newFixedThreadPool(3)
    val start = new CountDownLatch(1)
    val mono = new Object
    locks.foreach { l =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          l.withLock { mono.synchronized { won += 1 } }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS), "steal hung")
    assert(won == 3, s"$won of 3 contenders got the lock after a steal")
    assert(!Files.exists(leasePath), "released lease left on disk")
    // no stale-lease tombstones or other debris: the only residue is the
    // LeaseStore's permanent side-lock file (deleting a lock file others
    // may be blocked on is the classic POSIX two-holders race, so it
    // stays — it is a fixture, not debris)
    val ls = Files.list(root)
    try {
      val names = ls.iterator()
      val residue = new scala.collection.mutable.ArrayBuffer[String]()
      while (names.hasNext) residue += names.next().getFileName.toString
      assert(residue.sorted == Seq("_commit.lease.kv"),
        s"steal left debris under the root: $residue")
    } finally ls.close()
  }

  test("lease: a LIVE holder's heartbeat prevents a TTL steal however " +
    "long the critical section runs; mutual exclusion holds throughout") {
    val root = Files.createTempDirectory("graft-lock-beat")
    val leasePath = root.resolve("_commit.lease")
    // TTL far shorter than the critical section: without the heartbeat
    // the contender would steal mid-hold
    val holder = new LeaseCommitLock(root, new Object, ttlMillis = 300L)
    val contender = new LeaseCommitLock(root, new Object, ttlMillis = 300L)
    @volatile var stolenMidHold = false
    @volatile var holderToken: String = null
    @volatile var overlapped = false
    @volatile var inside = false
    val pool = Executors.newFixedThreadPool(2)
    pool.submit(new Runnable {
      override def run(): Unit = holder.withLock {
        inside = true
        holderToken = new String(Files.readAllBytes(leasePath))
        Thread.sleep(1200) // 4x the TTL
        val cur = new String(Files.readAllBytes(leasePath))
        stolenMidHold = cur != holderToken
        inside = false
      }
    })
    Thread.sleep(150) // holder is inside before the contender arrives
    pool.submit(new Runnable {
      override def run(): Unit = contender.withLock {
        if (inside) overlapped = true
      }
    })
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS), "heartbeat hung")
    assert(!stolenMidHold,
      "the lease was stolen from a live, heartbeating holder")
    assert(!overlapped, "two holders were inside the critical section")
    assert(!Files.exists(leasePath), "lease left after both released")
  }

  test("lease: release only removes the holder's OWN token") {
    val root = Files.createTempDirectory("graft-lock-token")
    val leasePath = root.resolve("_commit.lease")
    val lock = new LeaseCommitLock(root, new Object, ttlMillis = 60000L)
    lock.withLock {
      // while held, simulate a (buggy/racing) overwrite by another party:
      // release must NOT delete a lease that is no longer ours
      Files.write(leasePath, "someone-else".getBytes)
    }
    assert(Files.exists(leasePath),
      "release deleted a lease carrying another holder's token")
  }

  test("lease: fencing — a holder whose heartbeat froze past the TTL " +
    "is stolen; verifyStillHeld fails its commit and its release and " +
    "heartbeat both no-op against the stealer's lease") {
    val root = Files.createTempDirectory("graft-lock-fence")
    val leasePath = root.resolve("_commit.lease")
    val real = new FileLeaseStore(leasePath)
    // the "GC pause": suppress the holder's heartbeat touches while
    // frozen — everything else (release, verify) still reaches the store
    @volatile var frozen = false
    val freezable = new LeaseStore {
      override def createIfAbsent(t: String) = real.createIfAbsent(t)
      override def readToken() = real.readToken()
      override def touchIfToken(t: String) =
        !frozen && real.touchIfToken(t)
      override def deleteIfToken(t: String) = real.deleteIfToken(t)
      override def stealIfExpired(ttl: Long) = real.stealIfExpired(ttl)
    }
    val holder = new LeaseCommitLock(root, new Object, ttlMillis = 300L,
      store = freezable)
    val contender = new LeaseCommitLock(root, new Object, ttlMillis = 300L)
    @volatile var fenced = false
    @volatile var holderReleaseDone = false
    @volatile var stealerKeptLease = false
    val pool = Executors.newFixedThreadPool(2)
    pool.submit(new Runnable {
      override def run(): Unit = {
        try holder.withLock {
          frozen = true
          Thread.sleep(1200) // 4x TTL with the heartbeat frozen
          frozen = false
          holder.verifyStillHeld() // must throw: the lease was stolen
        } catch {
          case _: Catalog.ConcurrentWriteException => fenced = true
        }
        holderReleaseDone = true // withLock's finally (release) has run
      }
    })
    Thread.sleep(400) // holder is frozen; TTL (300 ms) has lapsed
    pool.submit(new Runnable {
      override def run(): Unit = contender.withLock {
        val mine = Files.readString(leasePath)
        // hold while the paused holder wakes, gets fenced, and releases:
        // its token-conditional release must not touch OUR lease
        val deadline = System.currentTimeMillis() + 10000
        while (!holderReleaseDone && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        stealerKeptLease = Files.exists(leasePath) &&
          Files.readString(leasePath) == mine
      }
    })
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS), "fence test hung")
    assert(fenced,
      "verifyStillHeld did not fail the paused holder's commit")
    assert(stealerKeptLease,
      "the paused holder's release or heartbeat clobbered the stealer")
    assert(!Files.exists(leasePath), "lease left after both released")
  }

  test("the lock mode is pinned per root: a second open with the OTHER " +
    "commitLock mode fails loudly instead of silently racing") {
    val root = Files.createTempDirectory("graft-lock-mode")
    spark.conf.set("spark.graft.store.commitLock", "file")
    try {
      CommitLock.forRoot(spark, root.toString, new LocalStoreIO) // pins 'file' in _commit.lockmode
      spark.conf.set("spark.graft.store.commitLock", "lease")
      val e = intercept[IllegalStateException] {
        CommitLock.forRoot(spark, root.toString, new LocalStoreIO)
      }
      assert(e.getMessage.contains("file") &&
        e.getMessage.contains("lease"),
        s"mismatch message must name both modes: ${e.getMessage}")
      // same mode re-opens fine
      spark.conf.set("spark.graft.store.commitLock", "file")
      CommitLock.forRoot(spark, root.toString, new LocalStoreIO)
    } finally spark.conf.unset("spark.graft.store.commitLock")
  }

  test("store-side publish fence (round 18): a writer whose version " +
    "file lands concurrently collides on the publish instead of " +
    "clobbering, and the retried convenience re-runs cleanly") {
    val root = Files.createTempDirectory("graft-fence").toString
    val collided = new java.util.concurrent.atomic.AtomicInteger(0)
    // fault injection: just before OUR publish of v2, a "concurrent
    // winner" lands its own v2.json (same bytes — content is
    // irrelevant to the fence; the version file existing is) — the
    // paused-lease-holder interleaving with the client-side verify
    // already passed
    val evil = new LocalStoreIO {
      override def renameIfAbsent(src: String, dst: String): Boolean = {
        if (dst.endsWith("/v2.json") && collided.get() == 0) {
          collided.incrementAndGet()
          write(dst, readAllBytes(src))
        }
        super.renameIfAbsent(src, dst)
      }
    }
    val cat = new Catalog(spark, root, evil)
    def user(email: String) = {
      val s = spark
      import s.implicits._
      Seq(("F", "L", "0123456789", email, "h", "user",
        new java.sql.Timestamp(0L)))
        .toDF("first_name", "last_name", "phone", "email",
          "password_hash", "user_role", "created_at")
    }
    cat.append("users", user("a@x.c")) // v1, clean
    cat.append("users", user("b@x.c")) // v2 publish collides, retries as v3
    assert(collided.get() == 1, "the injected collision must have fired")
    assert(cat.version == 3L,
      s"expected the retry to land as v3, got v${cat.version}")
    val rows = cat.read("users").select("user_id", "email")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // the injected v2 carries the SAME staged file as the failed
    // attempt (bytes copied), so its row is visible once under v2's
    // ids, and the retried append landed b@x.c again with the next id —
    // exactly the semantics of losing an OCC race to a twin writer
    assert(rows.map(_._1).sameElements(Array(1L, 2L, 3L)),
      s"ids must stay dense across the fenced retry: ${rows.toSeq}")
    assert(rows.count(_._2 == "b@x.c") == 2 &&
      rows.count(_._2 == "a@x.c") == 1, s"unexpected rows: ${rows.toSeq}")
  }

  test("unknown commitLock mode fails loudly naming the key") {
    val root = Files.createTempDirectory("graft-lock-bad")
    spark.conf.set("spark.graft.store.commitLock", "zookeeper")
    try {
      val e = intercept[IllegalArgumentException] {
        CommitLock.forRoot(spark, root.toString, new LocalStoreIO)
      }
      assert(e.getMessage.contains("spark.graft.store.commitLock"))
    } finally spark.conf.unset("spark.graft.store.commitLock")
  }

  test("a store root on the lease lock runs full DML end to end") {
    spark.conf.set("spark.graft.store.commitLock", "lease")
    try {
      val dir = Files.createTempDirectory("graft-lease-store").toString
      val cat = new Catalog(spark, dir)
      import spark.implicits._
      import org.apache.spark.sql.functions._
      cat.createTable("m", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("m_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))), "m_id")
      cat.append("m", Seq(("a", 1.0), ("b", 2.0)).toDF("name", "score"))
      cat.update("m", col("name") === "a", Map("score" -> lit(9.0)))
      cat.delete("m", col("name") === "b")
      assert(cat.read("m").select("name", "score").as[(String, Double)]
        .collect().toSet == Set(("a", 9.0)))
      assert(!Files.exists(Paths.get(dir, "_commit.lease")),
        "lease held after the commits finished")
    } finally spark.conf.unset("spark.graft.store.commitLock")
  }
}

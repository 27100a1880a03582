package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, local[4]). */
object TestSession {
  lazy val spark: SparkSession = graft.core.Sessions.local(4)
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts on this thread: jobs carry the thread's
    * job group; a marker job in another group, started after `body`,
    * proves every earlier job event has reached the listener. */
  protected def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val n = new AtomicInteger(0)
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach { g =>
            if (g == group) n.incrementAndGet()
            if (g == marker) seen.countDown()
          }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "job count")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, TimeUnit.SECONDS))
      n.get
    } finally sc.removeSparkListener(l)
  }
}

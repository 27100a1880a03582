package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch milliseconds (fractional), the
  * clock Spark's listener events use, so jobs and micro-batches line up
  * with the spans that caused them. `parent` is 0 for a root span;
  * `trace` is the id of the root span of the op it belongs to. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, t0: Double, var t1: Double = -1)

/** In-memory span recorder plus the listeners that attach Spark work to
  * spans. A span opened on a thread sets the Spark local property
  * [[Tracer.SpanKey]]; every job submitted from that thread (or from a
  * streaming thread it starts) carries the id, so jobs, stages and tasks
  * are credited to the calling span. Planning time is noted per span by
  * the caller ([[notePlan]]). Micro-batch progress events arrive
  * late on the listener bus, so they are kept with their own timestamps
  * and become child spans of the streaming span whose interval holds
  * them ([[batchParent]]).
  *
  * Tracing is switched by [[on]]: while off, [[span]] runs its body with
  * no bookkeeping and the listeners ignore untagged work. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)

  def span[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.get.headOption
      val id = ids.incrementAndGet()
      val s = Span(id, parent.fold(0L)(_.id), parent.fold(id)(_.trace),
        name, layer, now())
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      stack.set(s :: stack.get)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      try body
      finally {
        s.t1 = now()
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.SpanKey, prev)
        spans.add(s)
      }
    }

  // ---- Spark work credited to spans (filled on the listener bus) ----

  /** Id of the innermost open span on this thread (0 = none). */
  def current: Long = stack.get.headOption.fold(0L)(_.id)

  final class Job(val span: Long, val t0: Double,
      @volatile var t1: Double = -1)
  final class Work {
    val tasks = new AtomicLong
    val shuffleBytes = new AtomicLong
    val scanBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }
  final case class Batch(t0: Double, t1: Double, rows: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long)

  val jobs = new ConcurrentHashMap[Int, Job]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  val work = new ConcurrentHashMap[Long, Work]
  val batches = new ConcurrentLinkedQueue[Batch]
  /** Span id -> ms spent planning the query the span ran. */
  val planMs = new ConcurrentHashMap[Long, Double]

  def notePlan(ms: Double): Unit = if (on) planMs.put(current, ms)

  private val lastEvent = new AtomicLong(System.nanoTime())

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.nanoTime())
      val span = spanOf(e.properties)
      if (span != 0) {
        jobs.put(e.jobId, new Job(span, e.time.toDouble))
        e.stageIds.foreach(stageSpan.put(_, span))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.nanoTime())
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.nanoTime())
      val span = stageSpan.getOrDefault(e.stageId, 0L)
      val m = e.taskMetrics
      if (span != 0 && m != null) {
        val w = work.computeIfAbsent(span, _ => new Work)
        w.tasks.incrementAndGet()
        w.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        w.scanBytes.addAndGet(m.inputMetrics.bytesRead)
        w.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      lastEvent.set(System.nanoTime())
      // kept whatever `on` says: a batch's event can arrive after its span
      // closed; batches of untraced spans match no span and are dropped
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        .toMap
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators
      batches.add(Batch(t0, t0 + d.getOrElse("triggerExecution", 0L),
        p.numInputRows, d, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum))
    }
  }

  /** The streaming span a micro-batch ran under (0 = untraced). */
  def batchParent(b: Batch, all: Seq[Span]): Long =
    all.find(s => s.layer == "streaming" && s.t0 <= b.t0 && b.t0 <= s.t1)
      .fold(0L)(_.id)

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener buses have gone quiet for `quietMs`. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEvent.get < quietMs * 1000000L &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

object Tracer {
  val SpanKey = "graft.perfbench.span"
}

package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** One completed or failed workload op, timed by the client. `unit` is
  * the pass or session it belongs to. */
final case class Op(name: String, layer: String, unit: Int,
    t0: Double, t1: Double, ok: Boolean, err: String)

/** State shared by the workloads of one run: the session, the plan, the
  * tracer and the op log. */
final class Run(val spark: SparkSession, val plan: JsonNode,
    val tracer: Tracer) {
  val traced: Boolean = plan.get("trace").asBoolean
  val dataDir: String = plan.get("data_dir").asText
  val workDir: String = plan.get("work_dir").asText
  def cfg: JsonNode = plan.get(plan.get("workload").asText)

  /** Ops of the timed window. */
  val ops = new ConcurrentLinkedQueue[Op]
  /** Ops that failed during set-up or warm-up: the run is not valid. */
  val setupFailures = new ConcurrentLinkedQueue[String]
  @volatile var measuring = false
  /** The pass or session the calling thread is running. */
  val unit: ThreadLocal[Int] = ThreadLocal.withInitial(() => 0)

  /** Run one op: a root span (layer `bench`) around the call, whose child
    * span (layer `layer`) covers the call into the engine. Latency is the
    * call alone; `after` (result checks) runs inside the root span only.
    * Failures are recorded, never retried, and returned as `None`. */
  def op[A](name: String, layer: String)(call: => A)(
      after: A => Unit = (_: A) => ()): Option[A] =
    tracer.span(name, "bench") {
      val t0 = tracer.now()
      val r = try Right(tracer.span(name, layer)(call))
        catch { case NonFatal(e) => Left(e) }
      val t1 = tracer.now()
      val err = r.left.toOption.fold("")(_.getClass.getSimpleName)
      if (measuring)
        ops.add(Op(name, layer, unit.get, t0, t1, r.isRight, err))
      r.left.toOption.foreach { e =>
        System.err.println(s"[perfbench] $name failed: $e")
        if (!measuring) setupFailures.add(s"$name failed in set-up: $e")
      }
      r.toOption.map { x => after(x); x }
    }
}

/** A workload: staged and warmed in [[setup]], timed in [[measure]],
  * checked in [[check]] (a list of failed checks; empty = correct). */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def measure(): Unit
  def check(): Seq[String]
  def extra(): Map[String, Any] = Map.empty
}

/** Benchmark JVM entry: `Main <plan.json> <result.json>`. Runs one
  * workload as the plan describes and writes raw timings, spans and
  * check outcomes; the Python front end turns them into metrics. */
object Main {
  /** Cumulative JVM and codegen counters; the window reports deltas. */
  private def jvm(): Map[String, Double] = Map(
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum.toDouble,
    "jit_ms" ->
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    "codegen_ms" -> CodeGenerator.compileTime / 1e6,
    "codegen_classes" ->
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val cpus = plan.get("cpus").asInt
    val spark = graft.core.Sessions.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    val tracer = new Tracer(spark.sparkContext)
    val run = new Run(spark, plan, tracer)
    if (run.traced) tracer.install(spark)

    val w: Workload = plan.get("workload").asText match {
      case "analytics" => new Analytics(run)
      case "portal" => new PortalLoad(run)
    }
    val s0 = tracer.now()
    w.setup()
    val s1 = tracer.now()
    w.warmup()
    val s2 = tracer.now()
    val before = jvm()
    run.measuring = true
    tracer.on = run.traced
    val m0 = tracer.now()
    w.measure()
    val m1 = tracer.now()
    run.measuring = false
    tracer.on = false
    val after = jvm()
    val failures = run.setupFailures.asScala.toSeq ++
      (try w.check() catch { case NonFatal(e) => Seq(s"check raised $e") })
    tracer.drain()

    val spans = tracer.spans.asScala.toSeq
    val result = Map(
      "setup" -> Map("session_ms" -> sessionMs, "stage_ms" -> (s1 - s0),
        "warmup_ms" -> (s2 - s1)),
      "window" -> Map("t0" -> m0, "t1" -> m1),
      "jvm" -> Map(
        "window" -> after.map { case (k, v) => k -> (v - before(k)) },
        "rss_peak_kb" -> vmHwmKb()),
      "ops" -> run.ops.asScala.map(o =>
        Map("name" -> o.name, "layer" -> o.layer, "unit" -> o.unit,
          "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok,
          "err" -> o.err)),
      "failures" -> failures,
      "spans" -> spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
          "name" -> s.name, "layer" -> s.layer, "t0" -> s.t0, "t1" -> s.t1)),
      "jobs" -> tracer.jobs.asScala.map { case (id, j) =>
        Map("id" -> id, "span" -> j.span, "t0" -> j.t0, "t1" -> j.t1)
      },
      "plan_ms" -> tracer.planMs.asScala.map { case (span, ms) =>
        span.toString -> ms },
      "work" -> tracer.work.asScala.map { case (span, x) =>
        span.toString -> Map("tasks" -> x.tasks.get,
          "shuffle_bytes" -> x.shuffleBytes.get,
          "scan_bytes" -> x.scanBytes.get,
          "spill_bytes" -> x.spillBytes.get)
      },
      "batches" -> tracer.batches.asScala
        .map(b => (tracer.batchParent(b, spans), b)).filter(_._1 != 0)
        .map { case (span, b) =>
          Map("span" -> span, "t0" -> b.t0, "t1" -> b.t1, "rows" -> b.rows,
            "durations" -> b.durations, "state_rows" -> b.stateRows,
            "state_bytes" -> b.stateBytes)
        },
      "extra" -> w.extra())
    Files.writeString(Paths.get(args(1)), Json(result))
    spark.stop()
  }
}

package graft.tools

/** Diagnostic main: runs a caller-chosen sequence of registered queries
  * (by name, comma-separated in SPARK_GRAFT_PROBE, each name optionally
  * suffixed #N to repeat, e.g. "ext_dedup_minhash#3") with per-query wall
  * time + heap/GC deltas, to attribute bench slow-windows to
  * ordering/state rather than plans.
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spec = sys.env.getOrElse("SPARK_GRAFT_PROBE",
      "ext_dedup_exact,ext_dedup_minhash,ext_dedup_simhash," +
        "ext_dedup_ngram_jaccard,ext_sim_topk_brute,ext_embed_neardup," +
        "ext_sim_ann_lsh,ext_bucketed_join")
    val spark = graft.core.Sessions.local()
    val byName = graft.SparkEntry.registry.map(q => q.name -> q).toMap

    // stage-level attribution: wall-clock per stage vs summed task time
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long, Int, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(-1L)
          stages.add((si.stageId, si.name.takeWhile(_ != '\n').take(60),
            wall, si.taskMetrics.executorRunTime, si.numTasks,
            si.taskMetrics.jvmGCTime))
        }
      })

    // SPARK_GRAFT_PROBE_STACKS=1: sample RUNNABLE executor-task threads
    // once a second — the in-task attribution (janino compile? md5? shuffle
    // write?) that stage-level counters can't show
    if (sys.env.get("SPARK_GRAFT_PROBE_STACKS").contains("1")) {
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(1000)
          val now = System.currentTimeMillis()
          Thread.getAllStackTraces.forEach { (th, frames) =>
            if (th.getName.startsWith("Executor task launch worker")
                && th.getState == Thread.State.RUNNABLE && frames.nonEmpty) {
              val top = frames.take(8).map(f =>
                s"${f.getClassName.split("\\.").takeRight(2).mkString(".")}.${f.getMethodName}")
                .mkString(" < ")
              println(s"[stack $now] ${th.getName.takeRight(2)}: $top")
            }
          }
        }
      })
      t.setDaemon(true); t.start()
    }

    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = {
      var t = 0L; gcBeans.forEach(b => t += b.getCollectionTime); t
    }
    def heapMb: Long = {
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / (1 << 20)
    }

    spark.range(1000).selectExpr("sum(id)").collect()
    val names = spec.split(",").flatMap { tok =>
      val (n, rep) = "^(.*)#(\\d+)$".r.findFirstMatchIn(tok) match {
        case Some(m) => (m.group(1), m.group(2).toInt)
        case None => (tok, 1)
      }
      Seq.fill(rep)(n)
    }
    // janino codegen activity per run: a mid-sequence burst of NEW
    // compilations = codegen-cache misses (AQE replan / source drift),
    // the prime suspect for intermittent 5-15x runs of an unchanged query
    def janinoCompiles: (Long, Long) = {
      import org.apache.spark.metrics.source.CodegenMetrics._
      (METRIC_COMPILATION_TIME.getCount,
        METRIC_COMPILATION_TIME.getSnapshot.getValues.sum / 1000000L)
    }
    names.foreach { n =>
      val q = byName(n)
      q.setup.foreach(_(spark, sfDir))
      val g0 = gcMs
      val (jc0, _) = janinoCompiles
      val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
      val j0 = jitBean.getTotalCompilationTime
      val t0 = System.nanoTime()
      val rows = q.fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val (jc1, _) = janinoCompiles
      println(f"[probe] $n%-28s ${dt}%8.2f s  gc=+${gcMs - g0}%5d ms  jit=+${jitBean.getTotalCompilationTime - j0}%6d ms  heap=${heapMb}%6d MB  janinoNew=${jc1 - jc0}%3d  rows=$rows")
      Thread.sleep(300) // let stage-completed events drain
      val snap = new java.util.ArrayList(stages)
      stages.clear()
      val top = snap.toArray(Array.empty[(Int, String, Long, Long, Int, Long)])
        .sortBy(-_._3).take(8)
      val stageWall = snap.toArray(Array.empty[(Int, String, Long, Long, Int, Long)]).map(_._3).sum
      println(f"[probe]   stages=${snap.size}%3d sumStageWall=${stageWall / 1e3}%7.2f s (unattributed=${dt - stageWall / 1e3}%7.2f s)")
      top.foreach { case (id, nm, wall, run, nt, gc) =>
        println(f"[probe]   stage $id%4d wall=${wall / 1e3}%7.2f s taskSum=${run / 1e3}%8.2f s tasks=$nt%4d gc=${gc}%5d ms  $nm")
      }
      // parity with Bench.dropAllPersisted: checkpoint blocks survive
      // clearCache and would otherwise accumulate across repetitions
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}

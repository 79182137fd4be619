package graft.bench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.SparkEntry

/** Dev probe for the r20 optimization round: times named queries
  * (noop sink, same methodology as Bench) so a single operator can be
  * measured in isolation without paying the full 321-query sweep.
  * With GRAFT_PROBE_JOBS=1 it also prints one line per Spark job
  * (wall ms, #stages, #tasks, summed task ms) so a multi-job operator
  * (the CC loop, gates with driver-side readouts) can be broken down
  * without the UI.
  *
  *   scripts/run.sh graft.bench.OptProbe <sfDir> <nRuns> q1 q2 ...
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nRuns = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")

    val jobsOn = sys.env.get("GRAFT_PROBE_JOBS").contains("1")
    @volatile var collecting = false
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    // per-job (nStages, nTasks, executorRunTime ms) rollup so a slow
    // job can be attributed to task compute vs scheduling overhead
    val jobAgg = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int, Long)]
    if (jobsOn) spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, System.nanoTime())
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        if (collecting) {
          val cs = Option(e.properties)
            .map(_.getProperty("callSite.short", "?")).getOrElse("?")
          System.err.println(s"[jobstart] id=${e.jobId} at $cs")
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(e.stageInfo.stageId, -1)
        jobAgg.merge(jid,
          (1, e.stageInfo.numTasks, e.stageInfo.taskMetrics.executorRunTime),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val t0 = jobStart.remove(e.jobId)
        val (st, tk, ms) = jobAgg.getOrDefault(e.jobId, (0, 0, 0L))
        if (collecting && t0 != null)
          System.err.println(f"[job] id=${e.jobId} wall=${(System.nanoTime() - t0) / 1e6}%.0fms stages=$st tasks=$tk taskMs=$ms")
      }
    })

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tBuilt = System.nanoTime()
      df.queryExecution.executedPlan // force analysis+optimization+planning
      val tPlanned = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tDone = System.nanoTime()
      if (jobsOn) System.err.println(
        f"[split] $name build=${(tBuilt - t0) / 1e6}%.0fms plan=${(tPlanned - tBuilt) / 1e6}%.0fms exec=${(tDone - tPlanned) / 1e6}%.0fms")
      val dt = (tDone - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }
    // warm-up on the same shapes Bench uses
    Seq("q1_agg", "q_window_lead", "q_dedup_exact", "q_join_semi")
      .foreach(q => try once(q) catch { case _: Throwable => () })

    names.foreach { n =>
      collecting = jobsOn
      val runs = (1 to nRuns).map { _ =>
        try once(n) catch { case e: Throwable =>
          System.err.println(s"[probe] $n failed: ${e.getMessage}"); -1.0 }
      }
      collecting = false
      println(f"$n%-45s runs=${runs.map(r => f"$r%.3f").mkString(",")} best=${runs.filter(_ >= 0).minOption.getOrElse(-1.0)}%.3f")
    }
    spark.stop()
  }
}

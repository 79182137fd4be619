package perfbench

import scala.collection.mutable
import org.apache.spark.{Bus, SparkContext}
import org.apache.spark.scheduler._

/** Per-span rollup of one traced run.
  *
  * A span is a named stretch of driver time (`stage1`, `stage2`,
  * `cold`). A span name may be opened many times (once per repetition)
  * and spans may nest: the `cold` span of a pipelines repetition
  * encloses its two stages. Spark jobs are attributed by time: a job
  * belongs to every span that was open when it was submitted, so the
  * concurrent legs a `Par` gate forks land in the gate's span. Task
  * metrics follow their stage's job. */
final class Trace(sc: SparkContext) {
  import Trace.Counters

  private val cores = sc.defaultParallelism
  private val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val open = mutable.ArrayBuffer.empty[String]
  private val spans = mutable.Map.empty[String, Counters]
  // per job: submit time (ms), jobs running once it started, task totals
  private val jobs = mutable.Map.empty[Int, (Long, Int)]
  private val jobTasks = mutable.Map.empty[Int, Counters]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var running = 0

  private def c(span: String) = spans.getOrElseUpdate(span, new Counters)

  private var listenerNs = 0L

  // every callback's own time is summed: the CPU the tracing costs
  private def timed(body: => Unit): Unit = Trace.this.synchronized {
    val t0 = System.nanoTime()
    body
    listenerNs += System.nanoTime() - t0
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      running += 1
      jobs(e.jobId) = (e.time, running)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed { running -= 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId) if m != null) {
        val x = jobTasks.getOrElseUpdate(j, new Counters)
        x.tasks += 1
        x.taskMs += m.executorRunTime
        x.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def attach(): Unit = sc.addSparkListener(listener)

  /** Stop listening once every event posted so far is delivered. */
  def detach(): Unit = { Bus.drain(sc); sc.removeSparkListener(listener) }

  /** Run `body` inside span `name`, adding its driver wall time to the
    * span's `wall_s`. */
  def span[T](name: String)(body: => T): T = {
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    synchronized(open += name)
    try body
    finally synchronized {
      open -= name
      c(name).wallS += (System.nanoTime() - t0) / 1e9
      intervals += ((name, from, System.currentTimeMillis()))
    }
  }

  /** Add a build/plan/exec split (seconds) to every open span. */
  def addSplit(split: (Double, Double, Double)): Unit = synchronized {
    open.distinct.map(c).foreach { x =>
      x.buildS += split._1; x.planS += split._2; x.execS += split._3
    }
  }

  /** Count `n` leaked RDDs in span `name` and in every open span. */
  def addLeaked(name: String, n: Int): Unit = synchronized {
    (open :+ name).distinct.map(c).foreach(_.leaked += n)
  }

  /** Fold every job into the spans open when it was submitted and name
    * each span's counters, as means over `reps` repetitions (concurrency
    * and core_busy are not averaged). */
  def metrics(names: Seq[String], reps: Int): Seq[(String, Double, String)] = {
    val n = math.max(1, reps).toDouble
    synchronized {
      for ((job, (t, conc)) <- jobs; (name, from, to) <- intervals if t >= from && t <= to) {
        val x = c(name)
        x.jobs += 1
        x.maxConcurrent = math.max(x.maxConcurrent, conc)
        jobTasks.get(job).foreach { b =>
          x.tasks += b.tasks; x.taskMs += b.taskMs
          x.shuffleBytes += b.shuffleBytes
        }
      }
      names.flatMap { s =>
        val x = c(s)
        Seq(
          (s"$s.wall_s", x.wallS / n, "s"),
          (s"$s.build_s", x.buildS / n, "s"),
          (s"$s.plan_s", x.planS / n, "s"),
          (s"$s.exec_s", x.execS / n, "s"),
          (s"$s.jobs", x.jobs / n, "count"),
          (s"$s.tasks", x.tasks / n, "count"),
          (s"$s.task_s", x.taskMs / 1e3 / n, "s"),
          (s"$s.core_busy", if (x.wallS > 0) x.taskMs / 1e3 / (x.wallS * cores) else 0.0, "ratio"),
          (s"$s.shuffle_mb", x.shuffleBytes / 1e6 / n, "MB"),
          (s"$s.max_concurrent_jobs", x.maxConcurrent.toDouble, "count"),
          (s"$s.leaked_rdds", x.leaked / n, "count"))
      } :+ (("trace.listener_s", listenerNs / 1e9 / n, "s"))
    }
  }
}

object Trace {
  final class Counters {
    var wallS, buildS, planS, execS = 0.0
    var jobs, tasks, leaked, maxConcurrent = 0
    var taskMs, shuffleBytes = 0L
  }
}

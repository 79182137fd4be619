package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** State of one benchmark run: the session, the seed, a scratch dir
  * inside the checkout, the tracer (None on untraced runs), and
  * everything measured so far.
  *
  * Timing discipline: every operation is timed from the call into
  * graft to the end of its execution; cache teardown and output checks
  * run outside the timed region. Spans are timed on the driver whether
  * or not the run is traced, so end-to-end numbers come out of the same
  * code path in both modes. */
final class Run(val spark: SparkSession, val seed: Long, val work: String) {
  var trace: Option[Trace] = None
  var attempted = 0
  var failed = 0
  /** Per-repetition span walls, one map per measured repetition. */
  val reps = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
  /** Latencies of the measured operations that enter op_p50_s. */
  val ops = mutable.ArrayBuffer.empty[Double]
  /** Input-making times (set-up rounds and later repetitions). */
  val preps = mutable.ArrayBuffer.empty[Double]
  private var dirs = 0

  /** A fresh, empty directory under the run's scratch dir. */
  def freshDir(tag: String): String = {
    dirs += 1
    val p = java.nio.file.Paths.get(work, s"$tag-$dirs")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Run `body` in span `name`: its wall time adds to the span's total
    * for the current repetition, and to the tracer's span when traced. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try trace.fold(body)(_.span(name)(body))
    finally if (reps.nonEmpty) {
      val m = reps.last
      m(name) = m.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
  }

  /** Time one round of input making. */
  def prep[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    preps += (System.nanoTime() - t0) / 1e9
    r
  }

  /** One attempted operation: count it, and count it failed when it
    * throws. */
  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(body)
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
      }
    System.err.println(f"[perfbench] op $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  /** Run `body` between two `clearCache()` calls; the persisted RDDs it
    * leaves behind go to `span`'s `leaked_rdds`. */
  def leaks[T](span: String)(body: => T): T = {
    val before = persisted()
    try body
    finally trace.foreach(_.addLeaked(span, math.max(0, persisted() - before)))
  }

  /** Output check on an operation that already counted as attempted;
    * a check that throws fails. */
  def check(ok: => Boolean, what: => String): Unit =
    if (!(try ok catch { case _: Exception => false })) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }

  /** Persisted RDDs left in the context after `clearCache()`. */
  private def persisted(): Int = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.size
  }

  /** A graft query as one operation in `span`: build, plan and run it
    * through the `noop` sink, or `collect` it when its rows are checked
    * (gates, the release manifest). Returns the timed seconds and the
    * collected rows. */
  def query(name: String, span: String, dir: String, collect: Boolean)
      : Option[(Double, Array[Row])] =
    leaks(span)(attempt(name) {
      var rows = Array.empty[Row]
      val t0 = System.nanoTime()
      this.span(span) {
        val t = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val built = System.nanoTime()
        df.queryExecution.executedPlan
        val planned = System.nanoTime()
        if (collect) rows = df.collect()
        else df.write.format("noop").mode("overwrite").save()
        val done = System.nanoTime()
        trace.foreach(_.addSplit(((built - t) / 1e9, (planned - built) / 1e9,
          (done - planned) / 1e9)))
      }
      ((System.nanoTime() - t0) / 1e9, rows)
    })

  /** Unpersist every RDD that is not in `keep` and drop the SQL cache,
    * so one repetition's leftovers cannot slow the next. */
  def release(keep: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
}

object Run {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

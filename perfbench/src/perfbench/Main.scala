package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per JVM:
  *
  *   Main --workload pipelines|board --seed N --seconds S --trace 0|1
  *        --work DIR --board FILE
  *
  * Sets up (session, seeded inputs), then runs measured repetitions
  * for about `--seconds` (at least one) and prints one JSON line:
  * `correct`, `attempted`, `failed`, the end-to-end `metrics` and, with
  * `--trace 1`, the per-layer `layers` of a run traced by a Spark
  * listener and the build/plan/exec split. */
object Main {

  /** The generated table set the board runs on: the row counts of
    * graft's smallest harness scale. */
  val BoardScale = Gen.Scale(customers = 150, suppliers = 10, parts = 200, orders = 1500,
    lineitems = 6000, events = 1000, docs = 500, vectors = 500)

  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val traceMode = opt("trace") == "1"
    val work = opt("work")
    val seed = opt("seed").toLong
    val workload: Workload = opt("workload") match {
      case "pipelines" => new Pipelines(stations = 100, days = 365, docs = 250, scale = 2)
      case "board" =>
        val src = scala.io.Source.fromFile(opt("board"))
        val names = try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
          finally src.close()
        val unknown = names.filterNot(graft.SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown board queries: ${unknown.mkString(", ")}")
        new Board(names, BoardScale)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // set-up: the session once, then the inputs `SetupRounds` times
    // (each round writes a fresh set; the last one feeds the first
    // repetition), reported as session time plus the median round
    val session = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val run = new Run(spark, seed, work)
    (1 to SetupRounds).foreach(_ => run.prep(workload.inputs(run)))

    val trace = if (traceMode) Some(new Trace(spark.sparkContext)) else None
    trace.foreach(_.attach())
    run.trace = trace
    // repetitions run while the next one is expected to end within
    // `seconds`; there is always at least one
    val t0 = System.nanoTime()
    val repTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (repTimes.isEmpty || elapsed + Run.median(repTimes.toSeq) <= seconds) {
      val r0 = elapsed
      if (run.reps.nonEmpty) run.prep(workload.inputs(run))
      run.reps += scala.collection.mutable.Map.empty
      workload.rep(run)
      repTimes += elapsed - r0
    }
    trace.foreach(_.detach())

    def perRep(span: String) = run.reps.map(_.getOrElse(span, 0.0)).toSeq
    val endToEnd = Seq(
      ("setup_s", session + Run.median(run.preps.toSeq), "s"),
      ("ok_rate", (run.attempted - run.failed).toDouble / math.max(1, run.attempted), "ratio"),
      ("cold_s", Run.median(perRep("cold")), "s"),
      ("stage1_s", Run.median(perRep("stage1")), "s"),
      ("stage2_s", Run.median(perRep("stage2")), "s"),
      ("op_p50_s", Run.median(run.ops.toSeq), "s"))
    System.out.println(s"[perfbench] ${opt("workload")} seed=$seed traced=$traceMode " +
      s"reps=${run.reps.length} ops=${run.ops.length} attempted=${run.attempted} failed=${run.failed}")
    System.out.println(f"[perfbench] set-up: session $session%.2f s, input rounds " +
      run.preps.map(p => f"$p%.2f").mkString(", ") + " s")
    System.out.println("[perfbench] artifact builds: " + graft.BuildTimes.snapshot
      .map { case (n, t) => f"$n $t%.2f s" }.mkString(", "))
    endToEnd.foreach { case (n, v, u) => System.out.println(f"[perfbench] $n%-10s $v%12.4f $u") }
    val layers = trace.toSeq.flatMap(_.metrics(Seq("cold", "stage1", "stage2"), run.reps.length))
    System.out.println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": ${obj(endToEnd)}, "layers": ${obj(layers)}}""")
    spark.stop()
    System.exit(if (run.failed == 0) 0 else 1)
  }

  private def obj(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${json(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

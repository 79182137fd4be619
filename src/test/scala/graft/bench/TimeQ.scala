package graft.bench

/** Dev timing for individual registered queries (bench conditions:
  * noop sink, clearCache between runs, two runs to show warm-up).
  *
  *   SPARK_GRAFT_SF_DIR=... scripts/run.sh graft.bench.TimeQ <query>...
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[timeq] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}

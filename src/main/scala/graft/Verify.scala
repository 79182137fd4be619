package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a small thread pool — Spark's scheduler interleaves
  * their jobs across the local executor threads, which roughly halves
  * the wall-clock of the ML-fit and LSH queries that would otherwise
  * serialize behind each other's idle phases.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing query names restrict the dump (dev inner loop);
    // the driver always runs the full set.
    val only = args.drop(2).toSet
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Dev-only knob for COVERAGE.md's determinism sweep: a 128 KB run
    // splits scan-side partial aggregation; the driver never sets it.
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MPB", "134217728"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val runs = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(runs), Duration.Inf)
    pool.shutdown()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

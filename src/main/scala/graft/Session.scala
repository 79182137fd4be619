package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session factory behind every graft main and the
  * test harness: `local[cores]`, UTC session time zone (the oracle
  * compare and the timestamp canonicalization in [[Tables]] assume
  * it), no UI, and one shuffle partition per core. AQE is left at
  * Spark's default (on). */
object Session {
  def local(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}

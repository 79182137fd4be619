package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * getOrCreate returns the same instance across suites). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf001 = "/root/testdata/sf0.001"
  lazy val sf01 = "/root/testdata/sf0.01"

  /** Run `body` with session confs temporarily overridden, restoring
    * the prior values (or unsetting) afterwards — the shared-session
    * discipline: suites must never leak conf changes into each other. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(8)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{DotProduct, Registry}

/** The engine's Catalyst extension surface: [[GraftExtensions]] as the
  * `spark.sql.extensions` entry point, and [[FuseDotProduct]] as an
  * optimizer rule reachable both through it and through
  * `Registry.registerAll` (experimental.extraOptimizations).
  */
class ExtensionsSpec extends SparkSpec {

  private def hasDotProduct(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[DotProduct]))

  // parquet-backed (a local relation would be constant-folded before
  // the plan can be inspected); coalesce(c, 0d) makes each element
  // non-nullable, so array(..) is ArrayType(DoubleType, containsNull
  // = false) — the rule's soundness gate
  private def vecs(s: SparkSession) = graft.Tables.lineitem(s, sf001)
    .select(
      array(coalesce(col("l_quantity"), lit(0.0)),
        coalesce(col("l_extendedprice"), lit(0.0))).as("a"),
      array(coalesce(col("l_discount"), lit(0.0)),
        coalesce(col("l_tax"), lit(0.0))).as("b"),
      col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"))

  test("FuseDotProduct rewrites the lambda idiom into the native kernel") {
    Registry.registerAll(spark)
    val v = vecs(spark)
    val df = v.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"),
      (col("l_quantity") * col("l_discount") +
        col("l_extendedprice") * col("l_tax")).as("want"))
    assert(hasDotProduct(df), df.queryExecution.optimizedPlan.toString)
    // commuted operand order fuses too
    val commuted = v.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => y * x),
        lit(0.0), (acc, x) => x + acc).as("d"))
    assert(hasDotProduct(commuted), commuted.queryExecution.optimizedPlan.toString)
    // and the answers match the unfused arithmetic
    df.limit(200).collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9)
    }
  }

  test("FuseDotProduct leaves nullable-element arrays on the lambda path") {
    Registry.registerAll(spark)
    // transform(.., when(..)) yields containsNull = true — the two
    // formulations genuinely differ there (lambda chain nulls the sum,
    // DotProduct skips null slots), so the rule must NOT fire
    val nullable = vecs(spark).select(
      transform(col("a"), x => when(x > 0, x)).as("a"), col("b"))
    val df = nullable.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"))
    assert(!hasDotProduct(df), df.queryExecution.optimizedPlan.toString)
  }

  test("GraftExtensions wires dot_product + fusion into a fresh session") {
    // build a second session on the same SparkContext with the
    // extensions installed (the spark-submit --conf path); the shared
    // default/active session is restored afterwards
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(ext ne base, "expected a fresh session, got the shared one")
      // SQL functions resolve with no Registry.registerAll call
      val r = ext.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .head().getDouble(0)
      assert(r == 11.0)
      assert(ext.sql("SELECT jaro_winkler('MARTHA', 'MARTHA')").head().getDouble(0) == 1.0)
      val n = ext.sql(
        "SELECT kll_n(kll_sketch_agg(CAST(id AS DOUBLE), 200)) FROM range(10)")
        .head().getLong(0)
      assert(n == 10L)
      Registry.functions.foreach { case (name, _, _) =>
        assert(ext.catalog.functionExists(name), s"$name not injected")
      }
      // the injected optimizer rule fires in this session
      val df = vecs(ext)
        .select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("d"))
      assert(hasDotProduct(df), df.queryExecution.optimizedPlan.toString)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}

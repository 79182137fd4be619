package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ArrayMathSpec extends SparkSpec {

  import spark.implicits._

  test("dot_product equals the zip_with/aggregate formulation") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 50).map { _ =>
      (Array.fill(64)(rnd.nextDouble()), Array.fill(64)(rnd.nextDouble()))
    }.toDF("a", "b")
    val got = df.select(
      ArrayMath.dotProduct(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("builtin")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("dot_product null semantics: null array/length mismatch -> null; empty -> 0") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0))),
      (None, Some(Array(1.0))),
      (Some(Array.empty[Double]), Some(Array.empty[Double])),
      (Some(Array(1.0, 2.0, 3.0)), Some(Array(1.0, 2.0))) // dim mismatch
    ).toDF("a", "b")
    val got = df.select(ArrayMath.dotProduct(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 11.0)
    assert(got(1).isNullAt(0))
    assert(got(2).getDouble(0) == 0.0)
    assert(got(3).isNullAt(0), "length mismatch must be null, not a truncated dot")
  }

  test("dot_product is callable from spark.sql after registration") {
    Registry.registerAll(spark)
    val r = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
  }

  test("dot_product stays inside whole-stage codegen (no fallback)") {
    // a local relation would be constant-folded away — use the parquet
    // source so a real scan+project plan is generated
    val emb = graft.Tables.embeddings(spark, sf001)
      .select(transform(col("embedding"), x => x.cast("double")).as("a"))
    val df = emb.select(ArrayMath.dotProduct(col("a"), col("a")).as("d"))
    val cg = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"), cg)
    // the generated code contains our fused loop (getDouble access)
    assert(cg.contains("getDouble"), cg)
  }
}

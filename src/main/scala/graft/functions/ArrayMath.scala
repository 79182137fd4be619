package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for embedding math.
  *
  * The `functions._` formulation of a dot product —
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` — evaluates through
  * HigherOrderFunction lambda machinery and materializes the zipped
  * intermediate array per row. For 100 TB similarity scans the dot
  * product IS the hot loop, so it gets a first-class expression with
  * `doGenCode`: one fused loop over the two ArrayData buffers, no
  * allocation, inlined into whole-stage codegen (preference (b) of
  * SURVEY.md §7.3 — a native `Expression` beats a UDF).
  *
  * Null semantics: null result if either array is null OR the lengths
  * differ (matching the `zip_with` chain, which pads the shorter array
  * with nulls and propagates them through the sum — a silent truncation
  * here would turn an upstream dimension bug into plausible-looking
  * similarity scores); null elements are skipped (the engine's
  * normalized embeddings never contain null elements).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null inputs OR length mismatch
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) && !ys.isNullAt(i)) {
        acc += xs.getDouble(i) * ys.getDouble(i)
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |      $acc += $a.getDouble($i) * $b.getDouble($i);
         |    }
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object ArrayMath {

  /** Column surface for [[DotProduct]]. Registers against the active
    * session on first use (resolution happens at analysis time through
    * the session's function registry). */
  def dotProduct(a: Column, b: Column): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("dot_product", a, b)
  }
}

package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Mergeable quantile sketches (Datasketches KLL, Karnin-Lang-Liberty
  * FOCS'16) — the quantile member of the repo's mergeable-sketch tier
  * next to the HLL distinct and Theta overlap sketches
  * ([[graft.queries.ExtraQueries.qSketchDistinct]]).
  *
  * Why this exists when `approx_percentile` already ships: Spark's GK
  * aggregate answers ONE query over ONE scan. The KLL sketch is a
  * persistable, mergeable STATE: at 100 TB you sketch each ingest
  * partition once (a few KB each), persist the blobs, and answer
  * later quantile queries — over any UNION of partitions, days, or
  * sources — by merging blobs, never re-scanning rows. Merge is
  * associative and commutative, so partial aggregation (map-side
  * combine) applies, and the same blob column round-trips through
  * parquet (`SketchSpec` proves persist → reload → merge ≡ fresh).
  *
  * Error model: KLL guarantees normalized RANK error ε(k) with 99%
  * confidence (ε(200) ≈ 1.65%); values returned are always members of
  * the input multiset. Compaction uses a random offset, so two runs
  * may return different (equally valid) members near a rank boundary —
  * the registered query is therefore rows-only for the driver, with
  * the rank-error bound asserted in `SketchSpec` instead.
  *
  * Aggregates are [[TypedImperativeAggregate]] (ObjectHashAggregate,
  * map-side partials); the scalar probes are [[CodegenFallback]] —
  * they run on a handful of POST-aggregation rows (one per group),
  * never in the per-row hot path.
  */
object KllSketch {

  /** Default sketch accuracy parameter (≈1.65% rank error @99%). */
  val DefaultK = 200

  private[functions] def heapify(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  /** Fold a DOUBLE column into a KLL sketch blob (one per group). */
  def kllSketchAgg(value: Column, k: Int = DefaultK): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("kll_sketch_agg", value, org.apache.spark.sql.functions.lit(k))
  }

  /** Merge a column of sketch blobs into one blob — no data rescan. */
  def kllMergeAgg(sketch: Column): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("kll_merge_agg", sketch)
  }

  /** Estimated quantile at `rank` ∈ [0,1] from a sketch blob (NULL for
    * an empty sketch). */
  def kllQuantile(sketch: Column, rank: Double): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("kll_quantile", sketch, org.apache.spark.sql.functions.lit(rank))
  }

  /** Number of values the sketch has absorbed (exact). */
  def kllN(sketch: Column): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("kll_n", sketch)
  }
}

/** `kll_sketch_agg(value, k)` → binary KLL blob. Null values don't
  * rank (same discipline as every Spark agg). */
case class KllSketchAgg(
    valueExpr: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch] with BinaryLike[Expression] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"kll_sketch_agg: k must be an integer literal, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!kExpr.foldable || (kExpr.dataType != IntegerType && kExpr.dataType != LongType))
      TypeCheckResult.TypeCheckFailure("kll_sketch_agg: k must be an integer literal")
    else if (valueExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"kll_sketch_agg: value must be DOUBLE, got ${valueExpr.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_sketch_agg"

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = valueExpr.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other); buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllSketch.heapify(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override def left: Expression = valueExpr
  override def right: Expression = kExpr
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllSketchAgg =
    copy(valueExpr = newLeft, kExpr = newRight)
}

/** `kll_merge_agg(blob)` → binary KLL blob: folds already-built sketch
  * blobs (e.g. reloaded from parquet) without touching source rows.
  * The empty buffer is built at [[KllSketch.DefaultK]]; KLL merge
  * adopts the smallest k among the inputs, so blobs built at a caller-
  * chosen k keep their own accuracy. */
case class KllMergeAgg(
    sketchExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketchExpr.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"kll_merge_agg: input must be BINARY, got ${sketchExpr.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_merge_agg"

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(KllSketch.DefaultK)

  override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
    val v = sketchExpr.eval(input)
    if (v != null) buf.merge(KllSketch.heapify(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
    buf.merge(other); buf
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllSketch.heapify(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = newOffset)

  override def child: Expression = sketchExpr
  override protected def withNewChildInternal(newChild: Expression): KllMergeAgg =
    copy(sketchExpr = newChild)
}

/** `kll_quantile(blob, rank)` — estimated quantile (INCLUSIVE search
  * criteria, the Datasketches default); NULL on an empty sketch. */
case class KllQuantile(sketchExpr: Expression, rankExpr: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketchExpr.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure("kll_quantile: sketch must be BINARY")
    else if (rankExpr.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("kll_quantile: rank must be DOUBLE")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "kll_quantile"

  override protected def nullSafeEval(sketch: Any, rank: Any): Any = {
    val sk = KllSketch.heapify(sketch.asInstanceOf[Array[Byte]])
    if (sk.isEmpty) null
    else sk.getQuantile(rank.asInstanceOf[Double], QuantileSearchCriteria.INCLUSIVE)
  }

  override def left: Expression = sketchExpr
  override def right: Expression = rankExpr
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantile =
    copy(sketchExpr = newLeft, rankExpr = newRight)
}

/** `kll_n(blob)` — exact count of absorbed values. */
case class KllN(sketchExpr: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketchExpr.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure("kll_n: sketch must be BINARY")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_n"

  override protected def nullSafeEval(sketch: Any): Any =
    KllSketch.heapify(sketch.asInstanceOf[Array[Byte]]).getN

  override def child: Expression = sketchExpr
  override protected def withNewChildInternal(newChild: Expression): KllN =
    copy(sketchExpr = newChild)
}

package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable point-frequency sketches (count-min, Cormode–Muthukrishnan
  * J.Alg'05) — the frequency member of the mergeable-sketch tier next
  * to HLL (distinct), Theta (overlap), and KLL (quantiles).
  *
  * Why this exists when `approx_top_k` already ships: the frequent-
  * items sketch answers "what are the heavy hitters"; count-min
  * answers the dual — "how often does THIS item occur" for any item
  * chosen AFTER the scan, from a few KB of persistable state. At
  * 100 TB you sketch each ingest partition once, persist the blobs,
  * and answer later point-frequency queries over any union of
  * partitions by merging blobs, never re-scanning rows. Merge is
  * exact (counter arrays add), associative, and commutative, so
  * map-side partial aggregation applies and — unlike KLL's randomized
  * compaction — a merged sketch is BYTE-IDENTICAL to the monolithic
  * sketch of the union (q_sketch_freq_bounds gates this).
  *
  * Error model: est(x) ≥ true(x) always (counters only overcount);
  * est(x) ≤ true(x) + ε·N with confidence 1−δ. Estimates are fully
  * deterministic for a FIXED seed: hashing is seeded and the state is
  * integer counters, so results are independent of row order and
  * partitioning — the bounds row's booleans are bit-stable.
  *
  * Aggregates are [[TypedImperativeAggregate]] (ObjectHashAggregate,
  * map-side partials); scalar probes are [[CodegenFallback]], run on
  * post-aggregation rows only. Items are added with an explicit
  * WEIGHT so a pre-aggregated (term, count) frame folds in one row
  * per distinct item — counts add, so weighted adds over the tf frame
  * equal per-row adds over the corpus. */
object CmsSketch {

  /** ε = 0.001 → width 2000 counters; δ = 0.01 → depth 7 rows. */
  val DefaultEps = 0.001
  val DefaultConfidence = 0.99

  /** Fixed hash seed: estimates must be reproducible across runs (the
    * same doctrine as the portable sampling hash). */
  val Seed = 42

  private[functions] def fromBytes(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))

  private[functions] def toBytes(cms: CountMinSketch): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    cms.writeTo(bos)
    bos.toByteArray
  }

  /** Fold a STRING item column (weighted) into a CMS blob per group. */
  def cmsSketchAgg(item: Column, weight: Column,
      eps: Double = DefaultEps, confidence: Double = DefaultConfidence,
      seed: Int = Seed): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("cms_sketch_agg", item, weight, lit(eps), lit(confidence),
      lit(seed))
  }

  /** Merge a column of CMS blobs (exact counter addition — requires
    * identical (ε, δ, seed); no data rescan). */
  def cmsMergeAgg(sketch: Column): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("cms_merge_agg", sketch)
  }

  /** Point-frequency estimate for an item (≥ true count always). */
  def cmsEstimate(sketch: Column, item: Column): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("cms_estimate", sketch, item)
  }

  /** Total weight the sketch absorbed (exact). */
  def cmsTotal(sketch: Column): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("cms_total", sketch)
  }
}

/** `cms_sketch_agg(item, weight, eps, confidence, seed)` → binary CMS
  * blob. NULL items don't count; weight ≤ 0 is rejected by the sketch. */
case class CmsSketchAgg(
    itemExpr: Expression,
    weightExpr: Expression,
    epsExpr: Expression,
    confExpr: Expression,
    seedExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMinSketch] {

  private def litDouble(e: Expression): Double = e.eval(InternalRow.empty) match {
    case d: Double => d
    case other => throw new IllegalArgumentException(
      s"cms_sketch_agg: expected a double literal, got $other")
  }
  private lazy val eps: Double = litDouble(epsExpr)
  private lazy val conf: Double = litDouble(confExpr)
  private lazy val seed: Int = seedExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"cms_sketch_agg: seed must be an integer literal, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (itemExpr.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"cms_sketch_agg: item must be STRING, got ${itemExpr.dataType.simpleString}")
    else if (weightExpr.dataType != LongType && weightExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("cms_sketch_agg: weight must be integral")
    else if (!epsExpr.foldable || !confExpr.foldable || !seedExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        "cms_sketch_agg: eps/confidence/seed must be literals")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch_agg"

  override def createAggregationBuffer(): CountMinSketch =
    CountMinSketch.create(eps, conf, seed)

  override def update(buf: CountMinSketch, input: InternalRow): CountMinSketch = {
    val item = itemExpr.eval(input)
    if (item != null) {
      val w = weightExpr.eval(input) match {
        case l: Long => l
        case i: Int => i.toLong
        case null => 0L
      }
      if (w > 0) buf.addString(item.toString, w)
    }
    buf
  }

  override def merge(buf: CountMinSketch, other: CountMinSketch): CountMinSketch = {
    buf.mergeInPlace(other); buf
  }

  override def eval(buf: CountMinSketch): Any = CmsSketch.toBytes(buf)

  override def serialize(buf: CountMinSketch): Array[Byte] = CmsSketch.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): CountMinSketch =
    CmsSketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override def children: Seq[Expression] =
    Seq(itemExpr, weightExpr, epsExpr, confExpr, seedExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketchAgg =
    copy(itemExpr = newChildren(0), weightExpr = newChildren(1),
      epsExpr = newChildren(2), confExpr = newChildren(3),
      seedExpr = newChildren(4))
}

/** Mutable shell for [[CmsMergeAgg]]: the sketch geometry (ε, δ, seed)
  * lives in the BLOBS, so an empty merge buffer cannot pre-build a
  * compatible sketch — it adopts the first blob it sees. */
final class CmsMergeBuffer(var cms: CountMinSketch)

/** `cms_merge_agg(blob)` → binary CMS blob: folds already-built blobs
  * (e.g. reloaded from parquet) by exact counter addition. All inputs
  * must share (ε, δ, seed); NULL when no blobs arrived. */
case class CmsMergeAgg(
    sketchExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmsMergeBuffer] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketchExpr.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"cms_merge_agg: input must be BINARY, got ${sketchExpr.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "cms_merge_agg"

  override def createAggregationBuffer(): CmsMergeBuffer = new CmsMergeBuffer(null)

  override def update(buf: CmsMergeBuffer, input: InternalRow): CmsMergeBuffer = {
    val v = sketchExpr.eval(input)
    if (v != null) {
      val sk = CmsSketch.fromBytes(v.asInstanceOf[Array[Byte]])
      if (buf.cms == null) buf.cms = sk else buf.cms.mergeInPlace(sk)
    }
    buf
  }

  override def merge(buf: CmsMergeBuffer, other: CmsMergeBuffer): CmsMergeBuffer = {
    if (buf.cms == null) buf.cms = other.cms
    else if (other.cms != null) buf.cms.mergeInPlace(other.cms)
    buf
  }

  override def eval(buf: CmsMergeBuffer): Any =
    if (buf.cms == null) null else CmsSketch.toBytes(buf.cms)

  override def serialize(buf: CmsMergeBuffer): Array[Byte] =
    if (buf.cms == null) Array.emptyByteArray else CmsSketch.toBytes(buf.cms)
  override def deserialize(bytes: Array[Byte]): CmsMergeBuffer =
    if (bytes.isEmpty) new CmsMergeBuffer(null)
    else new CmsMergeBuffer(CmsSketch.fromBytes(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = newOffset)

  override def child: Expression = sketchExpr
  override protected def withNewChildInternal(newChild: Expression): CmsMergeAgg =
    copy(sketchExpr = newChild)
}

/** `cms_estimate(blob, item)` — point-frequency estimate (NULL-safe). */
case class CmsEstimate(sketchExpr: Expression, itemExpr: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketchExpr.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure("cms_estimate: sketch must be BINARY")
    else if (itemExpr.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("cms_estimate: item must be STRING")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cms_estimate"

  override protected def nullSafeEval(sketch: Any, item: Any): Any =
    CmsSketch.fromBytes(sketch.asInstanceOf[Array[Byte]])
      .estimateCount(item.toString)

  override def left: Expression = sketchExpr
  override def right: Expression = itemExpr
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(sketchExpr = newLeft, itemExpr = newRight)
}

/** `cms_total(blob)` — exact total absorbed weight. */
case class CmsTotal(sketchExpr: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (sketchExpr.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure("cms_total: sketch must be BINARY")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def nullable: Boolean = sketchExpr.nullable
  override def prettyName: String = "cms_total"

  override protected def nullSafeEval(sketch: Any): Any =
    CmsSketch.fromBytes(sketch.asInstanceOf[Array[Byte]]).totalCount()

  override def child: Expression = sketchExpr
  override protected def withNewChildInternal(newChild: Expression): CmsTotal =
    copy(sketchExpr = newChild)
}

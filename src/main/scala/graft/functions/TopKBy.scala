package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Bounded-heap buffer for [[TopKByAggregate]]: keeps the k best
  * (score, id) pairs seen so far. Ordering: higher score wins; equal
  * scores prefer the SMALLER id — a total order, so the aggregate is
  * deterministic regardless of partitioning/merge order (the property
  * that lets the driver hash-compare it against a SQL window oracle).
  *
  * `heap(0)` is the WORST retained pair (min-heap on the same order),
  * so a full buffer admits a candidate with one O(log k) sift instead
  * of a sort. */
final class TopKBuffer(val k: Int) {
  // parallel arrays, heap-ordered (min at 0); size <= k
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  // true when (s1, i1) orders BELOW (s2, i2): lower score, or same
  // score with larger id. Double.compare (not < / ==) makes the order
  // TOTAL over NaN — NaN ranks above every number, exactly how Spark
  // and DuckDB sort doubles DESC, so results stay deterministic and
  // oracle-comparable when a score is NaN ([[offer]] normalizes -0.0
  // to 0.0 so the compare's -0.0 < 0.0 distinction never bites)
  @inline private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && i1 > i2)
  }

  def offer(s0: Double, id: Long): Unit = {
    val s = s0 + 0.0 // -0.0 -> 0.0: SQL sorts them equal, Double.compare does not
    if (size < k) {
      var i = size
      scores(i) = s; ids(i) = id; size += 1
      while (i > 0 && worse(scores(i), ids(i), scores((i - 1) / 2), ids((i - 1) / 2))) {
        val p = (i - 1) / 2
        swap(i, p); i = p
      }
    } else if (k > 0 && worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      siftDown()
    }
  }

  @inline private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); scores(a) = scores(b); scores(b) = ts
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < size && worse(scores(l), ids(l), scores(m), ids(m))) m = l
      if (r < size && worse(scores(r), ids(r), scores(m), ids(m))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  /** Pairs best-first (score desc, id asc on ties) — `a` precedes `b`
    * iff `b` is strictly worse, the same total order the heap uses
    * (consistent even for duplicate or NaN entries). */
  def sortedDesc: Array[(Double, Long)] = {
    val out = (0 until size).map(i => (scores(i), ids(i))).toArray
    out.sortWith((a, b) => worse(b._1, b._2, a._1, a._2))
  }
}

/** `top_k_by(score, id, k)` — the k best (score, id) pairs per group,
  * as `array<struct<score:double, id:bigint>>`, best first.
  *
  * Why a native aggregate and not `row_number() OVER (...) <= k`: the
  * window form shuffles EVERY row into a per-group sort and then
  * discards all but k — at 100 TB that's the whole table through the
  * wire. As a [[TypedImperativeAggregate]] this gets map-side partial
  * aggregation (ObjectHashAggregate): each input partition reduces a
  * group to ≤ k pairs locally, only those heaps shuffle, and merge is
  * O(k log k). Payload is an id, not the row — callers semi-join the
  * winners back, so wide rows never ride the shuffle either.
  *
  * Determinism: score ties broken by smaller id (see [[TopKBuffer]]),
  * making the result independent of partitioning — hash-comparable
  * against a `row_number` SQL oracle with the same tie-break. */
case class TopKByAggregate(
    scoreExpr: Expression,
    payloadExpr: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with TernaryLike[Expression] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"top_k_by: k must be an integer literal, got $other")
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!kExpr.foldable) {
      TypeCheckResult.TypeCheckFailure("top_k_by: k must be foldable (a literal)")
    } else if (scoreExpr.dataType != DoubleType) {
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by: score must be DOUBLE, got ${scoreExpr.dataType.simpleString}")
    } else if (payloadExpr.dataType != LongType) {
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by: id must be BIGINT, got ${payloadExpr.dataType.simpleString}")
    } else if (kExpr.dataType != IntegerType && kExpr.dataType != LongType) {
      // caught here as a clean analysis error, not a task-time failure
      // inside the lazy k extraction
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by: k must be an integer literal, got ${kExpr.dataType.simpleString}")
    } else if (kExpr.eval(InternalRow.empty) == null) {
      TypeCheckResult.TypeCheckFailure("top_k_by: k must not be null")
    } else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_by"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(math.max(k, 0))

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreExpr.eval(input)
    val p = payloadExpr.eval(input)
    // null score or null id: the row doesn't rank (max_by discipline)
    if (s != null && p != null) {
      buf.offer(s.asInstanceOf[Double], p.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { buf.offer(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val pairs = buf.sortedDesc
    new GenericArrayData(pairs.map { case (s, id) =>
      InternalRow(s, id)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buf.size)
    bb.putInt(buf.k).putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)).putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { buf.offer(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByAggregate =
    copy(inputAggBufferOffset = newOffset)

  override def first: Expression = scoreExpr
  override def second: Expression = payloadExpr
  override def third: Expression = kExpr
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): TopKByAggregate =
    copy(scoreExpr = newFirst, payloadExpr = newSecond, kExpr = newThird)
}

object TopKBy {

  /** Column surface: `topKBy(score, id, k)` inside an `agg(...)`. */
  def topKBy(score: Column, id: Column, k: Int): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("top_k_by", score, id, org.apache.spark.sql.functions.lit(k))
  }
}

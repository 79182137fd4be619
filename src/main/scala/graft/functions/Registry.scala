package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The one table of graft's session functions (name → expression
  * builder) plus the [[graft.plans.FuseDotProduct]] optimizer rule.
  * Two paths install the same table:
  *
  *   - [[graft.plans.GraftExtensions]] injects it when a session is
  *     built with `spark.sql.extensions` (spark-submit / Thrift-server
  *     deployments, where the session exists before user code runs);
  *   - [[registerAll]] installs it into an existing session (notebooks,
  *     the test harness, any session built without the extensions).
  *
  * Why [[graft.Tables.load]] calls [[registerAll]]: the Column helpers
  * register on `SparkSession.getActiveSession`, which is the session of
  * the THREAD, not necessarily the session the returned Column will be
  * ANALYZED in. In a multi-session app (e.g. `spark.newSession()` for an
  * isolated conf, exactly what DeterminismSpec does) a query built
  * against session B from a thread whose active session is A would
  * fail analysis with UNRESOLVED_ROUTINE; the table loaders register on
  * the session every query explicitly receives.
  */
object Registry {

  /** (SQL name, expression class, builder) for every graft function. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_product", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("graft_bloom_agg", classOf[BloomFilterAggregate],
      e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    ("graft_might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))),
    ("kll_sketch_agg", classOf[KllSketchAgg],
      e => KllSketchAgg(e(0), e(1)).toAggregateExpression()),
    ("kll_merge_agg", classOf[KllMergeAgg],
      e => KllMergeAgg(e(0)).toAggregateExpression()),
    ("kll_quantile", classOf[KllQuantile], e => KllQuantile(e(0), e(1))),
    ("kll_n", classOf[KllN], e => KllN(e(0))),
    ("cms_sketch_agg", classOf[CmsSketchAgg],
      e => CmsSketchAgg(e(0), e(1), e(2), e(3), e(4)).toAggregateExpression()),
    ("cms_merge_agg", classOf[CmsMergeAgg],
      e => CmsMergeAgg(e(0)).toAggregateExpression()),
    ("cms_estimate", classOf[CmsEstimate], e => CmsEstimate(e(0), e(1))),
    ("cms_total", classOf[CmsTotal], e => CmsTotal(e(0))),
    ("top_k_by", classOf[TopKByAggregate],
      e => TopKByAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    ("jaro_winkler", classOf[JaroWinkler], e => JaroWinkler(e(0), e(1))))

  // Sessions graft has already registered on (weak keys — entries die
  // with their session). Tracking OUR registrations, not
  // `functionExists`, means a pre-existing user function of the same
  // name is replaced by graft's on first use (createOrReplace
  // semantics).
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** Install every function (and the fusion rule, via
    * `experimental.extraOptimizations`) into `spark`. Once per session;
    * after that, the cheap `functionExists` probe re-registers any name
    * a user's `DROP TEMPORARY FUNCTION` removed — the session guard
    * alone would leave both the SQL name and graft's own Column surface
    * permanently broken in that session. */
  def registerAll(spark: SparkSession): Unit = {
    val firstUse = registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      if (firstUse || !reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.FuseDotProduct)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.FuseDotProduct
    }
  }
}

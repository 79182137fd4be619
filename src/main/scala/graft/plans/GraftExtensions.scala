package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.Registry

/** Cluster-config entry point for graft's Catalyst surface:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` gives
  * every session on the cluster
  *
  *   - every graft SQL function in [[Registry.functions]] (`dot_product`,
  *     the bloom / KLL / CMS sketch families, `top_k_by`,
  *     `jaro_winkler`), and
  *   - the [[FuseDotProduct]] optimizer rule, which rewrites the
  *     lambda spelling of a dot product into the native kernel,
  *
  * without any application code calling [[Registry.registerAll]] (which
  * installs the same table programmatically — that path serves
  * notebooks and the test harness, this one serves spark-submit /
  * Thrift-server deployments where the session is built before user
  * code runs).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    Registry.functions.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    ext.injectOptimizerRule(_ => FuseDotProduct)
  }
}

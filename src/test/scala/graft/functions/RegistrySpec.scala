package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The single function table's install path ([[Registry.registerAll]]):
  * a user's `DROP TEMPORARY FUNCTION` must not leave a graft function
  * broken for the rest of the session. */
class RegistrySpec extends SparkSpec {

  test("registerAll re-installs a function after DROP TEMPORARY FUNCTION") {
    import spark.implicits._
    Registry.registerAll(spark)
    spark.sql("DROP TEMPORARY FUNCTION jaro_winkler")
    assert(!spark.catalog.functionExists("jaro_winkler"))
    // the Column surface re-registers on its own (active session)...
    val viaColumn = Seq(("DWAYNE", "DUANE")).toDF("a", "b")
      .select(StringSimilarity.jaroWinkler(col("a"), col("b"))).head().getDouble(0)
    assert(viaColumn > 0.8)
    // ...and so does the explicit install, name by name
    spark.sql("DROP TEMPORARY FUNCTION top_k_by")
    Registry.registerAll(spark)
    Registry.functions.foreach { case (name, _, _) =>
      assert(spark.catalog.functionExists(name), s"$name missing after re-install")
    }
    assert(spark.sql("SELECT jaro_winkler('DWAYNE', 'DUANE')").head().getDouble(0) == viaColumn)
  }
}

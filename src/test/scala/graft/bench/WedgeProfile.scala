package graft.bench

import org.apache.spark.sql.functions._

/** Dev probe: wedge volume under lexicographic canonicalization vs
  * degree orientation on a hub-heavy graph — the number behind the
  * triangle census's orientation claim (COVERAGE.md §graph).
  *
  * Graph: one hub adjacent to all m spokes, plus a ring over the spokes
  * (so triangles exist). The middle-vertex wedge join enumerates
  * Σ_v in(v)·out(v); under lexicographic (a < b) orientation a hub whose
  * name sorts mid-way through its neighborhood has in ≈ out ≈ m/2 —
  * Θ(m²/4) wedges at the hub alone. Degree orientation points every hub
  * edge AT the hub (spoke deg 3 < hub deg m), so the hub's out-degree is
  * 0 and its wedge contribution collapses to the ring's O(m).
  *
  *   scripts/run.sh graft.bench.WedgeProfile [m]
  */
object WedgeProfile {
  def main(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(2000)
    val spark = graft.Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // hub name sorts mid-way through the spoke names — the
    // lexicographic worst case (half the hub edges in-edges, half out)
    val spokes = (0 until m).map(i => f"spoke_$i%06d")
    val hub = f"spoke_${m / 2}%06d_hub"
    val hubEdges = spokes.map(s => (hub, s))
    val ringEdges = (0 until m).map(i => (spokes(i), spokes((i + 1) % m)))
    val raw = (hubEdges ++ ringEdges).toDF("x", "y")
    val edges = raw
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .filter(col("a") =!= col("b")).distinct().cache()

    def wedgeCount(oriented: org.apache.spark.sql.DataFrame): Long =
      oriented.alias("e1")
        .join(oriented.alias("e2"), col("e1.w") === col("e2.u"))
        .count()

    // lexicographic: orient a→b as stored (a < b by name)
    val lex = edges.select(col("a").as("u"), col("b").as("w"))
    val degrees = graft.queries.AnalyticsQueries.triangleDegrees(edges)
    val deg = graft.queries.AnalyticsQueries.orientByDegree(edges, degrees)

    val (wl, wd) = (wedgeCount(lex), wedgeCount(deg))
    val tri = graft.queries.AnalyticsQueries.closedWedges(deg).count()
    println(s"[wedge] m=$m edges=${edges.count()} " +
      s"wedges_lexicographic=$wl wedges_degree_oriented=$wd " +
      s"ratio=${wl.toDouble / wd} triangles=$tri")
    spark.stop()
  }
}

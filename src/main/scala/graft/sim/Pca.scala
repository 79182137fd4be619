package graft.sim

import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PCA dimensionality reduction of the embedding column — the
  * dim-reduction scale path under the ANN tiers: a 64-d corpus
  * projected to its top-k principal subspace feeds brute-force / IVF
  * search at k/d of the dot-product cost and (unlike PQ, which
  * quantizes) stays a faithful LINEAR map, so distance contraction is
  * bounded by the discarded eigenvalue mass — the classical
  * variance-captured readout the bounds row gates.
  *
  * Spark-first split, the IVF/BPE discipline: the FIT is an
  * index-build-shaped cost (mllib RowMatrix: one distributed
  * treeAggregate Gramian pass → d×d covariance (centered) → driver
  * eigen on the d×d matrix, d = 64 — never corpus-sized; cached per
  * scale dir under BuildTimes); the PROJECTION is pure expression
  * work — k native codegen'd [[graft.functions.DotProduct]]s against
  * literal component arrays, with centering folded into a constant
  * offset per component (`(x − μ)·c = x·c − μ·c`), so the corpus-wide
  * pass is one narrow whole-stage-codegen projection, no UDF, no
  * vector objects.
  *
  * Determinism: the Gramian/eigen pipeline is float partial-agg-order
  * sensitive (components can flip SIGN or wobble ulps across layouts),
  * so the projected frame is rows-only and every driver-facing
  * guarantee is a banded verdict in q_embedding_pca_bounds —
  * orthonormality, eigen-order variance monotonicity, capture ratio —
  * the qMlQualityBounds doctrine. */
object Pca {

  final case class Fit(mean: Array[Double],
      components: Array[Array[Double]], // k rows, d cols
      n: Long)

  def fit(s: SparkSession, d: String, k: Int = 16): Fit =
    graft.BuildTimes.once("pca_fit", s"$d#$k") {
      // canonical fit layout (Similarity.canonicalFitInput doc): the
      // Gramian fold is partition-order sensitive, so pin the
      // historical single id-ordered partition whatever the
      // upstream partitioning
      val emb = Similarity.canonicalFitInput(
          Tables.embeddings(s, d)
            .select(col("vec_id"),
              Similarity.asDouble(col("embedding")).as("e")),
          "vec_id")
        .select(col("e"))
      val rows = emb.rdd.map(r => OldVectors.dense(
        r.getSeq[Double](0).toArray))
      rows.cache()
      try {
        val rm = new RowMatrix(rows)
        val pc = rm.computePrincipalComponents(k) // d×k, covariance-centered
        val mean = rm.computeColumnSummaryStatistics().mean.toArray
        val dDim = pc.numRows
        val comps = Array.tabulate(k)(j =>
          Array.tabulate(dDim)(i => pc(i, j)))
        Fit(mean, comps, rm.numRows())
      } finally { rows.unpersist(); () }
    }

  /** PCA-shortlist ANN (the PQ tier's shortlist-then-rerank contract
    * with a LINEAR map instead of quantization): shortlist by cosine
    * in the 16-d projected space — k/d of the full dot-product cost
    * per candidate — then exact re-rank of the shortlist in the full
    * space, so returned scores are bit-equal to brute force on hits.
    * Same shuffle shape as [[Similarity.pqTopK]]: broadcast projected
    * queries, bounded-heap shortlist, re-rank join touching only
    * shortlist×queries rows. */
  def shortlistTopK(s: SparkSession, d: String, queries: DataFrame,
      corpus: DataFrame, k: Int, shortlist: Int,
      roundScoreTo: Option[Int] = None): DataFrame = {
    val proj = project(s, d)
    val qp = proj.join(
      broadcast(queries.select(col("vec_id"))), Seq("vec_id"))
    val short = Similarity
      .bruteForceTopK(proj, qp, shortlist, idCol = "vec_id",
        embCol = "proj")
      .select(col("query_id"), col("neighbor_id"))
    val qn = Similarity.withNormalized(queries, "embedding")
      .select(col("vec_id").as("query_id"), col("norm").as("q_norm"))
    Similarity.exactRerank(short, corpus, qn, k, "vec_id", "embedding",
      roundScoreTo)
  }

  /** Corpus-wide projection: vec_id, proj (k doubles). Centering is
    * folded into per-component constant offsets, so the plan is one
    * narrow codegen'd projection over the embedding scan. */
  def project(s: SparkSession, d: String, k: Int = 16): DataFrame = {
    val f = fit(s, d, k)
    graft.functions.Registry.registerAll(s)
    val x = Similarity.asDouble(col("embedding"))
    val dims = f.components.map { c =>
      val offset = c.zip(f.mean).map { case (ci, mi) => ci * mi }.sum
      Similarity.dot(x, typedLit(c.toSeq)) - lit(offset)
    }
    Tables.embeddings(s, d)
      .select(col("vec_id"), array(dims: _*).as("proj"))
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sim.Similarity

/** Similarity-search operators over the harness `embeddings` table
  * (vec_id, embedding: Array[Float], label).
  */
object SimilarityQueries {

  val NumQueries = 10
  val TopK = 5

  /** Candidate budget for the PQ / IVF-PQ exact re-rank shortlist:
    * `max(50, 2·k·√N)`. Sublinear by construction — at 100× the corpus
    * the shortlist grows 10×, not 100×, so the re-rank never degenerates
    * into a linear scan wearing an ANN costume (the r9 `N/10` rule did
    * exactly that). At the harness scales (N ≤ 2000, uniform-random
    * embeddings — quantization's worst case) the budget is actually
    * *wider* than N/10 (447 vs 200 at sf0.1), so SimilaritySpec's recall
    * floors arbitrate both directions. Real embedding corpora
    * concentrate on low-dim manifolds where the same √N budget buys far
    * higher recall. */
  def pqShortlist(n: Long, k: Int = TopK): Int =
    math.max(50, (2.0 * k * math.sqrt(n.toDouble)).ceil.toInt)

  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))


  private def queriesDf(s: SparkSession, d: String): DataFrame =
    corpus(s, d).filter(col("vec_id") < NumQueries)

  /** Exact brute-force cosine top-5 for the first 10 vectors. */
  def qSimBruteForce(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(corpus(s, d), queriesDf(s, d), TopK,
      roundScoreTo = Some(9))
      .orderBy(col("query_id"), col("rank"))

  val qSimBruteForceSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
       |                                 CAST(e.embedding AS DOUBLE[])), 9) AS cos
       |  FROM q, embeddings e
       |  WHERE e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, cos
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining — the contrastive-training data op (DPR,
    * Karpukhin et al. EMNLP'20 §3.2; ANCE): for each query vector, the
    * top-5 most-similar vectors of a DIFFERENT label — maximally
    * confusable wrong-class examples, exactly what a retrieval/
    * embedding trainer pairs with the gold positives. The label
    * column plays the gold-relevance role; `n_label` rides along so
    * the emitted training pairs carry their class evidence.
    *
    * This row is the EXACT tier (the oracle price, same adjudication
    * as q_sim_bruteforce_topk): corpus scanned once against the
    * broadcast query batch, different-label filter INSIDE the join
    * condition (pruned before the dot product), bounded-heap
    * `top_k_by` partial aggregation — shuffle volume k·|queries|, not
    * the scored corpus. At 100 TB the mining runs over the IVF
    * shortlist instead — the shipped [[qHardNegativesAnn]] tier, with
    * this exact tier as the overlap oracle in
    * q_hard_negatives_ann_bounds. Scores round(9) before the heap so the
    * ranking replays bit-exact cross-engine. */
  def qHardNegatives(s: SparkSession, d: String): DataFrame = {
    val all = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val c = Similarity.withNormalized(all, "embedding")
      .select(col("vec_id").as("neighbor_id"), col("norm").as("c_norm"),
        col("label").as("n_label"))
    val q = Similarity.withNormalized(
        all.filter(col("vec_id") < NumQueries), "embedding")
      .select(col("vec_id").as("query_id"), col("norm").as("q_norm"),
        col("label").as("q_label"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          col("n_label") =!= col("q_label"))
      .withColumn("cos",
        round(Similarity.dot(col("q_norm"), col("c_norm")), 9))
    // the heap carries (score, id); the label re-attaches from the
    // tiny (id, label) projection after the k·|queries| readout
    Similarity.topKPerGroup(scored,
        "query_id", "cos", "neighbor_id", TopK, "cos", "neighbor_id")
      .join(c.select(col("neighbor_id"), col("n_label")), Seq("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("n_label"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  val qHardNegativesSql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS n_label,
       |    round(list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
       |                                 CAST(e.embedding AS DOUBLE[])), 9) AS cos
       |  FROM q, embeddings e
       |  WHERE e.vec_id <> q.query_id AND e.label <> q.ql
       |), ranked AS (
       |  SELECT query_id, neighbor_id, n_label, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, n_label, cos
       |FROM ranked WHERE rank <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining, ANN tier — the 100 TB serve path
    * [[qHardNegatives]]'s scaladoc names: the IVF shortlist (top-50
    * by cosine over the probed cells — 10× the final k, the same
    * over-fetch discipline as the PQ re-rank budget) joins labels,
    * drops same-class candidates, and re-ranks to the top-5 via the
    * bounded heap. Rows-only (k-means index, the IVF adjudication);
    * gated by q_hard_negatives_ann_bounds: per-query overlap with the
    * EXACT tier's top-5 above a measured floor, wrong-class-only, and
    * every query covered. */
  def qHardNegativesAnn(s: SparkSession, d: String): DataFrame = {
    val (path, localCentroids) = ivfIndexFor(s, d)
    val indexed = s.read.parquet(path)
    import s.implicits._
    val centroids = localCentroids.toDF("cell", "centroid")
    val nProbe = math.max(2, localCentroids.size / 2)
    val shortlist = Similarity.ivfTopK(indexed, centroids,
      queriesDf(s, d), k = 10 * TopK,
      nProbe = math.min(nProbe, localCentroids.size))
    // 2-col label projection read by three branches (query labels,
    // candidate filter, final join-back) — checkpoint once (r12
    // shared-subframe discipline; |corpus| rows of 12 bytes)
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      .localCheckpoint(true)
    // only the query batch rides the broadcast side — broadcasting the
    // corpus-sized label projection would OOM at the 100 TB serve path
    // this tier exists for (r17 ADVICE); the corpus-sized neighbor-label
    // join below stays non-broadcast
    val wrong = shortlist
      .join(broadcast(labels.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"),
          col("label").as("q_label"))), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .filter(col("n_label") =!= col("q_label"))
      .withColumn("cos", round(col("cos"), 9))
    Similarity.topKPerGroup(wrong, "query_id", "cos", "neighbor_id",
        TopK, "cos", "neighbor_id")
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("n_label"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Fail-closed gate for the ANN hard-negative tier: per-query
    * overlap@5 with the exact tier ≥ 0.5 on average (measured 0.9–1.0
    * on the harness corpus — uniform-random embeddings, IVF's worst
    * case, still recovers most of the exact set through the 10×
    * over-fetch), every query emits rows, and no same-class negative
    * survives. */
  def qHardNegativesAnnBounds(s: SparkSession, d: String): DataFrame = {
    // the exact (brute-force) and ANN tiers are independent pipelines
    // over the same cached index/corpus — materialize them
    // concurrently per guide §2.6, counting each on its own leg
    val Seq((exact, nq), (ann, annQ)) =
      graft.ops.Par.eagerly[(DataFrame, Long)](
        () => {
          val e = qHardNegatives(s, d)
            .select(col("query_id"), col("neighbor_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (e, e.select(col("query_id")).distinct().count())
        },
        () => {
          val a = qHardNegativesAnn(s, d)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (a, a.select(col("query_id")).distinct().count())
        })
    try {
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"))
      // two independent readouts over the persisted tiers
      val Seq(hits, sameClass) = graft.ops.Par.eagerly(
        () => ann.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id")).count(),
        () => ann
          .join(broadcast(labels.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("query_id"),
              col("label").as("q_label"))), Seq("query_id"))
          .filter(col("n_label") === col("q_label")).count())
      import s.implicits._
      Seq(("hard_negatives_ann", nq > 0, annQ == nq,
          nq > 0 && hits.toDouble / (nq * TopK) >= 0.5,
          sameClass == 0L))
        .toDF("tier", "queries_nonempty", "all_queries_covered",
          "overlap_at_5_ok", "wrong_class_only")
    } finally { exact.unpersist(); ann.unpersist(); () }
  }

  val qHardNegativesAnnBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('hard_negatives_ann', true, true, true, true))
      |  t(tier, queries_nonempty, all_queries_covered,
      |    overlap_at_5_ok, wrong_class_only)""".stripMargin

  // ONE IVF index build per (process, scale dir): the index is an
  // artifact, not a per-query cost — a search query that re-runs KMeans
  // on every invocation reads, at 100 TB, as "similarity search costs a
  // full clustering pass". The build writes the assigned corpus to
  // parquet PARTITIONED BY cell (the on-disk shape of a real inverted
  // file: probing nProbe cells scans only those directories — partition
  // pruning, not a full-corpus scan) plus the tiny centroid table.
  // Centroids are kept as local rows so the memoized entry is not tied
  // to the building session, and the artifact survives
  // spark.catalog.clearCache() (which would evict a merely-persisted
  // index between bench runs).
  /** Build (or fetch the prebuilt) IVF index for the scale dir:
    * (index parquet path, centroids). nCells scales as √N — the
    * classical IVF sizing: cell size N/√N = √N keeps build cost
    * (k-means over N) and probe cost (nProbe·√N) balanced. Build time
    * is reported to [[graft.BuildTimes]] so Bench can expose it
    * separately from search. */
  def ivfIndexFor(s: SparkSession, d: String): (String, Seq[(Int, Seq[Double])]) =
    graft.BuildTimes.onceDir("ivf_index_build", d) { path =>
      val c = corpus(s, d)
      val nCells = math.max(4, math.sqrt(c.count().toDouble).toInt)
      val (indexed, centroids) = Similarity.ivfIndex(c, nCells = nCells)
      indexed.write.mode("overwrite").partitionBy("cell").parquet(path)
      val localCentroids = centroids.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
      (path, localCentroids)
    }

  /** IVF search with a caller-chosen probe width — the recall/cost
    * knob a 100 TB deployment must own: recall and candidate volume
    * both grow with nProbe/nCells (SimilaritySpec pins the measured
    * curve on the harness corpus). This measures SEARCH (partition-
    * pruned probe-cell scan + rank), not index construction. */
  def qSimIvfProbe(s: SparkSession, d: String, nProbe: Int): DataFrame = {
    val (path, localCentroids) = ivfIndexFor(s, d)
    val indexed = s.read.parquet(path)
    import s.implicits._
    val centroids = localCentroids.toDF("cell", "centroid")
    Similarity.ivfTopK(indexed, centroids, queriesDf(s, d), TopK,
      nProbe = math.min(math.max(1, nProbe), localCentroids.size))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Registered IVF query — rows-only check; recall vs brute force
    * asserted in SimilaritySpec. The harness embeddings are uniform
    * random (no cluster structure — IVF's worst case), so the default
    * probes half the cells; on real corpora with cluster structure
    * nProbe/nCells would be far smaller for the same recall. */
  def qSimIvf(s: SparkSession, d: String): DataFrame = {
    val (_, localCentroids) = ivfIndexFor(s, d)
    qSimIvfProbe(s, d, math.max(2, localCentroids.size / 2))
  }

  /** PQ codebooks + encoded corpus for the scale dir. m=8 subspaces ×
    * k=16 centroids over the 64-dim embeddings: codes are 8 nibbles
    * (4 bytes) per vector vs 256 bytes of floats — the memory ratio
    * that keeps a corpus-scale ANN index resident. Built once per
    * scale dir: codebooks (driver-local) + encoded codes parquet; build
    * cost (8 sub-space k-means fits + one encode pass) reported as
    * `pq_index_build`. */
  def pqIndexFor(s: SparkSession, d: String): (Array[Array[Array[Double]]], String) =
    graft.BuildTimes.onceDir("pq_index_build", d) { path =>
      val c = corpus(s, d)
      val cb = Similarity.pqCodebooks(c, m = 8, k = 16)
      Similarity.pqEncode(c, cb).write.mode("overwrite").parquet(path)
      (cb, path)
    }

  /** PQ ADC top-5 with exact re-rank — rows-only (k-means is not
    * SQL-expressible); recall vs brute force asserted in
    * SimilaritySpec. The shortlist is the sublinear [[pqShortlist]]
    * budget (2·k·√N): the ADC scan ranks all codes cheaply (4 bytes per
    * vector), the exact re-rank touches only the budget. Scored rows
    * agree with the brute-force oracle rows wherever the shortlist
    * holds the true neighbor (exact re-rank). */
  /** PCA-shortlist ANN ([[graft.sim.Pca.shortlistTopK]]): shortlist by
    * cosine in the 16-d principal subspace at the PQ tier's 2k√N
    * budget, exact re-rank in the full 64-d space — the linear-map
    * sibling of [[qSimPqTopK]] (PQ quantizes, PCA projects; both pay
    * full-precision dot products only on the shortlist). Measured
    * recall@5 0.86–0.96 across SFs on uniform-random embeddings —
    * ABOVE both PQ tiers, because the projection is unbiased where
    * quantization is not. Rows-only (the eigenbasis is float-order
    * sensitive); the recall floor rides [[qSimRecallBounds]]'s new
    * `pca` row. */
  def qSimPcaTopK(s: SparkSession, d: String): DataFrame = {
    val n = corpus(s, d).count()
    graft.sim.Pca.shortlistTopK(s, d, queriesDf(s, d), corpus(s, d),
      TopK, pqShortlist(n), roundScoreTo = Some(9))
      .orderBy(col("query_id"), col("rank"))
  }

  def qSimPqTopK(s: SparkSession, d: String): DataFrame = {
    val (cb, path) = pqIndexFor(s, d)
    val codes = s.read.parquet(path)
    val n = codes.count()
    Similarity.pqTopK(codes, cb, corpus(s, d), queriesDf(s, d), TopK,
      shortlist = pqShortlist(n), roundScoreTo = Some(9))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ composition (FAISS IVFADC layout): the prebuilt coarse
    * index supplies cell pruning, the prebuilt PQ codes supply the
    * 4-byte ADC scan, and the exact re-rank touches only the
    * shortlist. Probes half the cells (the uniform-random-corpus
    * default the IVF query documents) with the PQ query's sublinear
    * [[pqShortlist]] budget drawn from the probed half. Rows-only;
    * recall floor in SimilaritySpec. */
  def qSimIvfPqTopK(s: SparkSession, d: String): DataFrame = {
    val (ivfPath, localCentroids) = ivfIndexFor(s, d)
    val (cb, pqPath) = pqIndexFor(s, d)
    import s.implicits._
    val centroids = localCentroids.toDF("cell", "centroid")
    val cellCodes = s.read.parquet(ivfPath).select(col("vec_id"), col("cell"))
      .join(s.read.parquet(pqPath), Seq("vec_id"))
    val n = cellCodes.count()
    Similarity.ivfPqTopK(cellCodes, centroids, cb, corpus(s, d), queriesDf(s, d),
      TopK, nProbe = math.max(2, localCentroids.size / 2),
      shortlist = pqShortlist(n), roundScoreTo = Some(9))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-cosine near-dup pairs on corpus ∪ scaled copy (scaled
    * vectors are exact cosine-1 duplicates) — rows-only check. */
  def qDedupEmbedding(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingNearDupPairs(
      graft.ops.Spread.perRow(
        corpus(s, d).union(scaledDelta(s, d)), col("vec_id")),
      minCosine = 0.95)
      .orderBy(col("id_a"), col("id_b"))

  /** SemDeDup semantic dedup over corpus ∪ scaled copy: every scaled
    * vector is an exact cosine-1 duplicate of its base, so its keeper
    * must resolve to the base id (asserted in SimilaritySpec) —
    * rows-only for the driver (k-means isn't SQL-expressible). The
    * k-means cluster assignment is the build-once artifact (persisted
    * per scale dir, `semantic_cluster_build` in Bench's builds
    * section); each run pays only pair-gen + verify + CC. */
  def qDedupSemantic(s: SparkSession, d: String): DataFrame = {
    val path = graft.BuildTimes.onceDir("semantic_cluster_build", d) { p =>
      val base = corpus(s, d)
      val doubled = base.select((col("vec_id") + DedupQueries.IdOffset).as("vec_id"),
        transform(col("embedding"), x => x * 2.0f).as("embedding"))
      val (indexed, _) = Similarity.ivfIndex(base.union(doubled), nCells = 16)
      indexed.write.mode("overwrite").parquet(p)
      p
    }
    Similarity.semanticDedupFromIndex(s.read.parquet(path))
      .orderBy(col("vec_id"))
  }

  /** Incremental SemDeDup ([[Similarity.semanticDedupIncrement]]) — the
    * semantic member of the incremental-dedup family (exact, MinHash,
    * curation, IVF, PageRank): scaled copies of the corpus arrive as a
    * NEW batch, get assigned to the FROZEN base centroids (no
    * re-clustering), cosine-verify only within the affected cells and
    * only against new×new / new×old pairs, and fold into the persisted
    * keeper map. History is never re-verified: prior verdicts enter
    * the component fold as star edges. Every scaled copy normalizes to
    * its base twin's exact unit vector, so its keeper must resolve to
    * the twin's keeper, and the full updated map must equal a batch
    * run over the same clustering — both spec-pinned. Rows-only for
    * the driver (k-means isn't SQL-expressible). */
  def qDedupSemanticIncremental(s: SparkSession, d: String): DataFrame = {
    val (ivfPath, localCentroids) = ivfIndexFor(s, d)
    val priorIndex = s.read.parquet(ivfPath)
    // build-once prior dedup verdict over the base IVF index — the
    // "yesterday's state" the incremental query folds into
    val keepersPath = graft.BuildTimes.onceDir("semantic_prior_keepers_build", d) { p =>
      Similarity.semanticDedupFromIndex(priorIndex)
        .write.mode("overwrite").parquet(p)
      p
    }
    import s.implicits._
    val centroids = localCentroids.toDF("cell", "centroid")
    Similarity.semanticDedupIncrement(
      priorIndex, s.read.parquet(keepersPath),
      Similarity.ivfAssign(scaledDelta(s, d), centroids))
      .orderBy(col("vec_id"))
  }

  /** Per-dimension embedding profile by label: mean/min/max of each of
    * the 64 components — the drift/QA pass a feature store runs over
    * an embedding column. Long format (label, pos, …): no array
    * assembly, total ordering on (label, pos), and the groupBy key
    * (label, pos) is partial-aggregable — one shuffle of 10×64 groups
    * regardless of corpus size. */
  def qEmbeddingStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("mean_val"),
        min(col("v")).cast("double").as("min_val"),
        max(col("v")).cast("double").as("max_val"))
      .orderBy(col("label"), col("pos"))

  /** DuckDB twin. The harness embedding dim is fixed at 64 (all scale
    * factors); generate_series only takes constants, so the twin pins
    * it — the Spark side stays dim-agnostic via posexplode. */
  val qEmbeddingStatsSql: String =
    """SELECT label, i - 1 AS pos,
      |  avg(embedding[i]) AS mean_val,
      |  CAST(min(embedding[i]) AS DOUBLE) AS min_val,
      |  CAST(max(embedding[i]) AS DOUBLE) AS max_val
      |FROM embeddings, generate_series(1, 64) g(i)
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  /** MMR diverse top-5 for the first query vector (λ = 0.7) — rows-only
    * (the greedy trajectory is not SQL-expressible); the
    * diversity-vs-relevance behavior and the hand-computable tiny case
    * are spec'd in SimilaritySpec. */
  def qSimMmr(s: SparkSession, d: String): DataFrame =
    Similarity.mmrTopK(corpus(s, d),
      corpus(s, d).filter(col("vec_id") === 0), k = TopK, lambda = 0.7)
      .orderBy(col("rank"))

  /** MMR composed with the IVF shortlist — the 100 TB tier of
    * [[qSimMmr]]: the full-corpus form scans all N candidates in each
    * of its k rounds (O(k·N)), which at corpus scale would be k full
    * scans for one result page. Here the prebuilt IVF index first
    * reduces the pool to the [[pqShortlist]] candidate budget
    * (2·k_mmr·√N — sublinear, same budget law as the PQ re-rank), and
    * the k greedy rounds then run over candidate-budget-sized frames
    * only. Greedy-trajectory guarantee: whenever the full-corpus MMR's
    * selected set is contained in the shortlist, the shortlisted
    * trajectory is IDENTICAL (each round's argmax over the superset
    * lies in the subset, so the subset argmax agrees, inductively) —
    * SimilaritySpec pins exactly that equivalence on the harness
    * corpus; [[qSimMmr]] stays registered as the oracle-tier twin
    * (same exact/approx contract as q_ntile vs q_ntile_approx). */
  def qSimMmrShortlist(s: SparkSession, d: String): DataFrame = {
    val (path, localCentroids) = ivfIndexFor(s, d)
    val indexed = s.read.parquet(path)
    import s.implicits._
    val centroids = localCentroids.toDF("cell", "centroid")
    val q = corpus(s, d).filter(col("vec_id") === 0)
    val n = indexed.count()
    val shortlist = Similarity.ivfTopK(indexed, centroids, q,
      k = pqShortlist(n), nProbe = math.max(2, localCentroids.size / 2))
      .select(col("neighbor_id").as("vec_id"))
    Similarity.mmrTopK(corpus(s, d).join(broadcast(shortlist), Seq("vec_id")),
      q, k = TopK, lambda = 0.7)
      .orderBy(col("rank"))
  }

  /** Incremental IVF index update: scaled copies of the corpus (exact
    * cosine-duplicates at new ids) assigned to the EXISTING centroids —
    * no re-clustering, history untouched. Output = per-cell base vs
    * delta counts; since a scaled copy normalizes to the identical unit
    * vector, every cell must show n_delta == n_base (spec-pinned), and
    * the assignment rule is spec-pinned equal to KMeans.transform. */
  def qSimIvfIncremental(s: SparkSession, d: String): DataFrame = {
    val (ivfPath, localCentroids) = ivfIndexFor(s, d)
    import s.implicits._
    val centroids = localCentroids.toDF("cell", "centroid")
    val assigned = Similarity.ivfAssign(scaledDelta(s, d), centroids)
    val base = s.read.parquet(ivfPath).groupBy(col("cell"))
      .agg(count(lit(1)).as("n_base"))
    base.join(assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_delta")),
      Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_delta"))
      .orderBy(col("cell"))
  }

  /** Hybrid lexical+dense retrieval fused with reciprocal-rank fusion
    * (Cormack, Clarke & Buettcher SIGIR'09: score = Σ 1/(60+rank)) —
    * the standard two-tower retrieval recipe: a BM25 leg over the
    * documents table and a dense cosine leg over the embeddings table
    * (doc_id ≡ vec_id in the harness), each contributing its top-20
    * ranking for one fixed query, fused and cut to the top-10.
    *
    * Scale shape: each leg is the already-scale-shaped ranker
    * ([[AnalyticsQueries.bm25Scores]]'s partial-agg frames;
    * [[Similarity.bruteForceTopK]]'s broadcast-query bounded heap —
    * swap in the IVF leg for a 100 TB corpus), cut to its pool via
    * TakeOrdered before any window. The fusion join touches ≤ 40 rows.
    * RRF scores are sums of two exactly-rounded divisions — bit-equal
    * across engines with no rounding; ties break on doc_id. */
  def qHybridRrf(s: SparkSession, d: String): DataFrame = {
    val (pool, out, rrfK) = (20, 10, 60)
    val lex = AnalyticsQueries.bm25Scores(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        Seq("spark", "query", "join"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(pool)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("lex_rank"))
    val dense = Similarity.bruteForceTopK(
        corpus(s, d), corpus(s, d).filter(col("vec_id") === 0), pool,
        roundScoreTo = Some(9))
      .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(out)
      .withColumn("fused_rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("fused_rank"), col("lex_rank"),
        col("vec_rank"), col("rrf"))
      .orderBy(col("fused_rank"))
  }

  val qHybridRrfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tok2 AS (SELECT * FROM tok WHERE term <> ''),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
      |stats AS (
      |  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok2
      |  WHERE term IN ('spark','query','join') GROUP BY doc_id, term
      |), dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |sc AS (
      |  SELECT t.doc_id,
      |    round(sum(
      |      ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) *
      |      (t.tf * 2.2) /
      |      (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
      |    ), 9) AS score
      |  FROM tf t JOIN dft f ON t.term = f.term
      |  JOIN dl l ON t.doc_id = l.doc_id
      |  CROSS JOIN stats s
      |  GROUP BY t.doc_id
      |), lex AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
      |  FROM sc QUALIFY lex_rank <= 20
      |), dq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |dscored AS (
      |  SELECT e.vec_id AS doc_id,
      |    round(list_cosine_similarity(CAST(dq.qe AS DOUBLE[]),
      |                                 CAST(e.embedding AS DOUBLE[])), 9) AS cos
      |  FROM dq, embeddings e WHERE e.vec_id <> 0
      |), den AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
      |  FROM dscored QUALIFY vec_rank <= 20
      |), f AS (
      |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
      |    coalesce(1.0 / (60 + l.lex_rank), 0.0) +
      |    coalesce(1.0 / (60 + v.vec_rank), 0.0) AS rrf
      |  FROM lex l FULL OUTER JOIN den v ON l.doc_id = v.doc_id
      |), fr AS (
      |  SELECT doc_id, lex_rank, vec_rank, rrf,
      |    row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
      |  FROM f
      |)
      |SELECT doc_id, fused_rank, lex_rank, vec_rank, rrf
      |FROM fr WHERE fused_rank <= 10
      |ORDER BY fused_rank""".stripMargin

  /** Oracle rows for the ANN tiers — the property-gate contract of
    * q_approx_distinct_bounds applied to recall: each approximate
    * search at its registered configuration (IVF at the default probe
    * width, PQ at the 2k√N shortlist, and the IVFADC composition)
    * must recover ≥ 60% of the brute-force top-k pairs overall — the
    * floor SimilaritySpec pins on uniform-random embeddings,
    * quantization/pruning's worst case; real clustered corpora sit
    * far above it. All sides are computed in Spark — k-means isn't
    * SQL-expressible — and the DuckDB twin is the literal expected
    * frame: the hash proves the self-checks' verdicts, not values.
    * One extra brute-force pass is the cost of the gate, which is
    * exactly why this is the oracle TIER and the per-tier queries
    * alone are the 100 TB path. */
  def qSimRecallBounds(s: SparkSession, d: String): DataFrame = {
    val exact = Similarity.bruteForceTopK(corpus(s, d), queriesDf(s, d), TopK)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nExact = exact.count()
      def recallOf(approx: DataFrame): Double =
        if (nExact == 0) 0.0
        else approx.select(col("query_id"), col("neighbor_id"))
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .count().toDouble / nExact
      import s.implicits._
      // four independent tier recalls over the persisted truth set —
      // concurrent per guide §2.6 (each tier serves from its own
      // single-flight cached index, so the legs share no lazy state)
      val Seq(rIvf, rIvfpq, rPca, rPq) = graft.ops.Par.eagerly(
        () => recallOf(qSimIvf(s, d)),
        () => recallOf(qSimIvfPqTopK(s, d)),
        () => recallOf(qSimPcaTopK(s, d)),
        () => recallOf(qSimPqTopK(s, d)))
      Seq(("ivf", rIvf >= 0.6), ("ivfpq", rIvfpq >= 0.6),
          ("pca", rPca >= 0.6), ("pq", rPq >= 0.6))
        .map { case (t, ok) => (t, nExact == NumQueries.toLong * TopK, ok) }
        .toDF("tier", "truth_complete", "recall_ok")
        .orderBy(col("tier"))
    } finally { exact.unpersist(); () }
  }

  val qSimRecallBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('ivf', true, true), ('ivfpq', true, true),
      |  ('pca', true, true), ('pq', true, true))
      |  t(tier, truth_complete, recall_ok)
      |ORDER BY tier""".stripMargin

  /** The scaled-copy delta every incremental similarity tier folds in:
    * corpus vectors ×2.0f at offset ids — exact cosine-1 duplicates of
    * their base twins (scaling preserves direction), so equivalence
    * facts are analytic, not tuned. */
  private def scaledDelta(s: SparkSession, d: String): DataFrame =
    corpus(s, d).select(
      (col("vec_id") + DedupQueries.IdOffset).as("vec_id"),
      transform(col("embedding"), x => x * 2.0f).as("embedding"))

  /** Equivalence-bounds oracle row for [[qSimIvfIncremental]] — the
    * q_contamination_incremental contract brought to the ANN index:
    * the frozen-centroid assignment of the scaled delta must land
    * every vector in EXACTLY its base twin's cell (scaled copies
    * normalize to the identical unit vector, so the nearest-centroid
    * rule cannot distinguish them — any divergence means the
    * incremental path and the index build disagree on the assignment
    * rule). Checked per-VECTOR via one full-outer join of
    * (delta id − offset, delta cell) against the persisted index —
    * strictly stronger than the per-cell count view the rows-only
    * query reports. All sides are Spark computations (k-means isn't
    * SQL-expressible); the DuckDB twin is the literal expected frame,
    * fail-closed via `delta_covers_base` (an empty delta or a
    * half-written index reads false, never vacuous-true). */
  def qSimIvfIncBounds(s: SparkSession, d: String): DataFrame = {
    val (ivfPath, localCentroids) = ivfIndexFor(s, d)
    import s.implicits._
    val centroids = localCentroids.toDF("cell", "centroid")
    val assigned = Similarity.ivfAssign(scaledDelta(s, d), centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = s.read.parquet(ivfPath).select(col("vec_id"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nBase = base.count()
      val nDelta = assigned.count()
      val mismatched = assigned
        .select((col("vec_id") - DedupQueries.IdOffset).as("vec_id"),
          col("cell").as("delta_cell"))
        .join(base, Seq("vec_id"), "full_outer")
        .filter(col("delta_cell").isNull || col("cell").isNull ||
          col("delta_cell") =!= col("cell"))
        .count()
      Seq(("ivf_inc", nDelta > 0 && nDelta == nBase, mismatched == 0L))
        .toDF("tier", "delta_covers_base", "frozen_assign_matches_base_cells")
    } finally { assigned.unpersist(); base.unpersist(); () }
  }

  val qSimIvfIncBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('ivf_inc', true, true))
      |  t(tier, delta_covers_base, frozen_assign_matches_base_cells)""".stripMargin

  /** Equivalence-bounds oracle row for [[qDedupSemanticIncremental]]:
    * the incremental fold (affected-cells-only verify, prior verdicts
    * as star edges) must produce the IDENTICAL (vec_id, keeper) map as
    * a from-scratch batch dedup over the same clustering (base index ∪
    * frozen-centroid-assigned delta) — the spec-pinned equivalence,
    * now driver-visible. Second fact: every scaled copy must resolve
    * to its base twin's keeper (cosine-1 by construction). Both
    * checks are set-exact joins, no tolerance. Fail-closed on
    * `map_nonempty`. */
  def qSemIncBounds(s: SparkSession, d: String): DataFrame = {
    val (ivfPath, localCentroids) = ivfIndexFor(s, d)
    val priorIndex = s.read.parquet(ivfPath)
    import s.implicits._
    val centroids = localCentroids.toDF("cell", "centroid")
    // the incremental fold and its from-scratch batch twin are
    // independent given the persisted index, and each is a string of
    // small eager CC-round checkpoints that leaves most cores idle —
    // fork the two pipelines per guide §2.6 (wall ≈ max, not sum)
    val Seq((inc, nMap), (batch, _)) =
      graft.ops.Par.eagerly[(DataFrame, Long)](
        () => {
          val i = qDedupSemanticIncremental(s, d)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (i, i.count())
        },
        () => {
          val assigned = Similarity.ivfAssign(scaledDelta(s, d), centroids)
          val combined = priorIndex
            .select(col("vec_id"), col("cell"), col("norm"))
            .unionByName(assigned)
          // CC labels inside are eagerly cut per round; the returned
          // frame is consumed exactly once (the full-outer diff below)
          (Similarity.semanticDedupFromIndex(combined)
            .withColumnRenamed("keeper", "batch_keeper"), 0L)
        })
    try {
      // two independent readouts over the persisted inc map —
      // concurrent per guide §2.6
      val Seq(disagree, twinBad) = graft.ops.Par.eagerly(
        () => inc.join(batch, Seq("vec_id"), "full_outer")
          .filter(col("keeper").isNull || col("batch_keeper").isNull ||
            col("keeper") =!= col("batch_keeper"))
          .count(),
        () => inc.filter(col("vec_id") >= DedupQueries.IdOffset)
          .select((col("vec_id") - DedupQueries.IdOffset).as("vec_id"),
            col("keeper").as("delta_keeper"))
          .join(inc, Seq("vec_id"))
          .filter(col("delta_keeper") =!= col("keeper"))
          .count())
      Seq(("semantic_inc", nMap > 0, disagree == 0L, twinBad == 0L))
        .toDF("tier", "map_nonempty", "inc_matches_batch",
          "twins_resolve_to_base_keeper")
    } finally { inc.unpersist(); () }
  }

  val qSemIncBoundsSql: String =
    """SELECT * FROM (VALUES ('semantic_inc', true, true, true))
      |  t(tier, map_nonempty, inc_matches_batch,
      |    twins_resolve_to_base_keeper)""".stripMargin

  /** Trajectory-equivalence oracle row for the shortlist-MMR
    * composition: a greedy MMR run restricted to the EXACT top-2k√N
    * relevance shortlist (the IVF index probed at FULL width — every
    * cell, so the shortlist is exactly the brute-force top-S, no
    * pruning error in the oracle tier) must reproduce the full-corpus
    * MMR trajectory row-for-row — same (rank, id, relevance,
    * mmr_score). `coverage_holds` pins the premise of the
    * greedy-argmax containment argument (every full-run pick inside
    * the shortlist) as its own measured fact; `shortlist_matches_full`
    * is the multiset-exact equality via exceptAll both ways.
    *
    * The REGISTERED [[qSimMmrShortlist]] probes half the cells — the
    * 100 TB knob — and on uniform-random embeddings a diversity-driven
    * pick can sit in an unprobed cell, so partial-probe trajectories
    * legitimately diverge (measured at sf0.01): exactly the
    * exact/approx tier split of q_ntile vs q_ntile_approx, with THIS
    * row as the exact tier's gate. Fail-closed via
    * `full_trajectory_complete` (k rows actually picked). */
  def qSimMmrBounds(s: SparkSession, d: String): DataFrame = {
    val (path, localCentroids) = ivfIndexFor(s, d)
    val indexed = s.read.parquet(path)
    import s.implicits._
    val centroids = localCentroids.toDF("cell", "centroid")
    val q = corpus(s, d).filter(col("vec_id") === 0)
    // the two greedy MMR trajectories (full corpus; shortlist-restricted,
    // which first needs the full-probe shortlist) are independent
    // driver loops of k sequential small jobs each — fork them per
    // guide §2.6 so one loop's idle cores back-fill the other
    val Seq((shortlist, short), (full, _)) =
      graft.ops.Par.eagerly[(DataFrame, DataFrame)](
        () => {
          val sl = Similarity.ivfTopK(indexed, centroids, q,
            k = pqShortlist(indexed.count()), nProbe = localCentroids.size)
            .select(col("neighbor_id").as("vec_id"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val sh = Similarity.mmrTopK(
            corpus(s, d).join(broadcast(sl), Seq("vec_id")),
            q, k = TopK, lambda = 0.7)
          (sl, sh)
        },
        () => {
          val f = qSimMmr(s, d)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (f, f)
        })
    try {
      // independent readouts over the persisted trajectories (all
      // k-row frames — cheap, but the fork above already paid off)
      val Seq(uncovered, diff, nFull) = graft.ops.Par.eagerly(
        () => full.select(col("vec_id"))
          .join(shortlist, Seq("vec_id"), "left_anti").count(),
        () => full.exceptAll(short).count() + short.exceptAll(full).count(),
        () => full.count())
      Seq(("mmr_shortlist", nFull == TopK.toLong,
          uncovered == 0L, diff == 0L))
        .toDF("tier", "full_trajectory_complete", "coverage_holds",
          "shortlist_matches_full")
    } finally { full.unpersist(); shortlist.unpersist(); () }
  }

  val qSimMmrBoundsSql: String =
    """SELECT * FROM (VALUES ('mmr_shortlist', true, true, true))
      |  t(tier, full_trajectory_complete, coverage_holds,
      |    shortlist_matches_full)""".stripMargin

  /** Recall-bounds oracle row for the SRP tier ([[qDedupEmbedding]]) —
    * the one sketch that had no recall gate: measure SRP pair recall
    * against the BRUTE-FORCE cosine truth set (all pairs ≥ 0.95 on the
    * base ∪ scaled corpus — the oracle tier's O(N²) price, which is
    * exactly why the banded SRP query alone is the 100 TB path).
    * `truth_complete` pins that the truth set contains every planted
    * (i, i + offset) exact-duplicate pair — fail-closed: an empty or
    * truncated truth set reads false rather than vacuously passing.
    * Floor 0.95; exact duplicates share all SRP bands (recall 1.0 for
    * cos = 1), and uniform-random vectors contribute essentially no
    * natural ≥ 0.95 pairs, so the measured recall sits at 1.0 with
    * the floor as regeneration headroom. */
  def qDedupSrpBounds(s: SparkSession, d: String): DataFrame = {
    val base = corpus(s, d)
    // spread AFTER the union (both legs derive from one-row-group
    // scans): the truth side below is an all-pairs broadcast-nested-
    // loop dot-product join — unspread it runs as a single task
    // (graft.ops.Spread scaladoc; −1.7 s)
    val all = graft.ops.Spread.perRow(
      base.union(scaledDelta(s, d)), col("vec_id"))
    val normed = Similarity.withNormalized(all).select(col("vec_id"), col("norm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nBase = base.count()
      val a = normed.select(col("vec_id").as("id_a"), col("norm").as("na"))
      val b = normed.select(col("vec_id").as("id_b"), col("norm").as("nb"))
      val truth = a.join(b, col("id_a") < col("id_b"))
        .filter(Similarity.dot(col("na"), col("nb")) >= 0.95)
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nTruth = truth.count()
        val plantedMissing = truth
          .filter(col("id_b") === col("id_a") + DedupQueries.IdOffset).count() < nBase
        val srp = Similarity.embeddingNearDupPairs(all, minCosine = 0.95)
          .select(col("id_a"), col("id_b"))
        val hit = srp.join(truth, Seq("id_a", "id_b"), "left_semi").count()
        val recallOk = nTruth > 0 && hit.toDouble / nTruth >= 0.95
        import s.implicits._
        Seq(("srp", !plantedMissing && nTruth >= nBase, recallOk))
          .toDF("tier", "truth_complete", "recall_ok")
      } finally { truth.unpersist(); () }
    } finally { normed.unpersist(); () }
  }

  val qDedupSrpBoundsSql: String =
    """SELECT * FROM (VALUES ('srp', true, true))
      |  t(tier, truth_complete, recall_ok)""".stripMargin

  /** L2 normalization — the preprocessing pass every cosine/IVF
    * pipeline runs before indexing (unit vectors turn cosine into a
    * dot product and make PQ cells isotropic). Pure in-row
    * higher-order array math, no UDF, no shuffle; the driver's
    * comparator can't sort array columns, so the output carries the
    * pre-norm plus the first three normalized dimensions as scalars.
    * Floats cast to double BEFORE squaring on BOTH engines (a
    * float-precision square would diverge from DuckDB's DOUBLE[]
    * lane), and both engines fold the sum in array order — the same
    * addition sequence bit-for-bit, with round(·,6) as belt and
    * braces. Zero vectors map to zeros (guarded division). */
  def qEmbeddingNormalize(s: SparkSession, d: String): DataFrame = {
    val sq = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    def dim(i: Int) = when(col("norm") > 0.0,
      round(element_at(col("embedding"), i + 1).cast("double") / col("norm"), 6))
      .otherwise(lit(0.0)).as(s"d$i")
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .withColumn("norm", sqrt(sq))
      .select(col("vec_id"), round(col("norm"), 6).as("l2_norm"),
        dim(0), dim(1), dim(2))
      .orderBy(col("vec_id"))
  }

  val qEmbeddingNormalizeSql: String =
    """WITH n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> x * x))) AS norm
      |  FROM embeddings
      |)
      |SELECT vec_id, round(norm, 6) AS l2_norm,
      |  CASE WHEN norm > 0 THEN round(e[1] / norm, 6) ELSE 0.0 END AS d0,
      |  CASE WHEN norm > 0 THEN round(e[2] / norm, 6) ELSE 0.0 END AS d1,
      |  CASE WHEN norm > 0 THEN round(e[3] / norm, 6) ELSE 0.0 END AS d2
      |FROM n ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ Cluster silhouette
  /** Per-point simplified silhouette over the IVF assignment — the
    * shared distance frame of [[qSimSilhouette]] /
    * [[qSimSilhouetteBounds]]: for each corpus vector, `a` = Euclidean
    * distance to its OWN cell's centroid, `b` = distance to the
    * nearest OTHER centroid (the nearest of all is `least(a, b)` by
    * construction — no third fold needed). Normalized vectors make the distance
    * `√(1 + |c|² − 2·x·c)` (clamped against −ulp cancellation). */
  private def silhouetteFrame(s: SparkSession, d: String): DataFrame = {
    val (path, localCentroids) = ivfIndexFor(s, d)
    val indexed = s.read.parquet(path)
    import s.implicits._
    // |c|² precomputed ONCE per centroid driver-side (same left-to-right
    // fold order as the in-plan dot, so the doubles are identical) — in
    // the expression it would re-run the d-dim self-product on every one
    // of the N·√N joined rows
    val centroids = localCentroids
      .map { case (c, v) => (c, v, v.map(x => x * x).sum) }
      .toDF("ccell", "centroid", "cnorm2")
    indexed.select(col("vec_id"), col("cell"), col("norm"))
      .join(broadcast(centroids), lit(true))
      .withColumn("dist", sqrt(greatest(lit(0.0),
        lit(1.0) + col("cnorm2")
          - lit(2.0) * Similarity.dot(col("norm"), col("centroid")))))
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(when(col("ccell") === col("cell"), col("dist"))).as("a"),
        min(when(col("ccell") =!= col("cell"), col("dist"))).as("b"))
  }

  /** Simplified (centroid-based) silhouette per corpus vector —
    * Hamerly's cheap variant of Rousseeuw '87: `s = (b − a)/max(a, b)`
    * with a = own-centroid distance, b = nearest-other-centroid
    * distance. The cluster-quality readout published next to every
    * ANN index build: s near 0 says cells barely separate (exactly
    * what uniform-random harness embeddings should show — IVF's
    * documented worst case), s < 0 says a point sits in the WRONG
    * cell, so the silhouette doubles as an assignment audit.
    *
    * Scale shape: reads the build-once partitioned IVF artifact
    * ([[ivfIndexFor]]); distances come from ONE broadcast of the
    * √N-row centroid table against the corpus (candidate volume
    * N·√N — the same budget as one IVF probe pass, never N²), then a
    * partial-aggregable (vec_id, cell) min-fold. Full simplified
    * silhouette at 10⁹ points is this same plan with more partitions.
    *
    * Rows-only (the centroids are a seeded k-means artifact no SQL
    * oracle can replay); [[qSimSilhouetteBounds]] is the hash-gated
    * face. Scores round at 9 (distance sqrt/dot are libm/order
    * sensitive at the last ulp). */
  def qSimSilhouette(s: SparkSession, d: String): DataFrame =
    silhouetteFrame(s, d)
      .select(col("vec_id"), col("cell"),
        round((col("b") - col("a")) / greatest(col("a"), col("b")), 9).as("s"))
      .orderBy(col("vec_id"))

  /** Property gate turning the silhouette tier into a hash-green
    * driver row (the sketch-bounds oracle discipline — the literal
    * twin proves the self-checks' verdicts):
    *
    *   - `nonempty`   — fail-closed: an empty corpus reads false;
    *   - `assignment_consistent` — NO point is strictly closer to a
    *     foreign centroid than to its own (a ≤ b everywhere; the
    *     k-means assignment and this operator's distance spelling
    *     agree) — the audit that catches a drifted/corrupted index;
    *   - `range_ok`   — every rounded s in [0, 1] (s ≥ 0 is implied
    *     by consistency, s ≤ 1 by the max normalization; both would
    *     break on a NaN from a degenerate centroid). */
  def qSimSilhouetteBounds(s: SparkSession, d: String): DataFrame = {
    val f = silhouetteFrame(s, d)
      .withColumn("s", round((col("b") - col("a")) /
        greatest(col("a"), col("b")), 9))
    val a = f.agg(count(lit(1)).as("n"),
      count(when(col("a") > col("b"), 1)).as("n_misassigned"),
      count(when(col("s") < 0.0 || col("s") > 1.0 ||
        isnan(col("s")), 1)).as("n_out_of_range")).collect().head
    import s.implicits._
    Seq(("silhouette", a.getLong(0) > 0, a.getLong(1) == 0L,
        a.getLong(2) == 0L))
      .toDF("tier", "nonempty", "assignment_consistent", "range_ok")
  }

  val qSimSilhouetteBoundsSql: String =
    """SELECT * FROM (VALUES ('silhouette', true, true, true))
      |  t(tier, nonempty, assignment_consistent, range_ok)""".stripMargin

  // -------------------------------------------------- PCA projection
  /** PCA-reduced embeddings ([[graft.sim.Pca]]) in exploded long form:
    * (vec_id, dim, value) — one posexplode of the 16-d projection, so
    * every released column is a scalar the driver's checker can hash
    * AND the natural shape a consumer equi-joins on (the r14 verdict's
    * array<double> row crashed the checker's pandas sort). Rows-only
    * by design — the Gramian/eigen pipeline is float
    * partial-agg-order sensitive (components may flip sign across
    * layouts), so the driver-facing guarantees live in
    * [[qEmbeddingPcaBounds]], the gate-from-day-one convention. Scale
    * shape: fit is an index-build cost (one treeAggregate Gramian
    * pass to a d×d frame, driver eigen on 64×64, BuildTimes-cached);
    * the projection is one narrow codegen'd pass of k native dot
    * products with centering folded into constant offsets; the
    * posexplode is a k× row fan-out of an already-narrow 2-column
    * frame — no shuffle, stays inside the same codegen stage. */
  def qEmbeddingPca(s: SparkSession, d: String): DataFrame =
    graft.sim.Pca.project(s, d)
      .select(col("vec_id"),
        posexplode(col("proj")).as(Seq("dim", "value")))
      .orderBy(col("vec_id"), col("dim"))

  /** Hash-green gate for [[qEmbeddingPca]] (fail-closed): the fitted
    * basis is orthonormal (driver-side k×k check at 1e-8), per-dim
    * variances of the projection follow the eigenvalue ORDER
    * (non-increasing within 1e-9 — the defining PCA property: the
    * variance along component j IS the j-th eigenvalue), the top-16
    * subspace captures at least a floor of the total input variance
    * (measured 0.31–0.38 across SFs on the harness embeddings —
    * 16/64 = 0.25 is the isotropic baseline, PCA must beat it), and
    * the projection covered the corpus. */
  def qEmbeddingPcaBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = graft.sim.Pca.fit(s, d)
    val k = f.components.length
    val dDim = f.mean.length
    val orthoDev = (for {
      i <- 0 until k; j <- i until k
    } yield {
      val dot = (0 until dDim).map(t =>
        f.components(i)(t) * f.components(j)(t)).sum
      math.abs(dot - (if (i == j) 1.0 else 0.0))
    }).max
    val proj = graft.sim.Pca.project(s, d)
    val pv = proj.agg(count(lit(1)).as("n"),
        count(when(col("proj").isNull || size(col("proj")) =!= k, 1))
          .as("bad"),
        array((0 until k).map(j =>
          var_samp(element_at(col("proj"), j + 1))): _*).as("pvars"))
      .head()
    val (nProj, nBad) = (pv.getLong(0), pv.getLong(1))
    val projVars = pv.getSeq[Double](2)
    val tot = Tables.embeddings(s, d)
      .select(Similarity.asDouble(col("embedding")).as("e"))
      .agg(array((0 until dDim).map(j =>
        var_samp(element_at(col("e"), j + 1))): _*).as("vars"))
      .head().getSeq[Double](0).sum
    val ok = f.n > 0 && nProj == f.n
    val monotone = projVars.sliding(2).forall {
      case Seq(a, b) => b <= a + 1e-9
      case _         => true
    }
    val capture = projVars.sum / tot
    Seq(
      ("capture_beats_isotropic", ok && capture >= 0.26 && capture <= 1.0),
      ("components_orthonormal", ok && orthoDev <= 1e-8),
      ("projection_complete", ok && nBad == 0L),
      ("variances_eigen_ordered", ok && monotone))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qEmbeddingPcaBoundsSql: String =
    """SELECT * FROM (VALUES ('capture_beats_isotropic', true),
      |  ('components_orthonormal', true), ('projection_complete', true),
      |  ('variances_eigen_ordered', true)) t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  // -------------------------------------------- Retrieval evaluation
  /** Exact gold top-5 for the eval harness over a caller-supplied
    * corpus frame — the brute-force ranking on rounded scores
    * (hash-stable ranks, the q_sim_bruteforce contract). */
  private def retrievalGold(base: DataFrame): DataFrame =
    Similarity.bruteForceTopK(base, base.filter(col("vec_id") < NumQueries),
      TopK, roundScoreTo = Some(9))
      .select(col("query_id"), col("rank"), col("neighbor_id"))

  /** The deterministic degraded system under evaluation: rank by
    * cosine over the FIRST 16 of 64 dimensions — a cheap prefix proxy
    * BOTH engines can replay exactly (unlike the KMeans-fitted IVF/PQ
    * tiers, whose cell assignments are engine-specific), so the whole
    * eval pipeline is hash-oracled end-to-end; the fitted ANN tiers
    * then run through the SAME evaluate() path in the bounds gate. */
  private def retrievalSystem16(base: DataFrame): DataFrame = {
    val cut = base.withColumn("embedding", slice(col("embedding"), 1, 16))
    Similarity.bruteForceTopK(cut, cut.filter(col("vec_id") < NumQueries),
      TopK, roundScoreTo = Some(9))
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** The one embeddings derivation all four eval frames (gold/system ×
    * corpus/queries) read — checkpointed once (the ScanCountSpec gate
    * caught this query's own 6-scan first draft; the gate works). */
  private def retrievalBase(s: SparkSession, d: String): DataFrame =
    corpus(s, d).localCheckpoint(true)

  /** Ranked-retrieval metrics ([[graft.sim.RetrievalEval]]): per-query
    * recall@5, MRR, DCG@5, nDCG@5 of the 16-dim-prefix ranker against
    * the exact gold — the eval op every retrieval pipeline runs, with
    * a deterministic system so the driver's hash gate covers the
    * metric arithmetic itself. The prefix proxy honestly scores LOW on
    * the harness's uniform-random embeddings (recall@5 0–0.4 — 16 of
    * 64 i.i.d. dims carry little of the cosine), which is the point:
    * the hash row certifies the METRICS, the ANN tiers' quality is
    * gated in [[qRetrievalEvalAnnBounds]] through the same path.
    * Per-query rows (exact rationals + the round(6) in-row DCG sums);
    * a mean over queries would be the r12 quantized-mean boundary-sit
    * class, so consumers average downstream. Scale: both inputs are
    * (queries × k)-bounded; the eval is one equi-join + one
    * partial-aggregable groupBy. */
  def qRetrievalEval(s: SparkSession, d: String): DataFrame = {
    val base = retrievalBase(s, d)
    graft.sim.RetrievalEval.evaluate(
      retrievalSystem16(base), retrievalGold(base), TopK)
  }

  val qRetrievalEvalSql: String = {
    val idcg = graft.sim.RetrievalEval.idealDcg(TopK)
    // CASE arms generated from the same literal table idealDcg uses —
    // a hardcoded 1..5 list would silently emit NULL dcg for ranks
    // beyond 5 if TopK ever grew (r15 review finding)
    val discountCase = (1 to TopK).map(i =>
      s"WHEN $i THEN ${graft.sim.RetrievalEval.Log2Discount(i - 1)}")
      .mkString(" ")
    s"""WITH qf AS (
       |  SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id < $NumQueries
       |), gsc AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
       |                                 CAST(e.embedding AS DOUBLE[])), 9) AS cos
       |  FROM qf q, embeddings e WHERE e.vec_id <> q.query_id
       |), gold AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM gsc) WHERE rank <= $TopK
       |), q16 AS (
       |  SELECT vec_id AS query_id, embedding[1:16] AS qe
       |  FROM embeddings WHERE vec_id < $NumQueries
       |), ssc AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
       |      CAST(e.embedding[1:16] AS DOUBLE[])), 9) AS cos
       |  FROM q16 q, embeddings e WHERE e.vec_id <> q.query_id
       |), sys AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM ssc) WHERE rank <= $TopK
       |), j AS (
       |  SELECT s.query_id, s.rank AS sys_rank, s.neighbor_id,
       |    g.rank AS gold_rank
       |  FROM sys s LEFT JOIN gold g USING (query_id, neighbor_id)
       |), ng AS (
       |  SELECT query_id, count(*) AS n_gold FROM gold GROUP BY query_id
       |), m AS (
       |  SELECT query_id,
       |    count(*) FILTER (gold_rank IS NOT NULL) AS hits,
       |    min(sys_rank) FILTER (gold_rank IS NOT NULL) AS fr,
       |    sum(CASE WHEN gold_rank IS NOT NULL
       |      THEN CAST(${TopK + 1} - gold_rank AS DOUBLE) /
       |        (CASE sys_rank $discountCase END)
       |      ELSE 0.0 END) AS dcg_raw
       |  FROM j GROUP BY query_id
       |)
       |SELECT ng.query_id, ng.n_gold,
       |  CAST(coalesce(m.hits, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(m.hits, 0) AS DOUBLE) / ng.n_gold AS recall_at_k,
       |  coalesce(1.0 / m.fr, 0.0) AS mrr,
       |  round(coalesce(m.dcg_raw, 0.0), 6) AS dcg,
       |  round(coalesce(m.dcg_raw, 0.0) / $idcg, 6) AS ndcg
       |FROM ng LEFT JOIN m USING (query_id)
       |ORDER BY ng.query_id""".stripMargin
  }

  /** Gate running ALL FOUR fitted ANN tiers (IVF, PQ, IVFPQ,
    * PCA-shortlist) through the same
    * [[graft.sim.RetrievalEval.evaluate]] path (fail-closed): every
    * query scored, per-tier MIN recall/MRR/nDCG over queries above
    * fat floors — measured minima across sf0.001/0.01/0.1: recall
    * 0.6–1.0, MRR exactly 1.0 (every tier always ranks a true top-5
    * hit first), nDCG 0.66–1.0; floors 0.4/0.5/0.4 leave ≥1.3×
    * margin. The metric semantics are certified by the
    * q_retrieval_eval hash row; the fitted tiers are certified by
    * this gate through the identical code path. */
  def qRetrievalEvalAnnBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gold = retrievalGold(retrievalBase(s, d)).localCheckpoint(true)
    def mins(system: DataFrame): (Long, Double, Double, Double) = {
      val m = graft.sim.RetrievalEval
        .evaluate(system.select(col("query_id"), col("rank"),
          col("neighbor_id")), gold, TopK)
        .agg(count(lit(1)).as("n"), min(col("recall_at_k")).as("r"),
          min(col("mrr")).as("m"), min(col("ndcg")).as("d"))
        .head()
      // an empty tier makes the mins NULL — read −1 (fails every
      // floor) instead of throwing before the fail-closed rows build
      def d(i: Int) = if (m.isNullAt(i)) -1.0 else m.getDouble(i)
      (m.getLong(0), d(1), d(2), d(3))
    }
    val tiers = Seq(
      "ivf" -> qSimIvf(s, d),
      "ivfpq" -> qSimIvfPqTopK(s, d),
      "pca" -> qSimPcaTopK(s, d),
      "pq" -> qSimPqTopK(s, d))
    // the four tier evaluations are independent scans of the shared
    // persisted indexes — concurrent per guide §2.6 (wall ≈ the
    // slowest tier, not the sum of four)
    graft.ops.Par.eagerly(tiers.map { case (name, sys) => () =>
      val (n, r, m, dg) = mins(sys)
      val complete = n == NumQueries.toLong
      (name, complete, complete && r >= 0.4,
        complete && m >= 0.5, complete && dg >= 0.4)
    }: _*)
      .toDF("tier", "all_queries_scored", "min_recall_ok", "min_mrr_ok",
        "min_ndcg_ok")
      .orderBy(col("tier"))
  }

  val qRetrievalEvalAnnBoundsSql: String =
    """SELECT * FROM (VALUES ('ivf', true, true, true, true),
      |  ('ivfpq', true, true, true, true), ('pca', true, true, true, true),
      |  ('pq', true, true, true, true))
      |  t(tier, all_queries_scored, min_recall_ok, min_mrr_ok, min_ndcg_ok)
      |ORDER BY tier""".stripMargin

  // ------------------------------------------------ Embedding drift
  /** Internal: per-vector cosine-to-global-centroid frame — vec_id,
    * source (via the co-keyed documents join), norm, cos, bin.
    *
    * The centroid is made CROSS-ENGINE AND CROSS-LAYOUT EXACT by
    * deliberate quantization: each float32 component maps to
    * `round(v·10⁶)` as a long, so the per-dim corpus sums are exact
    * integer partial aggregations (order-exact — no float centroid
    * wobble for the strict sweep to catch), and drift metrics over the
    * 10⁻⁶-quantized view are statistically identical to raw. Cosine
    * then runs in-row on the double-cast quantized arrays (the
    * q_sim_bruteforce round(9) precedent: in-row dots differ across
    * engines only in the last bits, washed by rounding at emission;
    * bin boundaries are 0.2-grid points an irrational sqrt-quotient
    * cannot sit on).
    *
    * Scale shape: centroid = one posexplode + 64-row integer groupBy
    * (mergeable, partial-aggregable) collapsed to a 1-row broadcast;
    * the per-vector pass is one narrow codegen'd projection; the
    * documents join is co-keyed on the id. Nothing here is
    * corpus-quadratic and no window touches the row stream. */
  /** The 10⁻⁶ quantization of a float embedding column — ONE
    * definition shared by the batch frame and the streaming face. */
  private[graft] def driftQuantized(embCol: Column): Column =
    transform(embCol, x => round(x.cast("double") * lit(1000000.0)).cast("long"))

  /** Cosine of a quantized vector to the (double-cast) centroid
    * column — the shared per-row expression. */
  private[graft] def driftCos(qCol: Column, cvec: Column): Column = {
    val qd = Similarity.asDouble(qCol)
    Similarity.dot(qd, cvec) /
      (sqrt(Similarity.dot(qd, qd)) * sqrt(Similarity.dot(cvec, cvec)))
  }

  /** 0.2-wide cosine bin over [-1, 1] — shared binning. */
  private[graft] def driftBin(cos: Column): Column =
    least(floor((cos + lit(1.0)) * lit(5.0)), lit(9L)).cast("int")

  private def driftCosFrame(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.registerAll(s)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), driftQuantized(col("embedding")).as("q"))
    val cent = emb
      .select(posexplode(col("q")).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(sum(col("v")).as("c"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(transform(col("dc"), x => x.getField("c").cast("double"))
        .as("cvec"))
    val nq = sqrt(Similarity.dot(Similarity.asDouble(col("q")),
      Similarity.asDouble(col("q"))))
    emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), (nq / lit(1000000.0)).as("norm"),
        driftCos(col("q"), col("cvec")).as("cos"))
      .withColumn("bin", driftBin(col("cos")))
      .join(Tables.documents(s, d)
        .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
  }

  /** The frozen drift-reference artifact the STREAMING face serves
    * from (an index-build cost, BuildTimes-cached per scale dir): the
    * exact integer centroid as doubles, plus the corpus per-bin
    * reference counts. Values are BIT-IDENTICAL to the in-plan batch
    * derivation — the centroid components are exact integer sums, so
    * collecting them to literals changes the plan, never the value. */
  def driftReference(s: SparkSession, d: String): (Seq[Double], Seq[(Int, Long)]) =
    graft.BuildTimes.once("drift_reference_build", d) {
      val f = driftCosFrame(s, d).localCheckpoint(true)
      val cvec = Tables.embeddings(s, d)
        .select(posexplode(driftQuantized(col("embedding")))
          .as(Seq("dim", "v")))
        .groupBy(col("dim")).agg(sum(col("v")).as("c"))
        .orderBy(col("dim")).collect()
        .map(_.getLong(1).toDouble).toSeq
      val ref = f.groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
        .orderBy(col("bin")).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      (cvec, ref)
    }

  /** The smoothed-share PSI grid over (ref bins × sources) — the ONE
    * finalize both the batch query and the streaming face run, so the
    * two cannot drift: grid = sources × reference bins LEFT JOIN the
    * current counts (zero-filled), +1 Laplace smoothing over the
    * observed-bin grid, per-bin psi_term round(9). */
  private[graft] def driftPsiFinalize(sources: DataFrame, ref: DataFrame,
      cur: DataFrame): DataFrame = {
    // bin domain = ref ∪ cur bins: live mass landing in a bin the
    // frozen reference never saw must ENTER the grid with n_ref = 0
    // (+1 smoothing keeps the term defined), not silently drop — a
    // drifted batch concentrated in unseen bins is exactly the
    // loudest signal the monitor exists for (r15 review finding; on
    // the batch twin cur bins ⊆ ref bins so this is value-neutral
    // there, and the hash oracle pins that)
    val bins = ref.select(col("bin"))
      .union(cur.select(col("bin"))).distinct()
      .join(ref, Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref"))
    val grid = sources.crossJoin(broadcast(bins))
      .join(cur, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("n_cur"))
    val wf = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val m = grid
      .withColumn("tot_ref", sum(col("n_ref")).over(wf))
      .withColumn("tot_cur", sum(col("n_cur")).over(wf))
      .withColumn("b", count(lit(1)).over(wf))
    val pRef = (col("n_ref") + lit(1L)).cast("double") / (col("tot_ref") + col("b"))
    val pCur = (col("n_cur") + lit(1L)).cast("double") / (col("tot_cur") + col("b"))
    m.select(col("source"), col("bin"), col("n_ref"), col("n_cur"),
        pRef.as("p_ref"), pCur.as("p_cur"),
        round((pCur - pRef) * log(pCur / pRef), 9).as("psi_term"))
      .orderBy(col("source"), col("bin"))
  }

  /** Embedding-space drift monitor, per-source summary — the
    * embedding twin of q_psi_drift (which watches tabular features)
    * and q_corpus_divergence (vocab): per slice, the mean vector norm
    * and mean cosine to the global centroid — the two first-moment
    * readouts that catch an embedding batch whose scale or direction
    * distribution shifted (a re-trained encoder, a corrupt ingest)
    * before an ANN index serves it. Slices are the document sources
    * (the harness's natural cohorts; a deployment slices by ingest
    * window the same way).
    *
    * Floats: means of IRRATIONAL per-row values (sqrt quotients), so
    * the cross-layout partial-agg reorder (~1e-14) cannot straddle a
    * round(6) boundary — the no-boundary-sit doctrine; the r12 trap
    * (means of QUANTIZED values) does not apply because the summands
    * are not grid points. */
  def qEmbeddingDrift(s: SparkSession, d: String): DataFrame =
    driftCosFrame(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("norm")), 6).as("mean_norm"),
        round(avg(col("cos")), 6).as("mean_cos_centroid"))
      .orderBy(col("source"))

  val qEmbeddingDriftSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x * 1000000.0) AS BIGINT)) AS q
      |  FROM embeddings
      |), cent AS (
      |  SELECT list(CAST(c AS DOUBLE) ORDER BY dim) AS cvec FROM (
      |    SELECT dim, sum(v) AS c FROM (
      |      SELECT generate_subscripts(q, 1) AS dim, unnest(q) AS v FROM q)
      |    GROUP BY dim)
      |), f AS (
      |  SELECT q.vec_id,
      |    sqrt(list_dot_product(CAST(q.q AS DOUBLE[]), CAST(q.q AS DOUBLE[])))
      |      / 1000000.0 AS norm,
      |    list_cosine_similarity(CAST(q.q AS DOUBLE[]), cent.cvec) AS cos
      |  FROM q, cent
      |)
      |SELECT d.source, count(*) AS n,
      |  round(avg(f.norm), 6) AS mean_norm,
      |  round(avg(f.cos), 6) AS mean_cos_centroid
      |FROM f JOIN documents d ON d.doc_id = f.vec_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Embedding-drift PSI terms, per (source, bin) — the
    * distributional half of the monitor: each source's
    * cosine-to-centroid distribution over 10 fixed 0.2-wide bins
    * against the WHOLE CORPUS as reference, in exactly
    * q_psi_drift's smoothed-share shape (+1 Laplace smoothing over
    * the observed-bin grid, per-bin psi_term emitted — never a
    * cross-row sum of libm outputs). Every source × observed-bin
    * cell is present (zero-filled), so shares sum to exactly 1 per
    * source — the bounds row pins it.
    *
    * Scale shape: two partial-aggregable count groupBys to a
    * (|sources| × ≤10)-bounded grid, a broadcast bins×sources cross
    * (bounded by the slice dictionary, not the corpus), and per-row
    * expressions on that grid. */
  def qEmbeddingDriftPsi(s: SparkSession, d: String): DataFrame = {
    val f = driftCosFrame(s, d).localCheckpoint(true)
    val ref = f.groupBy(col("bin")).agg(count(lit(1)).as("n_ref"))
    val cur = f.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_cur"))
    driftPsiFinalize(f.select(col("source")).distinct(), ref, cur)
  }

  val qEmbeddingDriftPsiSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(round(x * 1000000.0) AS BIGINT)) AS q
      |  FROM embeddings
      |), cent AS (
      |  SELECT list(CAST(c AS DOUBLE) ORDER BY dim) AS cvec FROM (
      |    SELECT dim, sum(v) AS c FROM (
      |      SELECT generate_subscripts(q, 1) AS dim, unnest(q) AS v FROM q)
      |    GROUP BY dim)
      |), f AS (
      |  SELECT d.source,
      |    CAST(least(floor((list_cosine_similarity(CAST(q.q AS DOUBLE[]),
      |      cent.cvec) + 1.0) * 5.0), 9) AS INT) AS bin
      |  FROM q, cent
      |  JOIN documents d ON d.doc_id = q.vec_id
      |), ref AS (
      |  SELECT bin, count(*) AS n_ref FROM f GROUP BY bin
      |), cur AS (
      |  SELECT source, bin, count(*) AS n_cur FROM f GROUP BY 1, 2
      |), grid AS (
      |  SELECT s.source, r.bin, r.n_ref, coalesce(c.n_cur, 0) AS n_cur
      |  FROM (SELECT DISTINCT source FROM f) s
      |  CROSS JOIN ref r
      |  LEFT JOIN cur c ON c.source = s.source AND c.bin = r.bin
      |), m AS (
      |  SELECT *, sum(n_ref) OVER (PARTITION BY source) AS tot_ref,
      |    sum(n_cur) OVER (PARTITION BY source) AS tot_cur,
      |    count(*) OVER (PARTITION BY source) AS b
      |  FROM grid
      |)
      |SELECT source, bin, n_ref, n_cur,
      |  CAST(n_ref + 1 AS DOUBLE) / (tot_ref + b) AS p_ref,
      |  CAST(n_cur + 1 AS DOUBLE) / (tot_cur + b) AS p_cur,
      |  round((CAST(n_cur + 1 AS DOUBLE) / (tot_cur + b)
      |       - CAST(n_ref + 1 AS DOUBLE) / (tot_ref + b))
      |      * ln((CAST(n_cur + 1 AS DOUBLE) / (tot_cur + b))
      |         / (CAST(n_ref + 1 AS DOUBLE) / (tot_ref + b))), 9) AS psi_term
      |FROM m ORDER BY source, bin""".stripMargin

  /** Fail-closed gate for the drift monitor: smoothed shares sum to
    * exactly 1 per source on BOTH sides of every comparison (the
    * verdict-named pin — Σ(n+1)/(tot+b) telescopes to 1, so any
    * deviation means a dropped grid cell), every psi_term is ≥ 0 (each
    * (p−q)·ln(p/q) term is individually non-negative — a negative one
    * means the share pairing broke), the slices cover the corpus
    * exactly, and the monitor has POWER: a deliberately shifted
    * distribution (every bin's mass moved 3 bins right, clamped at
    * the top of the observed grid — a gross mean-direction drift)
    * must read a larger PSI than every natural source slice, else the
    * readout couldn't distinguish real drift from slice noise. */
  def qEmbeddingDriftBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the whole grid is (|sources| × ≤10) rows — a documented bounded
    // collect, the Markov/eigen driver-solve budget pattern
    val grid = qEmbeddingDriftPsi(s, d)
      .select(col("source"), col("bin"), col("n_ref"), col("n_cur"),
        col("p_ref"), col("p_cur"), col("psi_term"))
      .collect()
    val corpusN = Tables.embeddings(s, d).count()
    val bySource = grid.groupBy(_.getString(0))
    val sharesOk = bySource.values.forall { rows =>
      math.abs(rows.map(_.getDouble(5)).sorted.sum - 1.0) <= 1e-9 &&
        math.abs(rows.map(_.getDouble(4)).sorted.sum - 1.0) <= 1e-9
    }
    val negTerms = grid.count(_.getDouble(6) < -1e-12)
    val covered = grid.map(_.getLong(3)).sum
    val maxSlicePsi =
      if (bySource.isEmpty) 0.0
      else bySource.values.map(_.map(_.getDouble(6)).sorted.sum).max
    // power probe: a slice whose cosine distribution is the corpus's
    // SHIFTED three bins right (a gross mean-direction drift) must
    // read a louder PSI than every natural slice
    val refBins = grid.map(r => (r.getInt(1), r.getLong(2))).distinct.sortBy(_._1)
    val b = refBins.length
    // shifted count for bin = Σ ref counts whose min(src+3, maxBin)
    // lands on bin (mass clamps at the top of the observed grid);
    // an empty grid skips the probe — `ok` already reads false then
    // (empty.max would otherwise throw before the fail-closed rows
    // are built — r15 review finding)
    val shiftPsi = if (refBins.isEmpty) 0.0 else {
      val maxBin = refBins.map(_._1).max
      val shiftCounts = refBins.map { case (bin, _) =>
        refBins.filter { case (b2, _) =>
          math.min(b2 + 3, maxBin) == bin }.map(_._2).sum
      }
      val tr = refBins.map(_._2).sum
      val tm = shiftCounts.sum
      refBins.zip(shiftCounts).map { case ((_, nr), nm) =>
        val pr = (nr + 1).toDouble / (tr + b)
        val pc = (nm + 1).toDouble / (tm + b)
        (pc - pr) * math.log(pc / pr)
      }.sum
    }
    val ok = grid.nonEmpty && corpusN > 0
    Seq(
      ("psi_terms_nonnegative", ok && negTerms == 0),
      ("shares_sum_to_1", ok && sharesOk),
      ("shifted_slice_flags_louder", ok && shiftPsi > maxSlicePsi),
      ("slices_cover_corpus", ok && covered == corpusN))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qEmbeddingDriftBoundsSql: String =
    """SELECT * FROM (VALUES ('psi_terms_nonnegative', true),
      |  ('shares_sum_to_1', true), ('shifted_slice_flags_louder', true),
      |  ('slices_cover_corpus', true)) t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_retrieval_eval" -> (qRetrievalEval _),
    "q_retrieval_eval_ann_bounds" -> (qRetrievalEvalAnnBounds _),
    "q_embedding_drift" -> (qEmbeddingDrift _),
    "q_embedding_drift_psi" -> (qEmbeddingDriftPsi _),
    "q_embedding_drift_bounds" -> (qEmbeddingDriftBounds _),
    "q_embedding_pca" -> (qEmbeddingPca _),
    "q_embedding_pca_bounds" -> (qEmbeddingPcaBounds _),
    "q_sim_pca_topk" -> (qSimPcaTopK _),
    "q_sim_silhouette" -> (qSimSilhouette _),
    "q_sim_silhouette_bounds" -> (qSimSilhouetteBounds _),
    "q_embedding_normalize" -> (qEmbeddingNormalize _),
    "q_sim_recall_bounds" -> (qSimRecallBounds _),
    "q_sim_ivf_inc_bounds" -> (qSimIvfIncBounds _),
    "q_sem_inc_bounds" -> (qSemIncBounds _),
    "q_sim_mmr_bounds" -> (qSimMmrBounds _),
    "q_dedup_srp_bounds" -> (qDedupSrpBounds _),
    "q_hybrid_rrf" -> (qHybridRrf _),
    "q_sim_mmr" -> (qSimMmr _),
    "q_sim_mmr_shortlist" -> (qSimMmrShortlist _),
    "q_sim_ivf_incremental" -> (qSimIvfIncremental _),
    "q_sim_bruteforce_topk" -> (qSimBruteForce _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_hard_negatives_ann" -> (qHardNegativesAnn _),
    "q_hard_negatives_ann_bounds" -> (qHardNegativesAnnBounds _),
    "q_sim_ivf_topk" -> (qSimIvf _),
    "q_sim_pq_topk" -> (qSimPqTopK _),
    "q_sim_ivfpq_topk" -> (qSimIvfPqTopK _),
    "q_dedup_embedding" -> (qDedupEmbedding _),
    "q_dedup_semantic" -> (qDedupSemantic _),
    "q_dedup_semantic_incremental" -> (qDedupSemanticIncremental _),
    "q_embedding_stats" -> (qEmbeddingStats _))

  val oracles: Map[String, String] = Map(
    "q_retrieval_eval" -> qRetrievalEvalSql,
    "q_retrieval_eval_ann_bounds" -> qRetrievalEvalAnnBoundsSql,
    "q_embedding_drift" -> qEmbeddingDriftSql,
    "q_embedding_drift_psi" -> qEmbeddingDriftPsiSql,
    "q_embedding_drift_bounds" -> qEmbeddingDriftBoundsSql,
    "q_embedding_pca_bounds" -> qEmbeddingPcaBoundsSql,
    "q_sim_silhouette_bounds" -> qSimSilhouetteBoundsSql,
    "q_embedding_normalize" -> qEmbeddingNormalizeSql,
    "q_sim_recall_bounds" -> qSimRecallBoundsSql,
    "q_sim_ivf_inc_bounds" -> qSimIvfIncBoundsSql,
    "q_sem_inc_bounds" -> qSemIncBoundsSql,
    "q_sim_mmr_bounds" -> qSimMmrBoundsSql,
    "q_dedup_srp_bounds" -> qDedupSrpBoundsSql,
    "q_hybrid_rrf" -> qHybridRrfSql,
    "q_sim_bruteforce_topk" -> qSimBruteForceSql,
    "q_hard_negatives" -> qHardNegativesSql,
    "q_hard_negatives_ann_bounds" -> qHardNegativesAnnBoundsSql,
    "q_embedding_stats" -> qEmbeddingStatsSql)
}

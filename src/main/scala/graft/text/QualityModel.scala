package graft.text

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Learned document-quality classifier — the fastText-style tier
  * (Joulin et al. '16, "Bag of Tricks for Efficient Text
  * Classification") every production curation pipeline runs between
  * the hard Gopher rules and dedup: hashed unigram+bigram counts →
  * logistic regression, trained against the repo's own heuristic
  * rater (the [[graft.queries.TextQueries.qRaterAgreement]] keep
  * conjunction: n_chars ≥ 250 AND ≥ 25 distinct tokens) on a
  * deterministic hash split, then scored corpus-wide.
  *
  * Train/serve consistency by construction: BOTH training features
  * and corpus-wide scores come from the same [[termBuckets]] frame
  * (terms hashed to [[Dim]] buckets via `xxhash64` EXPRESSIONS — no
  * UDF anywhere, the whole featurizer is codegen'd Catalyst). Scoring
  * never materializes vectors: the fitted coefficients become a
  * [[Dim]]-row broadcast weight table and the logit is a hash-bucket
  * equi-join + one partial-aggregable per-doc sum — the 100 TB path.
  * Only TRAINING densifies (pivot to Dim columns + VectorAssembler on
  * the 80% split), an index-build-shaped cost cached per scale dir;
  * at the 100 TB tier the train split is further hash-sampled (the
  * classifier needs ~10⁶ rows to converge, not the corpus) — the
  * fraction is a knob, full split here where the harness corpus is
  * tiny.
  *
  * Determinism: the split and feature hashing are portable xxhash64
  * arithmetic; LR's L-BFGS trajectory is seeded and data-deterministic
  * up to float partial-agg order, so the driver-facing gate pins
  * BANDED verdicts (AUC floors with fat margins), never raw
  * coefficients — the [[graft.queries.MlQueries.qMlQualityBounds]]
  * doctrine. */
object QualityModel {

  /** Feature-hash width. The harness vocabulary is ~31 unigrams +
    * ~10³ bigrams, so 256 buckets keep collisions rare while the
    * weight table stays a trivially-broadcast 256-row frame; widen to
    * 2^18+ for a real web corpus (the weight join is width-oblivious:
    * it shuffles only (bucket, w) pairs). */
  val Dim = 256

  /** The heuristic rater the classifier distills — qRaterAgreement's
    * keep conjunction via the ONE shared definition
    * ([[TextAnalysis.keepConjunction]]), so the two surfaces can't
    * drift (r14 ADVICE: this was a second spelled-out copy). */
  def heuristicLabel(text: Column, nChars: Column): Column =
    TextAnalysis.keepConjunction(text, nChars).cast("int")

  /** Per-doc hashed n-gram counts: doc_id, bucket ∈ [0, Dim), tf.
    * Unigrams + adjacent bigrams (zip_with over two slices — pure
    * Catalyst, no UDF); terms land in buckets via
    * `pmod(xxhash64(term), Dim)`. One explode + one
    * partial-aggregable groupBy — corpus-proportional but narrow
    * (two longs + a double per row past the explode). */
  def termBuckets(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(concat(col("toks"),
          when(size(col("toks")) >= 2,
            zip_with(
              slice(col("toks"), lit(1), size(col("toks")) - 1),
              slice(col("toks"), lit(2), size(col("toks")) - 1),
              (a, b) => concat_ws(" ", a, b)))
            .otherwise(array()))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"),
        pmod(xxhash64(col("term")), lit(Dim.toLong)).cast("int").as("bucket"))
      .agg(count(lit(1)).cast("double").as("tf"))
  }

  /** Labeled + split documents frame: doc_id, text, label, is_holdout
    * (portable 80/20 hash split — layout-independent, replayable). */
  def labeled(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("text"),
      heuristicLabel(col("text"), col("n_chars")).as("label"),
      (pmod(xxhash64(col("doc_id")), lit(5L)) === 4L).as("is_holdout"))

  final case class Fit(weights: Array[Double], bias: Double,
      auc: Double, nTrain: Long, nHold: Long)

  /** Fit per scale dir (build-once, BuildTimes-reported). The pivot
    * densifies ONLY the train split; the fitted coefficients are Dim
    * doubles — the one documented driver-side collect here. Holdout
    * AUC is computed through the BROADCAST-WEIGHT scoring path (not
    * model.transform) so the gate certifies the exact path production
    * scoring uses. */
  def fit(s: SparkSession, d: String): Fit =
    graft.BuildTimes.once("quality_classifier_fit", d) {
      val lab = labeled(s, d)
      val train = lab.filter(!col("is_holdout"))
      val cols = (0 until Dim).map(_.toString)
      // labels LEFT-join the pivot (zero-filling features), not the
      // reverse: a zero-term doc has no termBuckets row, and an
      // inner join would silently drop it from training while
      // scoring still assigns it the bias — a train/serve skew on
      // exactly the always-label-0 negatives (r14 ADVICE)
      val wide = train.select(col("doc_id"), col("label"))
        .join(termBuckets(train)
          .groupBy(col("doc_id")).pivot("bucket", 0 until Dim)
          .agg(sum(col("tf"))), Seq("doc_id"), "left")
        .na.fill(0.0)
      val assembled = new VectorAssembler()
        .setInputCols(cols.toArray).setOutputCol("features")
        .transform(wide)
      val lr = new LogisticRegression()
        .setFeaturesCol("features").setLabelCol("label")
        .setMaxIter(60).setRegParam(1e-3).setStandardization(true)
        .fit(assembled)
      val w = lr.coefficients.toArray
      val f0 = Fit(w, lr.intercept, Double.NaN,
        train.count(), lab.filter(col("is_holdout")).count())
      val scored = scoreWith(s, lab.filter(col("is_holdout")), f0)
      val auc =
        new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
          .setRawPredictionCol("score").setLabelCol("label")
          .setMetricName("areaUnderROC")
          .evaluate(scored.select(col("label").cast("double").as("label"),
            col("score")))
      f0.copy(auc = auc)
    }

  /** Broadcast-weight scoring of a labeled frame: logit wx + b per
    * doc via bucket-join + sum (docs with no terms keep the bias).
    * The weight side is Dim rows — always broadcast; the only
    * corpus-proportional shuffle is the per-doc partial-aggregable
    * sum. */
  def scoreWith(s: SparkSession, lab: DataFrame, f: Fit): DataFrame = {
    import s.implicits._
    val wDf = f.weights.zipWithIndex
      .map { case (w, i) => (i, w) }.toSeq.toDF("bucket", "w")
    val wx = termBuckets(lab)
      .join(broadcast(wDf), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("w")).as("wx"))
    lab.select(col("doc_id"), col("label"), col("is_holdout"))
      .join(wx, Seq("doc_id"), "left")
      .select(col("doc_id"), col("label"), col("is_holdout"),
        (coalesce(col("wx"), lit(0.0)) + lit(f.bias)).as("score"))
  }

  /** Corpus-wide scored frame for the release row. */
  def score(s: SparkSession, d: String): DataFrame =
    scoreWith(s, labeled(s, d), fit(s, d))
      .select(col("doc_id"), col("label"), col("is_holdout"),
        col("score"), (col("score") > 0).as("keep"))
      .orderBy(col("doc_id"))
}

package graft.bench

import org.apache.spark.sql.functions._
import graft.text.Dedup

/** Dev-only probe behind the soak's editdist/simhash exponents: where
  * does the candidate volume come from as the corpus scales — gram/band
  * bucket quadratics, the low-entropy fallback, or verify cost — and
  * what Hamming distances do the PLANTED near-dup pairs actually have
  * (the recall side of any banding change). */
object SoakProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val IdOffset = graft.queries.DedupQueries.IdOffset
    val scales = (if (args.isEmpty) Seq("1,3,10,30") else args.toSeq)
      .flatMap(_.split(",")).map(_.trim.toInt)
    scales.foreach { sc =>
      val dir = s"scale=${sc}x"
      val docs = Soak.scaledDocs(spark, "/root/testdata/sf0.1", sc)
        .select(col("doc_id"), col("text"))
        .repartition(math.max(4, sc * 4))
        .localCheckpoint(true)
      // --- editdist corpus (mirror of qDedupEditdist) ---
      val titles = docs.select(col("doc_id"),
        concat(col("doc_id").cast("string"), lit(":"),
          substring(col("text"), 1, 11)).as("title"))
      val mutated = titles.select((col("doc_id") + IdOffset).as("doc_id"),
        concat(lit("X"), substring(col("title"), 2, 100)).as("title"))
      val base = titles.union(mutated)
        .withColumn("len", length(col("title")))
        .localCheckpoint(true)
      // GRAFT_PROBE_GRAMS=1 measures the legacy gram path instead of
      // the FastSS deletion-neighborhood dispatch editDistancePairs
      // actually takes at maxDist<=2
      val nCand =
        if (sys.env.contains("GRAFT_PROBE_GRAMS")) {
          val qGram = sys.env.getOrElse("GRAFT_PROBE_Q", "3").toInt
          Dedup.editDistanceCandidates(base, 1, qGram, "title", "doc_id",
            0.1, dedupe = false).count()
        } else
          Dedup.fastSsCandidates(base, 1, "title", "doc_id").count()
      // --- simhash corpus (mirror of corpusNear) ---
      val near = docs.union(docs.select((col("doc_id") + IdOffset).as("doc_id"),
        concat_ws(" ", slice(Dedup.tokens(col("text")), 2, 100000)).as("text")))
      val fp = Dedup.simhash(near).localCheckpoint(true)
      val n = fp.count()
      // band-bucket candidate volume for 8x16-bit banding over 128 bits
      val bandVol = (0 until 8).map { b =>
        val src = if (b < 4) col("simhash_lo") else col("simhash_hi")
        fp.select(shiftright(src, (b % 4) * 16).bitwiseAND(65535).as("key"))
          .groupBy(col("key")).agg(count(lit(1)).as("m"))
          .agg(sum(col("m") * (col("m") - 1) / 2)).head().getDouble(0).toLong
      }.sum
      // planted pair hamming: doc vs doc+IdOffset
      val a = fp.select(col("doc_id"),
        col("simhash_hi").as("hi_a"), col("simhash_lo").as("lo_a"))
      val b = fp.select((col("doc_id") - IdOffset).as("doc_id"),
        col("simhash_hi").as("hi_b"), col("simhash_lo").as("lo_b"))
      val ham = a.join(b, "doc_id")
        .select((bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).as("h"))
      val q = ham.stat.approxQuantile("h", Array(0.5, 0.9, 0.95, 0.99), 0.0)
      println(s"[probe] dir=$dir editdist_raw_cand=$nCand simhash_n=$n " +
        s"band_vol=$bandVol planted_hamming_p50/90/95/99=${q.mkString("/")}")
    }
    spark.stop()
  }
}

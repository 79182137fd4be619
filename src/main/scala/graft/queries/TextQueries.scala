package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.TextAnalysis

/** Text-analysis operators over the harness `documents` table, with
  * DuckDB oracles where the expression algebra is portable (token
  * counts, quality ratios, normalization, language-ID). The raw
  * fingerprint VALUES stay rows-only (xxhash64 has no SQL twin), but
  * the fingerprint's equivalence-class STRUCTURE is fully oracled by
  * [[qFingerprintClasses]]: partitioning a perturbed corpus by
  * fingerprint must coincide exactly with partitioning by the true
  * normalized token sequence.
  */
object TextQueries {

  /** The (doc_id, text) load of the shingle-screen family, hash-spread
    * across cores ([[graft.ops.Spread.perRow]]): the containment
    * screens funnel the whole corpus through a narrow per-row shingle
    * explode whose scan is a single task on the harness's one-row-group
    * files — the r20 A/B measured the spread at −4 s on each
    * containment gate while leaving multi-join pipelines alone. */
  private def docsSpread(s: SparkSession, d: String): DataFrame =
    graft.ops.Spread.perRow(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      col("doc_id"))

  /** Token counting: whitespace tokens + BPE-ish subword units. */
  def qTextTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  val qTextTokensSql: String =
    """SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_ws_tokens,
      |  len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS n_bpe_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Per-document character-level Shannon entropy — the quality signal
    * that catches what token statistics miss: near-zero entropy flags
    * repeated-character/boilerplate junk, abnormally high entropy flags
    * minified blobs and binary-ish noise (both standard pre-training
    * filter axes alongside perplexity).
    *
    * Scale shape: computed ENTIRELY inside each row with higher-order
    * array functions — a pure projection over the scan, no explode, no
    * shuffle (the explode+groupBy spelling would shuffle |total chars|
    * rows). Counting is a single run-length fold over the SORTED char
    * array, O(L log L) per row — the per-distinct `filter` re-scan
    * (O(|alphabet|·L)) measured 4.8 s vs ~1 s at sf0.1. Run terms
    * accumulate in sorted-char order, the same order as the oracle's
    * sorted-distinct fold, so the float sum is engine-identical and the
    * rounded entropy hash-checks. */
  def qCharEntropy(s: SparkSession, d: String): DataFrame =
    graft.ops.Spread.perRow(Tables.documents(s, d), col("doc_id"))
      .withColumn("n", length(col("text")).cast("double"))
      .select(col("doc_id"),
        when(length(col("text")) === 0, lit(0.0))
          .otherwise(round(expr(
            """aggregate(array_sort(split(text, '')),
              |  named_struct('prev', '', 'run', 0D, 'acc', 0D),
              |  (st, c) -> IF(c = st.prev,
              |    named_struct('prev', st.prev, 'run', st.run + 1D, 'acc', st.acc),
              |    named_struct('prev', c, 'run', 1D,
              |      'acc', st.acc - IF(st.run = 0D, 0D,
              |                         (st.run / n) * log2(st.run / n)))),
              |  st -> st.acc - IF(st.run = 0D, 0D,
              |                    (st.run / n) * log2(st.run / n)))""".stripMargin), 9))
          .as("char_entropy"))
      .orderBy(col("doc_id"))

  val qCharEntropySql: String =
    """WITH c AS (
      |  SELECT doc_id, text, string_split(text, '') AS ch FROM documents
      |), w AS (
      |  SELECT doc_id, text, CAST(len(ch) AS DOUBLE) AS n,
      |    list_transform(list_sort(list_distinct(ch)),
      |                   c2 -> len(list_filter(ch, x -> x = c2))) AS ks
      |  FROM c
      |)
      |SELECT doc_id,
      |  CASE WHEN length(text) = 0 THEN 0.0
      |       ELSE round(list_sum(list_transform(ks, k -> -(k / n) * log2(k / n))), 9)
      |  END AS char_entropy
      |FROM w
      |ORDER BY doc_id""".stripMargin

  /** Quality signals + composite score per document. */
  def qTextQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.withQualitySignals(Tables.documents(s, d))
      .select(col("doc_id"), col("n_chars").as("len_chars"), col("n_tokens"),
        col("avg_token_len"), col("alpha_ratio"), col("punct_ratio"),
        col("stopword_ratio"), col("quality_score"))
      .orderBy(col("doc_id"))

  val qTextQualitySql: String = {
    val stop = TextAnalysis.langProfiles.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  length(text) AS len_chars,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens,
       |  CASE WHEN n_tokens > 0 THEN CAST(length(text) AS DOUBLE) / n_tokens ELSE 0.0 END AS avg_token_len,
       |  CASE WHEN length(text) > 0
       |       THEN CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) / length(text)
       |       ELSE 0.0 END AS alpha_ratio,
       |  CASE WHEN length(text) > 0
       |       THEN CAST(length(regexp_replace(text, '[^\\p{P}\\p{S}]', '', 'g')) AS DOUBLE) / length(text)
       |       ELSE 0.0 END AS punct_ratio,
       |  CASE WHEN n_tokens > 0
       |       THEN CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                  t -> list_contains($stop, t))) AS DOUBLE) / n_tokens
       |       ELSE 0.0 END AS stopword_ratio,
       |  least(1.0, greatest(0.0,
       |    0.25 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
       |    + 0.25 * alpha_ratio
       |    + 0.25 * (1.0 - punct_ratio)
       |    + 0.25 * least(stopword_ratio * 5.0, 1.0))) AS quality_score
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Canonical normalization pass over the corpus — lowercased,
    * punctuation stripped, whitespace collapsed — with the token count
    * after cleaning. */
  def qTextNormalize(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.normalize(col("text")).as("text_norm"))
      .withColumn("n_norm_tokens", TextAnalysis.wsTokenCount(col("text_norm")))
      .orderBy(col("doc_id"))

  val qTextNormalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]+', ' ', 'g'),
      |       '\s+', ' ', 'g')) AS text_norm,
      |  CASE WHEN length(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]+', ' ', 'g'),
      |       '\s+', ' ', 'g'))) = 0 THEN 0
      |       ELSE len(string_split_regex(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]+', ' ', 'g'),
      |       '\s+', ' ', 'g')), '\s+')) END AS n_norm_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Language ID over the corpus. The argmax-of-stopword-hits
    * heuristic is pure list algebra, so the DuckDB twin below replays
    * it exactly; the SQL is GENERATED from [[TextAnalysis.langProfiles]]
    * so the two surfaces cannot drift. */
  def qTextLangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  /** DuckDB twin of [[TextAnalysis.langId]], generated from the same
    * profile table: per-language score = |distinct tokens ∩ profile|,
    * argmax with ties broken in profile order, all-zero → "und". */
  val qTextLangIdSql: String = {
    val scoreCols = TextAnalysis.langProfiles.map { case (lang, prof) =>
      val lits = prof.map(w => s"'$w'").mkString(", ")
      s"    len(list_intersect(toks, [$lits])) AS s_$lang"
    }.mkString(",\n")
    val best = TextAnalysis.langProfiles.map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
    val whens = TextAnalysis.langProfiles.map { case (lang, _) =>
      s"    WHEN s_$lang = best THEN '$lang'"
    }.mkString("\n")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id,
       |$scoreCols
       |  FROM t
       |), b AS (
       |  SELECT doc_id, *, $best AS best FROM sc
       |)
       |SELECT doc_id, CASE
       |    WHEN best = 0 THEN 'und'
       |$whens
       |  END AS lang_pred
       |FROM b
       |ORDER BY doc_id""".stripMargin
  }

  /** Chunk-level language-mixture profile over a planted
    * code-switched corpus — the segment-granular language ID a
    * multilingual pipeline needs where doc-level langid smears: a
    * document that switches language mid-way (translations, quoted
    * sources, boilerplate in a second language) should be ROUTED or
    * SPLIT, not labeled with whichever language wins the global vote.
    * The corpus has no mixed docs, so each doc is concatenated with
    * its rotation partner ((doc_id + 17) mod N — frequently a
    * different language), the mixed text chunks into non-overlapping
    * 32-token windows ([[graft.text.Chunker]]), each chunk votes via
    * [[TextAnalysis.langId]], and the per-doc profile reports chunk
    * count, distinct languages, the dominant language (ties broken by
    * the larger code — replayed identically by the twin), its chunk
    * count, and the is_mixed verdict.
    *
    * Scale shape: the partner join is an equi-join on a computed key
    * (one shuffle of (id, text)); chunking is an in-row explode
    * bounded by doc length; votes are two partial-aggregable
    * groupBys (doc×lang ≤ 5 rows per doc). The oracle replays
    * everything — rotation, chunker, the profile-generated argmax,
    * the vote — so the whole composition is hash-gated. */
  def qLangidMixture(s: SparkSession, d: String): DataFrame = {
    val docs = graft.ops.Spread.perRow(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val b = Tables.documents(s, d)
      .select(col("doc_id").as("b_id"), col("text").as("text_b"))
    val mixed = docs.withColumn("b_id", (col("doc_id") + 17) % n)
      .join(b, "b_id")
      .select(col("doc_id"), concat(col("text"), lit(" "), col("text_b")).as("text"))
    val votes = graft.text.Chunker.chunk(mixed, sizeTokens = 32, stride = 32)
      .select(col("doc_id"), TextAnalysis.langId(col("chunk_text")).as("lang"))
      .groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("c"))
    votes.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chunks"),
        count(lit(1)).as("n_langs"),
        max(struct(col("c"), col("lang"))).as("_top"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("_top.lang").as("dom_lang"), col("_top.c").as("dom_chunks"),
        (col("n_langs") > 1).as("is_mixed"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin — rotation partner, 32/32 chunker, and the
    * profile-generated langid argmax all replayed; dominant-language
    * tie-break = (count DESC, lang DESC), matching Spark's
    * max(struct(c, lang)). */
  val qLangidMixtureSql: String = {
    val scoreCols = TextAnalysis.langProfiles.map { case (lang, prof) =>
      val lits = prof.map(w => s"'$w'").mkString(", ")
      s"    len(list_intersect(list_distinct(ctoks), [$lits])) AS s_$lang"
    }.mkString(",\n")
    val best = TextAnalysis.langProfiles.map(p => s"s_${p._1}")
      .mkString("greatest(", ", ", ")")
    val whens = TextAnalysis.langProfiles.map { case (lang, _) =>
      s"    WHEN s_$lang = best THEN '$lang'"
    }.mkString("\n")
    s"""WITH nn AS (SELECT count(*) AS n FROM documents),
       |mixed AS (
       |  SELECT a.doc_id, a.text || ' ' || b.text AS text
       |  FROM documents a CROSS JOIN nn
       |  JOIN documents b ON b.doc_id = (a.doc_id + 17) % nn.n
       |), toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
       |  FROM mixed
       |), sized AS (
       |  SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) > 0
       |), chunks AS (
       |  SELECT doc_id, u.k AS chunk_id,
       |    list_slice(toks, u.k * 32 + 1, u.k * 32 + 32) AS ctoks
       |  FROM sized,
       |    unnest(generate_series(0, greatest(0, CAST(ceil((n - 32) / 32.0) AS INT)))) AS u(k)
       |), sc AS (
       |  SELECT doc_id, chunk_id,
       |$scoreCols
       |  FROM chunks
       |), b2 AS (SELECT *, $best AS best FROM sc),
       |lid AS (
       |  SELECT doc_id, CASE
       |      WHEN best = 0 THEN 'und'
       |$whens
       |    END AS lang
       |  FROM b2
       |), votes AS (
       |  SELECT doc_id, lang, count(*) AS c FROM lid GROUP BY doc_id, lang
       |), ranked AS (
       |  SELECT doc_id, lang, c,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lang DESC) AS rn,
       |    CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_chunks,
       |    count(*) OVER (PARTITION BY doc_id) AS n_langs
       |  FROM votes
       |)
       |SELECT doc_id, n_chunks, n_langs, lang AS dom_lang, c AS dom_chunks,
       |  n_langs > 1 AS is_mixed
       |FROM ranked WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** Train/eval contamination check — the decontamination op every
    * training-data pipeline runs before an eval release: for each eval
    * document (odd doc_id), the fraction of its distinct token
    * trigrams that also occur anywhere in the train split (even
    * doc_id).
    *
    * Scale shape: shingles flow through ONE distinct + ONE join on the
    * shingle key; the train side collapses to distinct shingles
    * (partial-aggregable) before the join. This oracle-checked tier
    * keeps literal trigram strings as keys; the 100 TB variant hashes
    * them to 8-byte longs first (`graft.text.Dedup` shingle machinery)
    * so only fixed-width keys shuffle — same plan, narrower rows. */
  def qContamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // persisted pre-explode for the same two reasons as the hashed tier
    // below: one shingle computation feeds both the train and eval
    // branches, and the persist is an optimizer barrier against
    // InferFiltersFromGenerate re-evaluating the shingle transform
    // inside the filter pushed under the explode
    val shingled = docs
      .withColumn("shingles",
        when(size(col("toks")) >= 3,
          expr("transform(sequence(1, size(toks)-2), i -> concat_ws(' ', slice(toks, i, 3)))"))
          .otherwise(expr("cast(array() as array<string>)")))
      .select(col("doc_id"), col("shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = shingled.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val train = sh.filter(col("doc_id") % 2 === 0).select(col("sh")).distinct()
      .withColumn("hit", lit(1))
    val ev = sh.filter(col("doc_id") % 2 === 1).distinct()
    val agg = ev.join(train, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_contaminated"))
    Tables.documents(s, d).filter(col("doc_id") % 2 === 1).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          col("n_contaminated").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("contamination_ratio"))
      .orderBy(col("doc_id"))
  }

  val qContaminationSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), sh AS (
      |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
      |  FROM d, unnest(range(1, greatest(len(toks)-1, 1))) t(i)
      |), tr AS (
      |  SELECT DISTINCT sh FROM sh WHERE doc_id % 2 = 0
      |), ev AS (
      |  SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 2 = 1
      |), agg AS (
      |  SELECT doc_id, count(*) AS n_shingles,
      |    count(*) FILTER (WHERE sh IN (SELECT sh FROM tr)) AS n_contaminated
      |  FROM ev GROUP BY doc_id
      |)
      |SELECT docs.doc_id,
      |  coalesce(agg.n_shingles, 0) AS n_shingles,
      |  coalesce(agg.n_contaminated, 0) AS n_contaminated,
      |  CASE WHEN coalesce(agg.n_shingles, 0) > 0
      |       THEN CAST(agg.n_contaminated AS DOUBLE) / agg.n_shingles
      |       ELSE 0.0 END AS contamination_ratio
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) docs
      |LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** 100 TB tier of [[qContamination]]: identical plan (distinct + one
    * equi-join keyed by shingle), but trigrams are xxhash64'd to 8-byte
    * longs via the `graft.text.Dedup` token-hash machinery BEFORE any
    * shuffle — no literal trigram string is ever built or shuffled
    * (each token is hashed once; a trigram's key is the hash of its
    * three token hashes). Output values are identical to the literal
    * tier up to 64-bit collisions (P ≈ (#distinct trigrams)²/2⁶⁵ —
    * vanishing at any real corpus size), so it shares the literal
    * tier's DuckDB oracle; TextQueriesSpec additionally asserts
    * row-identical output against [[qContamination]]. */
  def qContaminationHashed(s: SparkSession, d: String): DataFrame = {
    val pre = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // persisted for the same two reasons as ngramJaccardPairs' docSets:
    // the train and eval branches each scan this frame (one computation
    // instead of two), and the persist is an optimizer barrier against
    // InferFiltersFromGenerate re-evaluating the whole hash pipeline
    // inside the filter pushed under the explode (measured 11s → ~2s at
    // sf0.1). Cache contract as elsewhere: Bench/Verify clearCache.
    val docSets = graft.text.Dedup
      .shingleHashFrameTok(pre, 3, "doc_id", shortDocWholeText = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = docSets.select(col("doc_id"), explode(col("sh")).as("sh"))
    val train = sh.filter(col("doc_id") % 2 === 0).select(col("sh")).distinct()
      .withColumn("hit", lit(1))
    val ev = sh.filter(col("doc_id") % 2 === 1)
    val agg = ev.join(train, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_contaminated"))
    Tables.documents(s, d).filter(col("doc_id") % 2 === 1).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          col("n_contaminated").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("contamination_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-pre-filtered tier of [[qContaminationHashed]] — the shape
    * that survives a 100 TB train split. The eval split (the SMALL
    * side: eval benchmarks are thousands of docs) aggregates its
    * distinct shingle hashes into a few-MB bloom sketch
    * ([[graft.functions.Bloom]], one partial-aggregable pass, one-row
    * result returned to the driver — the same small-collect contract
    * as the IVF centroid table); the sketch is inlined as a constant
    * into the `might_contain` probe (the bloom side of that expression
    * must be a constant or scalar subquery — this is exactly how
    * Spark's own runtime-filter injection ships its blooms), and the
    * probe drops every train shingle the sketch rules out BEFORE the
    * train-side distinct. The heavy shuffle shrinks from all-of-train to
    * (≈2% false positives × train + true overlaps); no false
    * negatives means no lost hits, and surviving false positives fail
    * the exact join that follows — so the output is row-identical to
    * the hashed tier and shares the literal tier's DuckDB oracle.
    * TextQueriesSpec asserts tier equivalence and the pre-filter's
    * place in the plan. */
  def qContaminationBloom(s: SparkSession, d: String): DataFrame = {
    val pre = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // same persist rationale as the hashed tier (shared by both
    // branches; optimizer barrier against re-evaluating the hash
    // pipeline under the explode)
    val docSets = graft.text.Dedup
      .shingleHashFrameTok(pre, 3, "doc_id", shortDocWholeText = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = docSets.select(col("doc_id"), explode(col("sh")).as("sh"))
    val ev = sh.filter(col("doc_id") % 2 === 1)
    // bloom over the eval side's distinct shingles, sized from an
    // approx count of that side (it's the small side — the sketch pass
    // is cheap, and sizing to the data keeps the filter at ~1 byte per
    // item instead of a guessed constant that is either bloated or
    // saturated); one job computes count + sketch-input together
    val evKeys = ev.select(col("sh")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEval = math.max(evKeys.count(), 1L)
    val bloomBytes = evKeys
      .agg(graft.functions.Bloom.bloomAgg(col("sh"), nEval).as("bloom"))
      .head().getAs[Array[Byte]]("bloom")
    evKeys.unpersist()
    val train = sh.filter(col("doc_id") % 2 === 0).select(col("sh"))
      .filter(graft.functions.Bloom.mightContain(lit(bloomBytes), col("sh")))
      .distinct()
      .withColumn("hit", lit(1))
    val agg = ev.join(train, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_contaminated"))
    Tables.documents(s, d).filter(col("doc_id") % 2 === 1).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          col("n_contaminated").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("contamination_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Fixture for the NEAR-DUP contamination tiers: the eval batch =
    * the held-out odd docs (natural overlap only) ∪ PLANTED paraphrased
    * leaks — each train (even) doc re-offered with its first or last
    * token dropped, at a disjoint id offset. A first/last-token drop is
    * the minimal paraphrase the EXACT tiers already mis-read: the doc
    * is not a verbatim trigram subset, so threshold decisions on
    * qContamination's overlap ratio blur, while its shingle-set
    * Jaccard vs the original stays ≈ (n−3)/(n−2) — exactly what a
    * near-dup screen is for. */
  private[graft] def fuzzyEvalBatch(docs: DataFrame, offsetMult: Int,
      dropLast: Boolean): DataFrame = {
    val toks = graft.text.Dedup.tokens(col("text"))
    val kept =
      if (dropLast) slice(toks, lit(1), greatest(size(toks) - 1, lit(1)))
      else slice(toks, lit(2), lit(100000))
    docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + offsetMult * DedupQueries.IdOffset).as("doc_id"),
          concat_ws(" ", kept).as("text")))
  }

  /** Near-dup eval contamination — the GPT-3-style decontamination the
    * exact trigram tiers cannot express (Brown et al. NeurIPS'20 §C:
    * eval leakage is usually PARAPHRASED, not verbatim): every eval
    * document within shingle-Jaccard 0.7 of ANY train document, found
    * by banding both tables with the SAME fixed-seed MinHash families
    * ([[graft.text.Dedup.minhashIndex]]) and equi-joining eval bands
    * against train bands only — [[graft.text.Dedup.crossMinhashPairs]]:
    * no eval↔eval or train↔train candidates, shingle sets attach only
    * to deduped candidate pairs, and the only corpus-wide shuffles are
    * 8-byte band keys. Train is the even docs; the eval batch plants
    * one first-token-dropped paraphrase per train doc
    * ([[fuzzyEvalBatch]]) alongside the held-out odd docs.
    *
    * Rows-only (LSH bucket layout is not SQL-reproducible); the
    * driver-visible guarantees are [[qContaminationFuzzyBounds]]'s
    * recall floor against the exact PPJoin tier and the planted-leak
    * completeness check. */
  def qContaminationFuzzy(s: SparkSession, d: String): DataFrame = {
    // one checkpointed derivation feeds the train branch and BOTH eval
    // branches (odd docs + perturbed evens) — un-cut, each banding
    // replays the documents scan per branch (ScanCountSpec caught the
    // draft at 9 scans; the r12 shared-subframe discipline)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val ev = fuzzyEvalBatch(docs, 3, dropLast = false)
    val (tb, ts) = graft.text.Dedup.minhashIndex(train)
    val (eb, es) = graft.text.Dedup.minhashIndex(ev)
    graft.text.Dedup.crossMinhashPairs(eb, es, tb, ts, maxJaccardDist = 0.3)
      .select(col("id_a").as("eval_id"), col("id_b").as("train_id"),
        round(col("jaccard_dist"), 6).as("jaccard_dist"))
      .orderBy(col("eval_id"), col("train_id"))
  }

  // one persisted train band-index generation per (process, scale
  // dir): the artifact under test is the parquet round-trip + the
  // delta-only banding (train is never re-shingled per eval batch)
  private def fuzzyTrainIndexDir(s: SparkSession, d: String): String =
    graft.BuildTimes.onceDir("fuzzy_train_index_build", d) { p =>
      val train = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 2 === 0)
      val (tb, tsets, handle) = graft.text.Dedup
        .minhashIndexWithHandle(train)
      tb.write.mode("overwrite").parquet(s"$p/bands")
      tsets.write.mode("overwrite").parquet(s"$p/sets")
      handle.unpersist()
      p
    }

  /** Incremental member of the fuzzy-decontamination contract: a NEW
    * eval batch (last-token-dropped paraphrases at a different offset
    * ∪ the odd docs) screens against the train band index RELOADED
    * from parquet — the daily-eval-release shape where the 100 TB
    * train side is never re-shingled, re-signed, or re-banded; only
    * the eval batch (thousands of docs) pays a scan, and the band join
    * touches history rows only where a key collides. The fixed-seed
    * hash families make any run's bands compatible with the persisted
    * generation ([[graft.text.Dedup.minhashIndex]]'s contract).
    * [[qContaminationFuzzyBounds]] proves output equality with the
    * from-scratch screen of the same batch. */
  def qContaminationFuzzyInc(s: SparkSession, d: String): DataFrame = {
    // same shared-subframe cut as qContaminationFuzzy (the delta's two
    // eval branches both read documents)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val dir = fuzzyTrainIndexDir(s, d)
    val tb = s.read.parquet(s"$dir/bands")
    val ts = s.read.parquet(s"$dir/sets")
    val ev = fuzzyEvalBatch(docs, 4, dropLast = true)
    val (eb, es) = graft.text.Dedup.minhashIndex(ev)
    graft.text.Dedup.crossMinhashPairs(eb, es, tb, ts, maxJaccardDist = 0.3)
      .select(col("id_a").as("eval_id"), col("id_b").as("train_id"),
        round(col("jaccard_dist"), 6).as("jaccard_dist"))
      .orderBy(col("eval_id"), col("train_id"))
  }

  /** Fail-closed gate for both fuzzy-decontamination tiers:
    * (1) recall floor vs the EXACT tier — the PPJoin n-gram join
    * ([[graft.text.Dedup.ngramJaccardPairs]], recall exactly 1.0 by
    * the prefix-filter theorem) over train ∪ eval restricted to
    * cross-table pairs is the truth set; the banded screen must
    * recover ≥ 0.95 of it (16 hashes / 8 bands: P[catch] =
    * 1−(1−J²)⁸ ≥ 0.995 at the J = 0.7 threshold — the measured margin
    * is structural, not tuned); (2) every planted paraphrase is
    * flagged WITH its own original among its matches (leak
    * completeness — the check an exact-trigram threshold can blur);
    * (3) the incremental screen of the second batch equals the
    * from-scratch screen of that same batch as a SET (the
    * incremental-contract equality, bit-exact because the hash
    * families are fixed-seed); (4) the PERSISTED train band index —
    * the parquet generation [[qContaminationFuzzyInc]] actually reads
    * — carries verbatim against a fresh banding of train (bands at
    * row grain, shingle sets at exploded grain — array order is not
    * part of the contract): a silent re-banding, a parquet round-trip
    * that dropped precision, or a seed drift between the build and
    * probe paths flips this row even while the screen outputs happen
    * to agree (the q_entity_resolution_inc_bounds
    * `state_carried_verbatim` pattern, r16 verdict directive).
    * Guards fail closed on empty truth or planted sets. */
  def qContaminationFuzzyBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val ev = fuzzyEvalBatch(docs, 3, dropLast = false)
    // exact-tier truth: PPJoin pairs at the same J >= 0.7 threshold,
    // restricted to (eval, train) cross pairs. Train ids are even and
    // < 3*IdOffset; planted eval ids are >= 3*IdOffset; odd ids are
    // eval. ngramJaccardPairs emits id_a < id_b, so normalize sides.
    val cut = 3 * DedupQueries.IdOffset
    val isTrain = (c: org.apache.spark.sql.Column) =>
      c < cut && c % 2 === 0
    val ev2 = fuzzyEvalBatch(docs, 4, dropLast = true)
    val (tb2, ts2) = graft.text.Dedup.minhashIndex(train)
    val (eb2, es2) = graft.text.Dedup.minhashIndex(ev2)
    // the four tier pipelines (exact-tier truth, the registered fuzzy
    // screen, the incremental screen, the from-scratch screen of the
    // same batch) are independent — their eager cuts fork per guide
    // §2.6 instead of running as four sequential checkpoints. The
    // scratch leg also materializes tb2/ts2's internal signature
    // caches, which the drift readouts below then reuse (same caching
    // order the sequential spelling had).
    val Seq(truth, fuzzy, inc, scratch) = graft.ops.Par.eagerly[DataFrame](
      () => graft.text.Dedup
        .ngramJaccardPairs(train.unionByName(ev), k = 3, minJaccard = 0.7)
        .filter(isTrain(col("id_a")) =!= isTrain(col("id_b")))
        .select(
          when(isTrain(col("id_a")), col("id_b")).otherwise(col("id_a")).as("eval_id"),
          when(isTrain(col("id_a")), col("id_a")).otherwise(col("id_b")).as("train_id"))
        .localCheckpoint(true),
      () => qContaminationFuzzy(s, d).localCheckpoint(true),
      // incremental == from-scratch on the second eval batch
      () => qContaminationFuzzyInc(s, d).localCheckpoint(true),
      () => graft.text.Dedup
        .crossMinhashPairs(eb2, es2, tb2, ts2, maxJaccardDist = 0.3)
        .select(col("id_a").as("eval_id"), col("id_b").as("train_id"),
          round(col("jaccard_dist"), 6).as("jaccard_dist"))
        .localCheckpoint(true))
    // Multiset symmetric difference as ONE ±1-weighted groupBy over
    // a∪b — half the shuffle of the former two-exceptAll spelling
    // (same move qContaminationContainmentBounds made in r19; the
    // gate only consumes "== 0", which both spellings agree on:
    // zero iff the multisets are equal).
    def symDiff(a: DataFrame, b: DataFrame): Long =
      graft.ops.Diff.symDiffCount(a, b)
    // state provenance: the persisted generation the _inc screen reads
    // must equal a fresh banding of train verbatim (tb2/ts2 are already
    // in hand from the scratch screen — the check costs two parquet
    // reads and two weighted-groupBy diffs, no new banding)
    val idxDir = fuzzyTrainIndexDir(s, d)
    def setGrain(f: DataFrame): DataFrame =
      f.select(col("doc_id"), explode(col("sh")).as("h"))
    // Every readout consumes eagerly-cut frames (or the shared lazily-
    // persisted signature caches) and none depends on another — one
    // concurrent batch per guide §2.6: the gate's wall is ~the slowest
    // readout, not the sum of seven.
    val Seq(nTruth, hit, nPlanted, plantedHits, diffs, driftBands,
        driftSets) = graft.ops.Par.eagerly(
      () => truth.count(),
      () => truth.join(fuzzy.select(col("eval_id"), col("train_id")),
        Seq("eval_id", "train_id"), "left_semi").count(),
      () => train.count(),
      () => fuzzy.filter(col("eval_id") >= cut &&
        col("train_id") === col("eval_id") - cut).count(),
      () => symDiff(inc, scratch),
      () => symDiff(s.read.parquet(s"$idxDir/bands"), tb2),
      () => symDiff(setGrain(s.read.parquet(s"$idxDir/sets")), setGrain(ts2)))
    val recall = if (nTruth == 0) 0.0 else hit.toDouble / nTruth
    val idxDrift = driftBands + driftSets
    val ok = nTruth > 0 && nPlanted > 0
    Seq(
      ("incremental_equals_scratch", ok && diffs == 0L),
      ("planted_leaks_all_flagged", ok && plantedHits == nPlanted),
      ("recall_floor_vs_exact_tier", ok && recall >= 0.95),
      ("train_index_carried_verbatim", ok && idxDrift == 0L))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qContaminationFuzzyBoundsSql: String =
    """SELECT * FROM (VALUES ('incremental_equals_scratch', true),
      |  ('planted_leaks_all_flagged', true),
      |  ('recall_floor_vs_exact_tier', true),
      |  ('train_index_carried_verbatim', true))
      |  t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  /** Fixture for the CONTAINMENT tier: the eval batch = the held-out
    * odd docs ∪ PLANTED EMBEDDED evals — for every train (even) doc of
    * ≥ 36 tokens, a 16-token excerpt (tokens 4–19) prefixed with one
    * novel marker token, at a disjoint id offset. The excerpt's
    * trigrams are all train trigrams (a contiguous slice contributes
    * only trigrams of the original), so eval-side containment is
    * d/(d+1) ≈ 1 (d = distinct excerpt trigrams; the marker trigram is
    * the only novelty), while symmetric Jaccard is ≤ 15/34 < 0.5 by the
    * 36-token floor — the geometry the J ≥ 0.7 fuzzy gate cannot see
    * and [[qContaminationContainmentBounds]]'s negative control
    * proves it doesn't. */
  private[graft] def containmentEvalBatch(docs: DataFrame,
      offsetMult: Int = 5, sliceStart: Int = 4): DataFrame = {
    val toks = split(col("text"), " ")
    docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs
        .filter(col("doc_id") % 2 === 0 && size(toks) >= 36)
        .select((col("doc_id") + offsetMult * DedupQueries.IdOffset).as("doc_id"),
          concat(lit("zzplant"), col("doc_id"), lit(" "),
            concat_ws(" ", slice(toks, sliceStart, 16))).as("text")))
  }

  /** Asymmetric containment decontamination
    * ([[graft.text.Dedup.containmentPairs]]): every (eval, train) pair
    * whose eval-side trigram containment clears 4/5 — the
    * embedded-benchmark leak class the symmetric tiers miss (r17
    * verdict directive 1; the fuzzy MinHash gate estimates JACCARD, so
    * an eval doc inside a 10× train page reads ≈ |eval|/|train| → 0
    * there while reading ≈ 1 here). Exact integer set sizes, integer
    * cross-multiplied threshold, one terminal division; hash-green
    * (DuckDB replays the shingle-set intersection directly). Eval side
    * = [[containmentEvalBatch]] (odd docs + planted embedded evals). */
  def qContaminationContainment(s: SparkSession, d: String): DataFrame = {
    // one checkpointed scan feeds train and both eval branches (the
    // qContaminationFuzzy shared-subframe discipline)
    val docs = docsSpread(s, d)
      .localCheckpoint(true)
    graft.text.Dedup.containmentPairs(
        containmentEvalBatch(docs), docs.filter(col("doc_id") % 2 === 0))
      .orderBy(col("eval_id"), col("train_id"))
  }

  /** The DuckDB twin of the containment screen, parameterized by the
    * eval-batch fixture knobs — shared by the from-scratch and the
    * incremental members (the oracle always replays from scratch; the
    * incremental query's hash therefore proves the persisted index
    * path changes nothing). `capped = true` additionally replays the
    * df cap the persisted index applies (hot = df > max(n_train/10,
    * 1), excluded from BOTH the train index and the eval denominator —
    * the incremental member's production semantics; on the harness
    * corpus no natural shingle reaches the cap, so capped and uncapped
    * replays agree row-for-row, which is exactly the K=∞-equivalence
    * the r18 verdict asked the harness to preserve). */
  private def containmentSqlAt(offsetMult: Int, sliceStart: Int,
      capped: Boolean = false): String = {
    val off = offsetMult * DedupQueries.IdOffset
    val sliceEnd = sliceStart + 15
    val capCtes = if (!capped) "" else
      """, hot AS (
        |  SELECT sh FROM trsh GROUP BY sh
        |  HAVING count(*) > greatest(
        |    (SELECT count(*) FROM d WHERE doc_id % 2 = 0) // 10, 1)
        |), trk AS (
        |  SELECT * FROM trsh WHERE sh NOT IN (SELECT sh FROM hot)
        |), evk AS (
        |  SELECT * FROM evsh WHERE sh NOT IN (SELECT sh FROM hot)
        |)""".stripMargin
    val (evSrc, trSrc) = if (capped) ("evk", "trk") else ("evsh", "trsh")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), ev0 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |  UNION ALL
       |  SELECT doc_id + $off,
       |    'zzplant' || CAST(doc_id AS VARCHAR) || ' '
       |      || array_to_string(toks[$sliceStart:$sliceEnd], ' ')
       |  FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 36
       |), evd AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM ev0
       |), evsh AS (
       |  SELECT DISTINCT doc_id AS eval_id,
       |    array_to_string(toks[i:i+2], ' ') AS sh
       |  FROM evd, unnest(range(1, greatest(len(toks)-1, 1))) t(i)
       |), trsh AS (
       |  SELECT DISTINCT doc_id AS train_id,
       |    array_to_string(toks[i:i+2], ' ') AS sh
       |  FROM d, unnest(range(1, greatest(len(toks)-1, 1))) t(i)
       |  WHERE doc_id % 2 = 0
       |)$capCtes, sizes AS (
       |  SELECT eval_id, count(*) AS n_eval_shingles FROM $evSrc GROUP BY eval_id
       |), shared AS (
       |  SELECT eval_id, train_id, count(*) AS n_shared
       |  FROM $evSrc JOIN $trSrc USING (sh) GROUP BY eval_id, train_id
       |)
       |SELECT eval_id, train_id, n_eval_shingles, n_shared,
       |  CAST(n_shared AS DOUBLE) / n_eval_shingles AS containment
       |FROM shared JOIN sizes USING (eval_id)
       |WHERE n_shared * 5 >= n_eval_shingles * 4
       |ORDER BY eval_id, train_id""".stripMargin
  }

  val qContaminationContainmentSql: String = containmentSqlAt(5, 4)

  // one persisted train shingle-frame generation per (process, scale
  // dir): the artifact under test is the parquet round-trip — train is
  // never re-shingled per eval batch (the fuzzyTrainIndexDir pattern)
  private def containTrainIndexDir(s: SparkSession, d: String): String =
    graft.BuildTimes.onceDir("containment_index_build", d) { p =>
      val train = docsSpread(s, d)
        .filter(col("doc_id") % 2 === 0)
      // the persisted index is DF-CAPPED at build (r19: the 100 TB
      // hot-shingle hardening) — hot = df > max(n_train/10, 1). On the
      // harness corpus the natural max trigram df is ≤ 2.8% of train,
      // so the hot frame is EMPTY here and the capped screen equals
      // the uncapped one row-for-row (the required K=∞ equivalence);
      // the cap's dropping behavior is exercised by the hot-shingled
      // fixture members. The train count is the one bounded
      // driver-side value of the index build.
      val cap = containDfCap(train)
      val idx = graft.text.Dedup.dfCapShingleFrame(
        graft.text.Dedup.literalShingleFrame(train, 3, "train_id"), cap)
      idx.kept.write.mode("overwrite").parquet(s"$p/kept")
      idx.hot.write.mode("overwrite").parquet(s"$p/hot")
      p
    }

  /** The containment tier's df cap: 10% of the train document count,
    * floored at 1 — spelled max(n/10, 1) on BOTH engines so the twin
    * replays it exactly. */
  private def containDfCap(train: DataFrame): Long =
    math.max(1L, train.count() / 10L)

  private def readContainIndex(s: SparkSession,
      dir: String): graft.text.Dedup.CappedShingleIndex =
    graft.text.Dedup.CappedShingleIndex(
      s.read.parquet(s"$dir/kept"), s.read.parquet(s"$dir/hot"))

  /** Incremental member of the containment contract: a SECOND eval
    * release (different excerpt window, disjoint id offset) screens
    * against the DF-CAPPED train index RELOADED from parquet
    * ([[graft.text.Dedup.containmentPairsFromCappedIndex]]) — the
    * 100 TB train side is shingled once, stop-shingles over the df cap
    * are dropped at build with their mass accounted, and never again;
    * only the eval batch pays a scan. HASH-GREEN against a from-
    * scratch oracle that REPLAYS the cap: the DuckDB twin recomputes
    * train shingles AND the hot split from the raw table, so the hash
    * proves both the persisted generation and the cap rule carry
    * verbatim (a stronger form of the fuzzy family's carried-verbatim
    * check, available because shingle frames are oracle-replayable
    * where LSH bands are not). On the harness corpus the hot split is
    * empty (max natural df ≈ 2.8% of train vs the 10% cap), so this
    * member doubles as the required K=∞ equivalence; the dropping
    * behavior itself is exercised by [[qContaminationCapped]]'s
    * hot-shingled fixture. [[qContaminationContainmentBounds]]
    * additionally pins persisted index == fresh capped build as a
    * set. */
  def qContaminationContainmentInc(s: SparkSession, d: String): DataFrame = {
    val docs = docsSpread(s, d)
      .localCheckpoint(true)
    val dir = containTrainIndexDir(s, d)
    graft.text.Dedup.containmentPairsFromCappedIndex(
        containmentEvalBatch(docs, offsetMult = 7, sliceStart = 6),
        readContainIndex(s, dir))
      .orderBy(col("eval_id"), col("train_id"))
  }

  val qContaminationContainmentIncSql: String =
    containmentSqlAt(7, 6, capped = true)

  /** Fail-closed gate for the containment tier, with the MOTIVATING
    * NEGATIVE CONTROL: (1) plants exist (≥ 36-token train docs present
    * — corpus-drift guard); (2) every planted embedded eval is flagged
    * WITH its own source train doc; (3) the planted pairs' symmetric
    * Jaccard is structurally low (max < 0.5 — the 36-token floor's
    * guarantee, measured not assumed); (4) the fuzzy MinHash tier
    * screening the SAME eval batch against the same train split flags
    * ZERO plants — the J ≥ 0.7 exact-verify gate cannot see the
    * embedded geometry, which is exactly why this tier exists. */
  def qContaminationContainmentBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val off = 5 * DedupQueries.IdOffset
    val docs = docsSpread(s, d)
      .localCheckpoint(true)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val ev = containmentEvalBatch(docs).localCheckpoint(true)
    val nPlants = ev.filter(col("doc_id") >= off).count()
    // ONE fresh shingling of train, eagerly cut — it feeds the serve
    // screen, the maxJ sizes, the carried-verbatim recompute, and the
    // incremental scratch screen (r19 closing-bench trim shingled
    // train once; r19 verdict directive 5 goes further: the serve
    // screen below reads THIS frame instead of re-running
    // qContaminationContainment's own checkpoint + double shingling)
    val freshSh = graft.text.Dedup.literalShingleFrame(train, 3, "train_id")
      .localCheckpoint(true)
    // the fresh capped index halves feed the drift AND incremental
    // legs below: the hot groupBy is eagerly cut inside
    // dfCapShingleFrame, so building it before the fork costs one job
    // and the kept side stays a cheap anti-join over checkpointed
    // freshSh per consumer
    val freshIdx = graft.text.Dedup.dfCapShingleFrame(freshSh,
      containDfCap(train))
    val pIdx = readContainIndex(s, containTrainIndexDir(s, d))
    def symDiff(a: DataFrame, b: DataFrame): Long =
      graft.ops.Diff.symDiffCount(a, b)
    // FOUR independent check legs over the eagerly cut inputs —
    // concurrent per guide §2.6 instead of four sequential blocks:
    // (1) serve screen + planted readouts (exact symmetric Jaccard of
    // each (plant, source) pair: |∩| is the flagged row's n_shared;
    // |∪| = n_eval + n_train − |∩| — sizes from the SAME shingle
    // spelling the operator uses); (2) the fuzzy-tier negative control
    // (train banding READ from the fuzzy tier's persisted index — r18
    // directive 4 — whose carried-verbatim row pins it equal to a
    // fresh banding; only the eval batch is banded); (3) the persisted
    // CAPPED index carries verbatim vs the fresh capped build, as
    // ±1-weighted groupBy diffs (half the shuffle of exceptAll both
    // ways on corpus-scale kept frames — r19 directive 5, spelling
    // shared as graft.ops.Diff.symDiffCount); (4) the _inc screen of
    // the second batch equals the from-scratch capped screen of that
    // same batch — the batch shingled ONCE, screened against both
    // index generations.
    val Seq((plantHits, maxJ), (fuzzyPlantHits, _), (idxDrift, _),
        (incDiff, _)) = graft.ops.Par.eagerly[(Long, Double)](
      () => {
        val flagged = graft.text.Dedup.containmentPairsFromIndex(ev, freshSh)
          .localCheckpoint(true)
        val hits = flagged
          .filter(col("eval_id") >= off &&
            col("train_id") === col("eval_id") - off).count()
        val trainSh = freshSh
          .groupBy(col("train_id")).agg(count(lit(1)).as("n_train_shingles"))
        val mj = flagged
          .filter(col("eval_id") >= off &&
            col("train_id") === col("eval_id") - off)
          .join(trainSh, Seq("train_id"))
          .select((col("n_shared").cast("double") /
            (col("n_eval_shingles") + col("n_train_shingles") - col("n_shared")))
            .as("j"))
          .agg(coalesce(max(col("j")), lit(1.0))).head().getDouble(0)
        (hits, mj)
      },
      () => {
        val fuzzyDir = fuzzyTrainIndexDir(s, d)
        val tb = s.read.parquet(s"$fuzzyDir/bands")
        val ts = s.read.parquet(s"$fuzzyDir/sets")
        val (eb, es) = graft.text.Dedup.minhashIndex(ev)
        (graft.text.Dedup
          .crossMinhashPairs(eb, es, tb, ts, maxJaccardDist = 0.3)
          .filter(col("id_a") >= off && col("id_b") === col("id_a") - off)
          .count(), 0.0)
      },
      () => (symDiff(pIdx.kept, freshIdx.kept) +
        symDiff(pIdx.hot, freshIdx.hot), 0.0),
      () => {
        val ev2Sh = graft.text.Dedup.literalShingleFrame(
            containmentEvalBatch(docs, offsetMult = 7, sliceStart = 6),
            3, "eval_id")
          .localCheckpoint(true)
        def cappedScreen(idx: graft.text.Dedup.CappedShingleIndex): DataFrame =
          graft.text.Dedup.containmentCore(
            ev2Sh.join(broadcast(idx.hot.select(col("sh"))), Seq("sh"),
              "left_anti"),
            idx.kept, 4, 5)
        (symDiff(cappedScreen(pIdx), cappedScreen(freshIdx)), 0.0)
      })
    val ok = nPlants > 0
    Seq(
      ("fuzzy_tier_misses_all_plants", ok && fuzzyPlantHits == 0L),
      ("incremental_equals_scratch", ok && incDiff == 0L),
      ("planted_embedded_all_flagged", ok && plantHits == nPlants),
      ("planted_jaccard_structurally_low", ok && maxJ < 0.5),
      ("plants_nonempty", ok),
      ("train_index_carried_verbatim", ok && idxDrift == 0L))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qContaminationContainmentBoundsSql: String =
    """SELECT * FROM (VALUES ('fuzzy_tier_misses_all_plants', true),
      |  ('incremental_equals_scratch', true),
      |  ('planted_embedded_all_flagged', true),
      |  ('planted_jaccard_structurally_low', true),
      |  ('plants_nonempty', true),
      |  ('train_index_carried_verbatim', true))
      |  t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  // --------------------------------------- DF-capped containment tier
  /** The deliberately hot-shingled fixture for the df-capped
    * containment members (r18 verdict directive 1): every doc_id ≡ 0
    * (mod 4) member of the train (even) split carries a shared
    * 10-token synthetic header — the boilerplate/navigation-chrome
    * geometry that at 100 TB puts a handful of shingles in a large
    * fraction of ALL train docs. The 8 pure-header trigrams land in
    * ~50% of train documents (vs the harness's ≤ 2.8% natural
    * maximum), so they cross the 10% df cap while every natural
    * shingle survives — the fixture isolates exactly the stop-shingle
    * class the cap exists for. */
  private[graft] val HotHeaderTokens: Seq[String] =
    (0 to 9).map(i => s"hothdr$i")
  private[graft] val HotHeader: String = HotHeaderTokens.mkString(" ")

  private[graft] def hotTrainCorpus(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit(HotHeader + " "), col("text")))
          .otherwise(col("text")).as("text"))

  /** Eval batch for the capped tier: the odd docs ∪ PLANTED EMBEDDED
    * evals whose excerpts deliberately STRADDLE the hot header — for
    * every headered train doc of ≥ 46 headered tokens, a novel marker
    * + headered tokens 5..22 (the last 6 header tokens + the first 12
    * content tokens). The plant's 4 pure-header trigrams are hot and
    * drop from BOTH sides of the capped screen, leaving 12 of its 13
    * surviving trigrams shared with the source (containment 12/13 ≈
    * 0.92 over the screening vocabulary) — but only 12 of all 17
    * (0.71 < 4/5) under a naive full denominator: the geometry that
    * PROVES the cap-aware denominator is load-bearing, gated by
    * [[qContaminationCappedBounds]]'s negative control. */
  private[graft] def hotEvalBatch(docs: DataFrame): DataFrame = {
    val headered = hotTrainCorpus(docs).filter(col("doc_id") % 4 === 0)
    val toks = split(col("text"), " ")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(headered
        .filter(size(toks) >= 46)
        .select((col("doc_id") + 9 * DedupQueries.IdOffset).as("doc_id"),
          concat(lit("zzplant"), col("doc_id"), lit(" "),
            concat_ws(" ", slice(toks, 5, 18))).as("text")))
  }

  /** The hot fixture's capped index, PERSISTED once per (process,
    * scale dir) — the production-index discipline applied to the
    * fixture: three members (serve, stats, bounds) read the same
    * parquet generation instead of each re-shingling the fixture
    * train split (the r19 closing-bench audit caught the stats member
    * paying a full rebuild for two count reads). `raw` is the uncapped
    * (train_id, sh) frame — the bounds gate's K=∞ / uncapped legs
    * derive from it without a third shingling. The cap is the same
    * max(n_train/10, 1) rule as the production index. */
  private def hotCappedIndexDir(s: SparkSession, d: String): String =
    graft.BuildTimes.onceDir("hot_capped_fixture_build", d) { p =>
      val docs = docsSpread(s, d)
      val train = hotTrainCorpus(docs)
      val raw = graft.text.Dedup.literalShingleFrame(train, 3, "train_id")
        .localCheckpoint(true)
      val idx = graft.text.Dedup.dfCapShingleFrame(raw, containDfCap(train))
      raw.write.mode("overwrite").parquet(s"$p/raw")
      idx.kept.write.mode("overwrite").parquet(s"$p/kept")
      idx.hot.write.mode("overwrite").parquet(s"$p/hot")
      p
    }

  private def hotCappedIndex(s: SparkSession,
      d: String): graft.text.Dedup.CappedShingleIndex = {
    val dir = hotCappedIndexDir(s, d)
    graft.text.Dedup.CappedShingleIndex(
      s.read.parquet(s"$dir/kept"), s.read.parquet(s"$dir/hot"))
  }

  /** DF-capped containment decontamination over the hot-shingled
    * fixture ([[graft.text.Dedup.containmentPairsFromCappedIndex]]):
    * the serve-path member that actually exercises shingle DROPPING —
    * hot shingles (df > 10% of train docs) leave the index and the
    * eval denominator, bounding every shingle key's join fan-out at
    * the cap BY CONSTRUCTION, and the boundary-straddling plants are
    * still flagged at ≈ 0.92 containment over the screening
    * vocabulary. Hash-green: the DuckDB twin replays the header
    * injection, the cap split, the eval-side exclusion, and the
    * cross-multiplied threshold. */
  def qContaminationCapped(s: SparkSession, d: String): DataFrame = {
    val docs = docsSpread(s, d)
      .localCheckpoint(true)
    graft.text.Dedup.containmentPairsFromCappedIndex(hotEvalBatch(docs),
        hotCappedIndex(s, d))
      .orderBy(col("eval_id"), col("train_id"))
  }

  /** The shared CTE prefix of the hot-fixture twins: headered train,
    * train shingles, the hot/kept cap split, and the straddling eval
    * batch. */
  private def hotFixtureCtes: String = {
    val off = 9 * DedupQueries.IdOffset
    s"""ht AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN '$HotHeader ' || text
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 2 = 0
       |), htk AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM ht
       |), trsh AS (
       |  SELECT DISTINCT doc_id AS train_id,
       |    array_to_string(toks[i:i+2], ' ') AS sh
       |  FROM htk, unnest(range(1, greatest(len(toks)-1, 1))) t(i)
       |), hot AS (
       |  SELECT sh, count(*) AS df FROM trsh GROUP BY sh
       |  HAVING count(*) > greatest((SELECT count(*) FROM ht) // 10, 1)
       |), kept AS (
       |  SELECT * FROM trsh WHERE sh NOT IN (SELECT sh FROM hot)
       |), ev0 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |  UNION ALL
       |  SELECT doc_id + $off,
       |    'zzplant' || CAST(doc_id AS VARCHAR) || ' ' ||
       |      array_to_string(toks[5:22], ' ')
       |  FROM htk WHERE doc_id % 4 = 0 AND len(toks) >= 46
       |), evd AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM ev0
       |), evsh0 AS (
       |  SELECT DISTINCT doc_id AS eval_id,
       |    array_to_string(toks[i:i+2], ' ') AS sh
       |  FROM evd, unnest(range(1, greatest(len(toks)-1, 1))) t(i)
       |), evsh AS (
       |  SELECT * FROM evsh0 WHERE sh NOT IN (SELECT sh FROM hot)
       |)""".stripMargin
  }

  val qContaminationCappedSql: String =
    s"""WITH $hotFixtureCtes, sizes AS (
       |  SELECT eval_id, count(*) AS n_eval_shingles FROM evsh GROUP BY eval_id
       |), shared AS (
       |  SELECT eval_id, train_id, count(*) AS n_shared
       |  FROM evsh JOIN kept USING (sh) GROUP BY eval_id, train_id
       |)
       |SELECT eval_id, train_id, n_eval_shingles, n_shared,
       |  CAST(n_shared AS DOUBLE) / n_eval_shingles AS containment
       |FROM shared JOIN sizes USING (eval_id)
       |WHERE n_shared * 5 >= n_eval_shingles * 4
       |ORDER BY eval_id, train_id""".stripMargin

  /** The capped index's accounting row — the (n_dropped_shingles,
    * dropped_mass) metadata a release manifest reports for the cap
    * (dropped_mass = the (train_id, sh) rows the cap removed, i.e.
    * exactly the per-shingle join fan-out the screen no longer pays).
    * Hash-green: exact integers, the twin replays the split. */
  def qContaminationCappedStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = hotCappedIndex(s, d)
    Seq((idx.nDroppedShingles, idx.droppedMass, idx.kept.count()))
      .toDF("n_hot_shingles", "dropped_mass", "n_kept_rows")
  }

  val qContaminationCappedStatsSql: String =
    s"""WITH $hotFixtureCtes
       |SELECT (SELECT count(*) FROM hot) AS n_hot_shingles,
       |  (SELECT CAST(coalesce(sum(df), 0) AS BIGINT) FROM hot) AS dropped_mass,
       |  (SELECT count(*) FROM kept) AS n_kept_rows""".stripMargin

  /** Fail-closed gate for the capped tier, with its MOTIVATING
    * NEGATIVE CONTROL: (1) plants exist; (2) every boundary-straddling
    * plant is flagged WITH its source under the capped screen; (3) the
    * NAIVE-DENOMINATOR spelling (kept index but full n_eval_shingles —
    * what a cap bolted on without the denominator fix would compute)
    * flags ZERO plants, because the dropped header trigrams dilute
    * containment to 12/17 < 4/5 — the check that proves the cap-aware
    * denominator is load-bearing, not cosmetic; (4) all 8 pure-header
    * trigrams are hot (the fixture's stop-shingles really get
    * dropped); (5) ONLY header-bearing trigrams are hot (the cap does
    * not touch natural vocabulary at harness scale); (6) an
    * effectively-infinite cap reproduces the uncapped screen exactly
    * (K=∞ equivalence on the SAME fixture); (7) capped candidate
    * volume respects the structural bound |eval kept shingle rows| ×
    * cap; (8) the uncapped candidate volume EXCEEDS the capped one
    * (the fixture genuinely exercises the fan-out the cap removes). */
  def qContaminationCappedBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val off = 9 * DedupQueries.IdOffset
    val docs = docsSpread(s, d)
      .localCheckpoint(true)
    // ONE train shingling (the persisted fixture index: raw + kept +
    // hot) and ONE eval shingling feed every leg below — the r19
    // closing-bench audit caught the first spelling of this gate
    // re-shingling both sides per leg (38 s where ~12 s is the work)
    val idxDir = hotCappedIndexDir(s, d)
    val rawSh = s.read.parquet(s"$idxDir/raw")
    val kept = s.read.parquet(s"$idxDir/kept")
    val hot = s.read.parquet(s"$idxDir/hot").localCheckpoint(true)
    val train = hotTrainCorpus(docs)
    val ev = hotEvalBatch(docs).localCheckpoint(true)
    def plantHits(pairs: DataFrame): Long = pairs
      .filter(col("eval_id") >= off &&
        col("train_id") === col("eval_id") - off).count()
    val evShAll = graft.text.Dedup.literalShingleFrame(ev, 3, "eval_id")
      .localCheckpoint(true)
    // the capped-screen chain (kept eval shingles → capped screen) and
    // the uncapped screen are independent given evShAll — fork their
    // eager cuts per guide §2.6 instead of three sequential checkpoints
    val Seq((evShKept, capped), (uncapped, _)) =
      graft.ops.Par.eagerly[(DataFrame, DataFrame)](
        () => {
          val k = evShAll
            .join(broadcast(hot.select(col("sh"))), Seq("sh"), "left_anti")
            .localCheckpoint(true)
          (k, graft.text.Dedup.containmentCore(k, kept, 4, 5)
            .localCheckpoint(true))
        },
        () => {
          val u = graft.text.Dedup.containmentCore(evShAll, rawSh, 4, 5)
            .localCheckpoint(true)
          (u, u)
        })
    // negative control: kept index, NAIVE full denominator — the
    // spelling a cap bolted on WITHOUT the eval-side exclusion computes
    val naive = graft.text.Dedup.containmentCore(evShAll, kept, 4, 5)
    // candidate volumes: the (eval shingle × train doc) join rows the
    // rollup shuffles — the quantity the cap bounds by construction
    val headerSh = HotHeaderTokens.sliding(3).map(_.mkString(" ")).toSeq
    val cap = containDfCap(train)
    // Every readout below consumes only eagerly-cut frames and none
    // depends on another — ONE concurrent batch (guide §2.6): the
    // gate's wall for its 8 checks is ~the slowest readout, not the
    // sum of eight. infDiff builds the K=∞ index inside its own leg
    // (one groupBy over the persisted raw shingles: an effectively-
    // infinite cap drops nothing, so its screen must equal the
    // raw-index screen) and diffs via the ±1-weighted groupBy
    // (graft.ops.Diff scaladoc; "== 0" is spelling-invariant).
    val Seq(nPlants, cappedPlants, naivePlants, infDiff,
        cappedVol, uncappedVol, nEvKept) = graft.ops.Par.eagerly(
      () => ev.filter(col("doc_id") >= off).count(),
      () => plantHits(capped),
      () => plantHits(naive),
      () => {
        val infIdx = graft.text.Dedup.dfCapShingleFrame(rawSh, Long.MaxValue)
        val inf = graft.text.Dedup.containmentCore(
          evShAll.join(broadcast(infIdx.hot.select(col("sh"))), Seq("sh"),
            "left_anti"),
          infIdx.kept, 4, 5)
        graft.ops.Diff.symDiffCount(inf, uncapped)
      },
      () => broadcast(evShKept).join(kept, Seq("sh")).count(),
      () => broadcast(evShAll).join(rawSh, Seq("sh")).count(),
      () => evShKept.count())
    val hotSet = hot.select(col("sh")).collect().map(_.getString(0)).toSet
    val ok = nPlants > 0
    Seq(
      ("capped_flags_all_plants", ok && cappedPlants == nPlants),
      ("capped_volume_bounded_by_cap",
        ok && cappedVol <= nEvKept * cap),
      ("header_shingles_all_hot", ok && headerSh.forall(hotSet.contains)),
      ("infinite_cap_equals_uncapped", ok && infDiff == 0L),
      ("naive_denominator_misses_all_plants", ok && naivePlants == 0L),
      ("only_header_shingles_hot",
        ok && hotSet.nonEmpty && hotSet.forall(_.contains("hothdr"))),
      ("plants_nonempty", ok),
      ("uncapped_volume_exceeds_capped", ok && uncappedVol > cappedVol))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qContaminationCappedBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('capped_flags_all_plants', true),
      |  ('capped_volume_bounded_by_cap', true),
      |  ('header_shingles_all_hot', true),
      |  ('infinite_cap_equals_uncapped', true),
      |  ('naive_denominator_misses_all_plants', true),
      |  ('only_header_shingles_hot', true),
      |  ('plants_nonempty', true),
      |  ('uncapped_volume_exceeds_capped', true))
      |  t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  /** Markup stripping, checked as an INVERSION: wrap each document in
    * a deterministic tag soup (tags inside the text, a comment, plus a
    * planted entity-encoded tail), strip it back, and hash against the
    * expected recovery computed directly from the original text. Any
    * under- or over-stripping (a tag survives, a comment leaks, an
    * entity decodes wrong, whitespace fails to collapse) breaks the
    * match. */
  def qHtmlStrip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val html = concat(
      lit("""<html><body class="doc"><h1></h1><!-- id --><p>"""),
      regexp_replace(col("text"), " ", " <br/> "),
      lit("""</p><p>&quot;A &amp; B&quot; &lt;ok&gt;&nbsp;end</p></body></html>"""))
    docs.select(col("doc_id"),
        TextAnalysis.stripMarkup(html).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  val qHtmlStripSql: String =
    """SELECT doc_id,
      |  trim(trim(regexp_replace(text, '\s+', ' ', 'g'))
      |    || ' "A & B" <ok> end') AS text_clean
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Within-doc repeated-line removal over a built corpus: each doc
    * becomes three lines — text, text again (must collapse), and its
    * normalized form (kept iff distinct from text). The oracle replays
    * first-occurrence-wins with an ordered re-assembly. */
  def qDedupLines(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val lined = docs.select(col("doc_id"),
      concat_ws("\n", col("text"), col("text"),
        TextAnalysis.normalize(col("text")), col("text")).as("text"))
    TextAnalysis.dedupLines(lined)
      .orderBy(col("doc_id"))
  }

  val qDedupLinesSql: String =
    """WITH lined AS (
      |  SELECT doc_id,
      |    concat_ws(chr(10), text, text,
      |      trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]+', ' ', 'g'), '\s+', ' ', 'g')),
      |      text) AS text
      |  FROM documents
      |), split AS (
      |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined
      |), lines AS (
      |  SELECT doc_id, list_extract(ls, i) AS line, i AS pos
      |  FROM split, unnest(range(1, len(ls) + 1)) t(i)
      |), firsts AS (
      |  SELECT doc_id, line, min(pos) AS first_pos
      |  FROM lines GROUP BY doc_id, line
      |)
      |SELECT doc_id,
      |  string_agg(line, chr(10) ORDER BY first_pos) AS text
      |FROM firsts
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** URL extraction + domain histogram — the crawl-side primitive
    * behind domain mixing: pull every URL out of the text
    * (regexp_extract_all), parse its host (`parse_url`), and count
    * docs per host. The corpus has no URLs, so each doc gets a
    * deterministic planted link derived from its source
    * (`https://<source>.example.com/<doc_id>?ref=x`) — the oracle then
    * knows the exact expected histogram from `source` alone, so any
    * extraction or host-parsing defect (scheme variants, paths/query
    * strings leaking into the host) breaks the hash. */
  def qUrlDomains(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val withUrls = docs.select(col("doc_id"),
      concat(col("text"),
        lit(" see https://"), col("source"), lit(".example.com/"),
        col("doc_id"), lit("?ref=x and http://"), col("source"),
        lit(".example.com/about")).as("text"))
    withUrls
      .select(explode(expr(
        """regexp_extract_all(text, 'https?://[^\\s]+', 0)""")).as("url"))
      .select(expr("parse_url(url, 'HOST')").as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"))
      .orderBy(col("host"))
  }

  val qUrlDomainsSql: String =
    """SELECT source || '.example.com' AS host, 2 * count(*) AS n_urls
      |FROM documents
      |GROUP BY source
      |ORDER BY host""".stripMargin

  /** Per-source corpus report card — the profile a curation pipeline
    * publishes per ingest source: volume (docs, tokens, chars),
    * exact-duplicate rate (distinct digests vs rows — the 100 TB form
    * counts 32-byte digests, never text bodies; oracle counts
    * `DISTINCT text`, so the digest narrowing is itself checked), and
    * mean composite quality. Composes the oracled per-doc signal
    * queries into one partial-aggregable groupBy(source) — every
    * aggregate here is map-side combinable, one shuffle of ~#sources
    * groups regardless of corpus size. The quality CTE is the literal
    * [[qTextQualitySql]] (minus its ORDER BY), so both engines compute
    * the score from one definition. */
  def qCorpusProfile(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val quality = TextAnalysis.withQualitySignals(docs)
      .select(col("doc_id"), col("source"), col("text"), col("quality_score"))
    quality
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(length(trim(col("text"))) === 0, 0)
          .otherwise(size(TextAnalysis.tokens(col("text"))))).as("total_tokens"),
        sum(length(col("text"))).as("total_chars"),
        countDistinct(sha2(col("text"), 256)).as("distinct_texts"),
        // round(…, 9): avg over a sum of non-dyadic ratios is
        // summation-order sensitive in the last 1-2 bits; the driver's
        // hash gate needs bit-identical doubles (float-determinism
        // policy, COVERAGE.md).
        round(avg(col("quality_score")), 9).as("avg_quality"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("total_chars"), col("distinct_texts"),
        (lit(1.0) - col("distinct_texts").cast("double") / col("n_docs"))
          .as("dup_rate"),
        col("avg_quality"))
      .orderBy(col("source"))
  }

  val qCorpusProfileSql: String = {
    // DuckDB sum(INTEGER) returns HUGEINT (surfaces as float64) while
    // Spark's sum over ints is BIGINT — CAST both integer sums or the
    // driver's hash gate reads 1435.0 != 1435 (COVERAGE.md typing rule).
    val qualityCte = qTextQualitySql.replace("\nORDER BY doc_id", "")
      .replace("ORDER BY doc_id", "")
    s"""WITH q AS (
       |$qualityCte
       |)
       |SELECT d.source,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN length(trim(d.text)) = 0 THEN 0
       |           ELSE len(string_split_regex(lower(trim(d.text)), '\\s+')) END) AS BIGINT) AS total_tokens,
       |  CAST(sum(length(d.text)) AS BIGINT) AS total_chars,
       |  count(DISTINCT d.text) AS distinct_texts,
       |  1.0 - CAST(count(DISTINCT d.text) AS DOUBLE) / count(*) AS dup_rate,
       |  round(avg(q.quality_score), 9) AS avg_quality
       |FROM documents d JOIN q ON d.doc_id = q.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin
  }

  /** Order-sensitive rolling-hash fingerprint (rows-only). */
  def qTextFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Id offset for the fingerprint-class corpus copies (distinct from
    * DedupQueries.IdOffset only by convention — the corpora never mix). */
  val FpClassOffset = 100000L

  /** Hash-checkable twin of [[qTextFingerprint]]: the fingerprint's
    * 57-bit VALUES can't be replayed in SQL, but its equivalence
    * classes can. Build documents ∪ a whitespace-mangled copy (must
    * collapse into the original's class — the fingerprint normalizes
    * case/whitespace) ∪ a token-reversed copy (must NOT collapse — the
    * hash is order-sensitive), then label every row with the minimum
    * doc_id sharing its fingerprint. The oracle computes the same
    * labels partitioning by the true normalized token sequence, so a
    * hash match proves normalization, order sensitivity, and
    * collision-freedom on this corpus in one check (57-bit space,
    * P[collision] ≈ n²/2⁵⁸ ≈ 1e-9 at sf0.1).
    *
    * Scale shape: one narrow (id, fp) shuffle into the class window;
    * fp is a hash, so partitions are uniform by construction — no
    * skew exposure, classes are ≤3 rows. */
  def qFingerprintClasses(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val mangled = docs.select((col("doc_id") + FpClassOffset).as("doc_id"),
      concat(lit("  "), regexp_replace(col("text"), " ", "   "), lit(" ")).as("text"))
    val reversed = docs.select((col("doc_id") + 2 * FpClassOffset).as("doc_id"),
      concat_ws(" ", reverse(TextAnalysis.tokens(col("text")))).as("text"))
    docs.union(mangled).union(reversed)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .select(col("doc_id"),
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp")))
          .as("class_rep"))
      .orderBy(col("doc_id"))
  }

  val qFingerprintClassesSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $FpClassOffset, '  ' || regexp_replace(text, ' ', '   ', 'g') || ' '
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${2 * FpClassOffset},
       |    array_to_string(list_reverse(string_split_regex(lower(trim(text)), '\\s+')), ' ')
       |  FROM documents
       |), keyed AS (
       |  SELECT doc_id,
       |    array_to_string(string_split_regex(lower(trim(text)), '\\s+'), ' ') AS k
       |  FROM corpus
       |)
       |SELECT doc_id, min(doc_id) OVER (PARTITION BY k) AS class_rep
       |FROM keyed
       |ORDER BY doc_id""".stripMargin

  /** PII redaction over a corpus with planted PII. The harness
    * documents carry none, so (same pattern as the dedup corpora) each
    * doc gets a deterministic doc_id-derived tail — an email, an IP, a
    * phone number, or all three, by doc_id % 4 — and the query emits
    * the per-type hit counts plus the scrubbed text. Everything is
    * regex algebra in the Java∩RE2 common dialect, so the DuckDB twin
    * replays injection and redaction verbatim and the whole operator
    * is hash-checked, scrubbed strings included. */
  def qPiiRedact(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val tail = when(pmod(id, lit(4)) === 0,
        concat(lit(" contact user"), id, lit("@example.com")))
      .when(pmod(id, lit(4)) === 1,
        concat(lit(" from 10."), pmod(id, lit(256)), lit("."),
          pmod(id * 7, lit(256)), lit("."), pmod(id * 13, lit(256))))
      .when(pmod(id, lit(4)) === 2,
        concat(lit(" call 555-"), lpad(pmod(id, lit(1000)).cast("string"), 3, "0"),
          lit("-"), lpad(pmod(id, lit(10000)).cast("string"), 4, "0")))
      .otherwise(concat(lit(" user"), id, lit("@example.com at 10.0.0."),
        pmod(id, lit(256)), lit(" tel 555-123-4567")))
    val injected = graft.ops.Spread.perRow(Tables.documents(s, d), id)
      .select(id, concat(col("text"), tail).as("text"))
    val counts = TextAnalysis.piiCounts(col("text")).map { case (n, c) => c.as(n) }
    injected
      .select(id +: counts :+ TextAnalysis.redactPii(col("text")).as("text_redacted"): _*)
      .orderBy(id)
  }

  val qPiiRedactSql: String = {
    // single-quoted SQL strings treat backslashes literally, so the
    // shared pattern constants drop straight in (' needs no escaping —
    // none of the patterns contain one)
    val (em, ip, ph) = (TextAnalysis.EmailRe, TextAnalysis.Ipv4Re, TextAnalysis.PhoneRe)
    s"""WITH injected AS (
       |  SELECT doc_id, text || CASE doc_id % 4
       |    WHEN 0 THEN ' contact user' || doc_id || '@example.com'
       |    WHEN 1 THEN ' from 10.' || (doc_id % 256) || '.' || (doc_id * 7 % 256) || '.' || (doc_id * 13 % 256)
       |    WHEN 2 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |    ELSE ' user' || doc_id || '@example.com at 10.0.0.' || (doc_id % 256) || ' tel 555-123-4567'
       |  END AS text
       |  FROM documents
       |)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '$em')) AS n_emails,
       |  len(regexp_extract_all(text, '$ip')) AS n_ips,
       |  len(regexp_extract_all(text, '$ph')) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g') AS text_redacted
       |FROM injected
       |ORDER BY doc_id""".stripMargin
  }

  /** Sequence packing over the documents stream: lay the corpus out as
    * one doc_id-ordered token stream cut into 512-token training
    * blocks, reporting each document's token interval and block span
    * (graft.ops.Packing — the two-level distributed prefix scan; see
    * its scaladoc for why NOT a bare global window). bucketWidth 1024
    * keeps several buckets live even at sf0.01 so the scan's two-level
    * path is what actually runs. The oracle replays the semantics with
    * a plain global window — equivalent algebra, and DuckDB's
    * single-node window is fine at oracle scale. */
  def qPackBlocks(s: SparkSession, d: String): DataFrame = {
    val weighted = Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
    graft.ops.Packing.blockPack(weighted, "doc_id", "n_tokens",
      blockSize = 512L, bucketWidth = 1024L)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("cum_start"), col("first_block"), col("last_block"), col("n_blocks"))
      .orderBy(col("doc_id"))
  }

  val qPackBlocksSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
      |  FROM w WHERE n_tokens > 0
      |)
      |SELECT doc_id, n_tokens,
      |  cum_end - n_tokens AS cum_start,
      |  (cum_end - n_tokens) // 512 AS first_block,
      |  (cum_end - 1) // 512 AS last_block,
      |  ((cum_end - 1) // 512) - ((cum_end - n_tokens) // 512) + 1 AS n_blocks
      |FROM c
      |ORDER BY doc_id""".stripMargin

  /** The FROZEN tokenizer artifact for token-aware packing: the first
    * 16 BPE merges learned by [[graft.text.Bpe.learnMerges]] on the
    * sf0.01 harness corpus, pinned as a constant — exactly how a
    * production pipeline ships its tokenizer (a frozen artifact under
    * version control, never re-learned per query). Pinning it is also
    * what makes token-budget packing HASH-ORACLE-ABLE: the DuckDB twin
    * replays the encode from the same literal table.
    *
    * The table is REPLAY-ORDERED by construction (BPE training can
    * only learn a pair containing a merged symbol AFTER that symbol
    * exists), so applying the merges once each, in rank order, with
    * left-to-right non-overlapping replacement is equivalent to the
    * greedy lowest-rank-first encode loop — `BpeSpec` pins
    * [[graft.text.Bpe.encodeWord]] == the replay on the full harness
    * vocabulary, and the scratch sweep measured zero divergence at all
    * three SFs before the table was frozen. */
  val FrozenMerges: Seq[graft.text.Bpe.Merge] = Seq(
    (0, "e", "r"), (1, "i", "n"), (2, "o", "w"), (3, "o", "r"),
    (4, "s", "t"), (5, "m", "er"), (6, "a", "t"), (7, "l", "u"),
    (8, "a", "r"), (9, "p", "ar"), (10, "j", "o"), (11, "jo", "in"),
    (12, "a", "s"), (13, "as", "h"), (14, "h", "ash"), (15, "r", "ow")
  ).map { case (r, l, rt) => graft.text.Bpe.Merge(r, l, rt, 0L) }

  /** The DuckDB-side piece count of a token column under
    * [[FrozenMerges]] — the sequential-replay spelling: chars joined
    * by a DOUBLED chr(1) separator (doubling is what keeps adjacent
    * merge sites from consuming each other's boundary — each replace
    * takes one separator from each side and restores it), each merge
    * applied once in rank order via plain left-to-right `replace`,
    * pieces = separators/2 − 1. Shared by the oracle SQL builder and
    * nothing else — the Spark side runs the REAL encoder
    * ([[graft.text.Bpe.encodeStats]]), so the hash gate proves
    * encoder == replay on top of plan equivalence. */
  private def piecesReplaySqlExpr(tokCol: String,
      merges: Seq[graft.text.Bpe.Merge] = FrozenMerges): String = {
    val joined = s"repeat(chr(1), 2) || array_to_string(string_split_regex($tokCol, ''), repeat(chr(1), 2)) || repeat(chr(1), 2)"
    val chain = merges.sortBy(_.rank).foldLeft(joined) { (acc, m) =>
      s"replace($acc, chr(1) || '${m.left}' || repeat(chr(1), 2) || '${m.right}' || chr(1), chr(1) || '${m.left}${m.right}' || chr(1))"
    }
    s"(length($chain) - length(replace($chain, chr(1), ''))) // 2 - 1"
  }

  /** Token-length-aware sequence packing — [[qPackBlocks]] with the
    * budget measured in LEARNED-TOKENIZER pieces instead of whitespace
    * tokens: sequence budgets are token budgets in every real pretrain
    * pipeline, and a whitespace proxy misallocates blocks exactly on
    * the long-word documents that blow sequence length. Per-doc piece
    * counts come from [[graft.text.Bpe.encodeStats]] under the frozen
    * merge table: the corpus reduces to DISTINCT words (Heaps'-law
    * bounded), each word encodes ONCE, documents join the counts back
    * — then the same two-level distributed prefix scan
    * ([[graft.ops.Packing.blockPack]]) lays out 2048-piece blocks.
    *
    * The piece-count frame is eagerly localCheckpoint'ed before the
    * scan: blockPack consumes it in two plan branches (intra-bucket
    * window + bucket totals), and un-cut each branch would replay the
    * encode join — the r12 shared-subframe discipline.
    *
    * Hash-green: the oracle recomputes every piece count from the
    * LITERAL frozen table (sequential-replay spelling, proven == the
    * greedy encoder by BpeSpec) and replays the packing as the naive
    * single-task global window — so the hash certifies the encoder,
    * the replay equivalence, AND the two-level scan's plan
    * equivalence at once. All integers; no float class. */
  def qPackBlocksTokens(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val counted = graft.text.Bpe.encodeStats(docs, FrozenMerges)
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"))
      .localCheckpoint(true)
    graft.ops.Packing.blockPack(counted, "doc_id", "n_pieces",
      blockSize = 2048L, bucketWidth = 1024L)
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        col("cum_start"), col("first_block"), col("last_block"), col("n_blocks"))
      .orderBy(col("doc_id"))
  }

  val qPackBlocksTokensSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS w
       |  FROM documents
       |), pc AS (
       |  SELECT w, ${piecesReplaySqlExpr("w")} AS n_pieces_w
       |  FROM (SELECT DISTINCT w FROM toks)
       |), perdoc AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces
       |  FROM toks JOIN pc USING (w)
       |  GROUP BY doc_id
       |), c AS (
       |  SELECT doc_id, n_tokens, n_pieces,
       |    CAST(sum(n_pieces) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
       |  FROM perdoc WHERE n_pieces > 0
       |)
       |SELECT doc_id, n_tokens, n_pieces,
       |  cum_end - n_pieces AS cum_start,
       |  (cum_end - n_pieces) // 2048 AS first_block,
       |  (cum_end - 1) // 2048 AS last_block,
       |  ((cum_end - 1) // 2048) - ((cum_end - n_pieces) // 2048) + 1 AS n_blocks
       |FROM c
       |ORDER BY doc_id""".stripMargin

  /** Tokenizer fertility per source under the LEARNED tokenizer — the
    * mixture-design statistic a pretrain data team reads before
    * weighting sources (the exact-piece sibling of the cheap regex
    * proxy [[qTokenizerFertility]]): pieces/word
    * (how hard the frozen tokenizer fragments each source's surface
    * forms) and bytes/piece (how much raw text one context-window slot
    * buys there), under the SAME frozen 16-merge table as
    * [[qPackBlocksTokens]] (a tokenizer is a versioned artifact; its
    * fertility report must use the shipped table, not a re-learned
    * one).
    *
    * Scale shape: [[graft.text.Bpe.encodeStats]] keyed directly on
    * `source` — the corpus reduces to DISTINCT words (Heaps'-law
    * bounded), each word encodes once, and ONE partial-aggregable
    * groupBy(source) folds words, pieces, and bytes; the readout is
    * |sources|-bounded. Floats are two terminal divisions of exact
    * long sums (IEEE-exact cross-engine — no rounding needed); the
    * oracle recomputes every piece count via the sequential-replay
    * spelling proven equal to the greedy encoder by BpeSpec, so the
    * hash re-certifies the encoder from a second consumer. */
  def qTokenizerFertilityBpe(s: SparkSession, d: String): DataFrame =
    graft.text.Bpe.encodeStats(
      Tables.documents(s, d).select(col("source"), col("text")),
      FrozenMerges, idCol = "source")
      .select(col("source"), col("n_tokens").as("n_words"), col("n_pieces"),
        col("n_word_bytes"),
        (col("n_pieces").cast("double") / col("n_tokens"))
          .as("pieces_per_word"),
        (col("n_word_bytes").cast("double") / col("n_pieces"))
          .as("bytes_per_piece"))
      .orderBy(col("source"))

  val qTokenizerFertilityBpeSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(list_filter(
       |    string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS w
       |  FROM documents
       |), pc AS (
       |  SELECT w, ${piecesReplaySqlExpr("w")} AS n_pieces_w
       |  FROM (SELECT DISTINCT w FROM toks)
       |)
       |SELECT source,
       |  count(*) AS n_words,
       |  CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces,
       |  CAST(sum(strlen(w)) AS BIGINT) AS n_word_bytes,
       |  CAST(CAST(sum(n_pieces_w) AS BIGINT) AS DOUBLE) / count(*)
       |    AS pieces_per_word,
       |  CAST(CAST(sum(strlen(w)) AS BIGINT) AS DOUBLE)
       |    / CAST(sum(n_pieces_w) AS BIGINT) AS bytes_per_piece
       |FROM toks JOIN pc USING (w)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ------------------------------------------- Truncation accounting
  /** Per-source truncation-loss accounting at a 64-token sequence cap —
    * the counterpart decision to packing: if sequences are CUT at
    * max_len instead of packed across block boundaries, how many
    * tokens does each source lose? This is the statistic that decides
    * cap length and flags the long-document domains (books, code)
    * that truncation silently under-trains on. 64 sits inside the
    * harness corpus's 1–99-token doc range so both branches of the
    * accounting are populated at every SF.
    *
    * Scale shape: one narrow codegen projection (token count per row)
    * into one partial-aggregable groupBy(source) — integer sums all
    * the way, drop_fraction as the single terminal division. */
  def qLengthTruncation(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") > 64L, 1L).otherwise(0L)).as("n_truncated"),
        sum(col("n")).as("tokens_total"),
        sum(least(col("n"), lit(64L))).as("tokens_kept"),
        sum(greatest(col("n") - lit(64L), lit(0L))).as("tokens_dropped"))
      .withColumn("drop_fraction",
        col("tokens_dropped").cast("double") / col("tokens_total"))
      .orderBy(col("source"))

  val qLengthTruncationSql: String =
    """WITH w AS (
      |  SELECT source,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n
      |  FROM documents
      |)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
      |  CAST(sum(n) AS BIGINT) AS tokens_total,
      |  CAST(sum(least(n, 64)) AS BIGINT) AS tokens_kept,
      |  CAST(sum(greatest(n - 64, 0)) AS BIGINT) AS tokens_dropped,
      |  CAST(CAST(sum(greatest(n - 64, 0)) AS BIGINT) AS DOUBLE)
      |    / CAST(sum(n) AS BIGINT) AS drop_fraction
      |FROM w GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- Vocabulary ablation
  /** Tokenizer vocabulary ablation — re-encode the corpus under the
    * first HALF of the frozen merge table and price the damage per
    * source: pieces under the full 16 merges vs under 8, and the
    * inflation ratio. This is the vocab-size sensitivity statistic a
    * tokenizer design sweep produces (how much sequence length does
    * each domain pay if the vocabulary shrinks?), and the ablated
    * table is trivially valid: any PREFIX of a replay-ordered merge
    * table is itself replay-ordered.
    *
    * Scale shape: the corpus reduces to DISTINCT words once; each
    * word is encoded under BOTH tables inside one bounded-vocab
    * `mapPartitions` (the documented Bpe exemption); one join back,
    * one groupBy(source). The A/B comparison costs one extra integer
    * per vocab row — NOT a second corpus pass. Hash-green: the oracle
    * replays both encodes from the two literal tables (the BpeSpec
    * sequential-replace equivalence, applied twice). */
  def qTokenizerAblation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bFull = s.sparkContext.broadcast(
      FrozenMerges.map(m => (m.left, m.right) -> m.rank).toMap)
    val bAbl = s.sparkContext.broadcast(
      FrozenMerges.take(8).map(m => (m.left, m.right) -> m.rank).toMap)
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val pieces = toks.select(col("w")).distinct().as[String]
      .mapPartitions { it =>
        val (f, a) = (bFull.value, bAbl.value)
        it.map(w => (w, graft.text.Bpe.encodeWord(w, f).length,
          graft.text.Bpe.encodeWord(w, a).length))
      }.toDF("w", "n_full_w", "n_abl_w")
    toks.join(pieces, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_full_w")).as("pieces_full"),
        sum(col("n_abl_w")).as("pieces_ablated"))
      .withColumn("inflation",
        col("pieces_ablated").cast("double") / col("pieces_full"))
      .orderBy(col("source"))
  }

  val qTokenizerAblationSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(list_filter(
       |    string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS w
       |  FROM documents
       |), pc AS (
       |  SELECT w, ${piecesReplaySqlExpr("w")} AS nf,
       |    ${piecesReplaySqlExpr("w", FrozenMerges.take(8))} AS na
       |  FROM (SELECT DISTINCT w FROM toks)
       |)
       |SELECT source, count(*) AS n_words,
       |  CAST(sum(nf) AS BIGINT) AS pieces_full,
       |  CAST(sum(na) AS BIGINT) AS pieces_ablated,
       |  CAST(CAST(sum(na) AS BIGINT) AS DOUBLE)
       |    / CAST(sum(nf) AS BIGINT) AS inflation
       |FROM toks JOIN pc USING (w)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- Packing efficiency
  /** Block-grain occupancy audit of the sequence packer — the frame
    * downstream tooling reads to answer "how full are the training
    * blocks and how much cross-document attention bleed is there?":
    * per 512-token block, the number of documents touching it, the
    * number STARTING in it, the tokens actually filled, and the
    * is_full verdict (every block but the final partial one).
    *
    * Scale shape: [[qPackBlocks]]'s two-level distributed prefix scan
    * produces per-doc block intervals; each doc explodes into the
    * blocks it spans (n_blocks rows — bounded by doc length / 512 + 1,
    * NOT corpus size) and one partial-aggregable groupBy(block_id)
    * folds the occupancy. The oracle replays the layout as the naive
    * global window + generate_series, so the hash certifies the
    * packer's intervals AND the occupancy algebra at once. */
  def qPackEfficiency(s: SparkSession, d: String): DataFrame = {
    val weighted = Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
    graft.ops.Packing.blockPack(weighted, "doc_id", "n_tokens",
        blockSize = 512L, bucketWidth = 1024L)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n"),
        col("cum_start"), col("first_block"), col("last_block"))
      .withColumn("block_id", explode(expr("sequence(first_block, last_block)")))
      .withColumn("overlap",
        least(col("cum_start") + col("n"), (col("block_id") + lit(1L)) * lit(512L)) -
          greatest(col("cum_start"), col("block_id") * lit(512L)))
      .groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("first_block") === col("block_id"), 1L).otherwise(0L))
          .as("n_starts"),
        sum(col("overlap")).as("tokens_filled"))
      .withColumn("is_full", col("tokens_filled") === 512L)
      .orderBy(col("block_id"))
  }

  val qPackEfficiencySql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n,
      |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
      |  FROM w WHERE n_tokens > 0
      |), d AS (
      |  SELECT doc_id, n, cum_end - n AS cum_start,
      |    (cum_end - n) // 512 AS fb, (cum_end - 1) // 512 AS lb
      |  FROM c
      |), e AS (
      |  SELECT d.*, u.b AS block_id
      |  FROM d, unnest(generate_series(fb, lb)) u(b)
      |)
      |SELECT block_id, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN fb = block_id THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
      |  CAST(sum(least(cum_start + n, (block_id + 1) * 512)
      |    - greatest(cum_start, block_id * 512)) AS BIGINT) AS tokens_filled,
      |  CAST(sum(least(cum_start + n, (block_id + 1) * 512)
      |    - greatest(cum_start, block_id * 512)) AS BIGINT) = 512 AS is_full
      |FROM e GROUP BY block_id ORDER BY block_id""".stripMargin

  /** Intra-document repetition signals — the within-doc quality filter
    * (repeated boilerplate, keyword stuffing, degenerate generations):
    * duplicate-trigram ratio plus the most-frequent-token share.
    *
    * Scale shape: trigram stats are per-row array algebra (no shuffle);
    * the top-token share needs a (doc, token) count — partial-
    * aggregable groupBy, then a per-doc max, both narrow fixed-width
    * aggregates. No windows. */
  def qTextRepetition(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val trig = base
      .withColumn("trig",
        when(size(col("toks")) >= 3,
          expr("transform(sequence(1, size(toks)-2), i -> concat_ws(' ', slice(toks, i, 3)))"))
          .otherwise(expr("cast(array() as array<string>)")))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        size(col("trig")).as("n_trigrams"),
        size(array_distinct(col("trig"))).as("n_distinct_trigrams"))
    val topTok = base
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_cnt"))
    trig.join(topTok, Seq("doc_id"))
      .select(col("doc_id"), col("n_trigrams").cast("long").as("n_trigrams"),
        col("n_distinct_trigrams").cast("long").as("n_distinct_trigrams"),
        when(col("n_trigrams") > 0,
          lit(1.0) - col("n_distinct_trigrams").cast("double") / col("n_trigrams"))
          .otherwise(lit(0.0)).as("rep_ratio"),
        (col("top_cnt").cast("double") / col("n_tokens")).as("top_token_ratio"))
      .orderBy(col("doc_id"))
  }

  val qTextRepetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, len(toks) AS n_tokens,
      |    CASE WHEN len(toks) >= 3
      |      THEN list_transform(generate_series(1, len(toks) - 2),
      |             i -> array_to_string(toks[i:i+2], ' '))
      |      ELSE CAST([] AS VARCHAR[]) END AS trig
      |  FROM t
      |), m AS (
      |  SELECT doc_id, max(c) AS top_cnt FROM (
      |    SELECT doc_id, tok, count(*) AS c
      |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      |    GROUP BY doc_id, tok)
      |  GROUP BY doc_id
      |)
      |SELECT s.doc_id,
      |  CAST(len(trig) AS BIGINT) AS n_trigrams,
      |  CAST(len(list_distinct(trig)) AS BIGINT) AS n_distinct_trigrams,
      |  CASE WHEN len(trig) > 0
      |    THEN 1.0 - CAST(len(list_distinct(trig)) AS DOUBLE) / len(trig)
      |    ELSE 0.0 END AS rep_ratio,
      |  CAST(m.top_cnt AS DOUBLE) / s.n_tokens AS top_token_ratio
      |FROM s JOIN m USING (doc_id)
      |ORDER BY s.doc_id""".stripMargin

  /** Adjacent-pair frequencies over BPE-ish pre-tokenizer units — the
    * counting step a BPE vocabulary induction iterates: the 20 most
    * frequent unit bigrams corpus-wide (the first merge candidates).
    *
    * Scale shape: per-row unit extraction + pair explode, a partial-
    * aggregable groupBy(pair) count, then top-k as orderBy+limit —
    * TakeOrderedAndProject (per-partition heaps), NEVER a global
    * row_number window over the vocab²-sized pair table. Tie-break on
    * the pair string keeps the cut deterministic across engines. */
  def qBpePairs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(regexp_extract_all(lower(col("text")),
        lit("""\p{L}+|\p{N}+|[^\p{L}\p{N}\s]"""), lit(0)).as("units"))
      .withColumn("pair",
        explode(when(size(col("units")) >= 2,
          expr("transform(sequence(1, size(units)-1), i -> concat_ws(' ', slice(units, i, 2)))"))
          .otherwise(expr("cast(array() as array<string>)"))))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  val qBpePairsSql: String =
    """WITH u AS (
      |  SELECT regexp_extract_all(lower(text), '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]') AS units
      |  FROM documents
      |), p AS (
      |  SELECT array_to_string(units[i:i+1], ' ') AS pair
      |  FROM u, unnest(generate_series(1, len(units) - 1)) t(i)
      |  WHERE len(units) >= 2
      |)
      |SELECT pair, count(*) AS n
      |FROM p GROUP BY pair
      |ORDER BY n DESC, pair
      |LIMIT 20""".stripMargin

  /** Heavy hitters — approx_top_k (DataSketches frequent-items) over
    * the corpus token stream: the 100 TB replacement for exact top-k
    * term counting when the vocabulary doesn't fit an exact aggregate.
    * The sketch is partial-aggregable (per-partition sketches merge),
    * so the shuffle carries one sketch per partition, never the term
    * counts. Rows-only like the HLL tier (sketch layout is
    * engine-specific); TextAnalysisSpec pins the exact-phase contract:
    * with maxItemsTracked above the corpus vocabulary, returned counts
    * EQUAL the exact counts and the top-k set is the true one. */
  def qHeavyHitters(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      .agg(expr("approx_top_k(term, 10, 100000)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("term"), col("e.count").as("n"))
      .orderBy(col("n").desc, col("term"))

  /** Hash-checkable companion of [[qHeavyHitters]] — the exact
    * re-count phase a production heavy-hitter pipeline runs after the
    * sketch pass: sketch → small candidate set → broadcast semi-join →
    * exact count of candidates only. Counts leave the sketch, so the
    * driver's hash gate applies.
    *
    * Uses the φ-frequent formulation (all terms with count > N/200,
    * φ = 0.5%) rather than a top-k cut: a top-k boundary can tie and
    * the sketch's internal tie-break need not match the oracle's,
    * whereas an integer count vs the exact N/200.0 threshold compares
    * identically on both engines — no tie fragility. At most 199 terms
    * can exceed N/200, so k = 200 sketch candidates is a guaranteed
    * superset while maxItemsTracked covers the vocabulary (then sketch
    * counts are exact); if the vocabulary ever exceeded it, the
    * classic sketch guarantee (reported ≥ true − εN, ε = 1/tracked)
    * still keeps every φ-frequent term in the candidate set because
    * φ ≫ ε.
    *
    * Scale shape: two passes over the token stream, but the second
    * counts only candidate matches after a ≤200-row broadcast
    * semi-join — the full-vocabulary groupBy never happens, which is
    * the point of the sketch at 100 TB. The total-count scalar rides
    * in on a 1-row broadcast. */
  def qHeavyHittersExact(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
    val total = toks.agg(count(lit(1)).as("total"))
    val candidates = toks
      .agg(expr("approx_top_k(term, 200, 100000)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("term"))
    toks.join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .where(col("n") > col("total") / 200.0)
      .select(col("term"), col("n"))
      .orderBy(col("n").desc, col("term"))
  }

  val qHeavyHittersExactSql: String =
    """WITH t AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents
      |), c AS (
      |  SELECT term, count(*) AS n FROM t GROUP BY term
      |)
      |SELECT term, n FROM c
      |WHERE n > (SELECT sum(n) FROM c) / 200.0
      |ORDER BY n DESC, term""".stripMargin

  /** BPE tokenizer TRAINING (vs [[qBpePairs]], which only counts one
    * round of pairs): learn the first 10 merges from the corpus word-
    * frequency table — see [[graft.text.Bpe]] for the scale shape.
    * Iterative argmax is not SQL-expressible → rows-only; `BpeSpec`
    * pins the merge sequence against an in-memory reference. */
  def qBpeTrain(s: SparkSession, d: String): DataFrame =
    graft.text.Bpe.mergeTable(s,
      Tables.documents(s, d).select(col("text")), numMerges = 10)

  /** BPE tokenizer APPLICATION — train on the corpus, then encode the
    * corpus with the learned table and report per-doc whitespace-token
    * vs BPE-piece counts (the number packing/budgeting actually
    * needs). The per-word greedy merge loop is not SQL-expressible →
    * rows-only; `BpeSpec` pins the encoder against an in-memory
    * replay of the learned merges. See [[graft.text.Bpe.encodeStats]]
    * for the vocab-bounded distribution shape. */
  // ONE 30-merge table per (process, scale dir): the tokenizer is an
  // artifact shared by the encode query and the round-trip gate, not a
  // per-query cost (the ivfIndexFor build-once contract; q_bpe_train
  // keeps measuring the training loop itself at its own budget).
  private def merges30(s: SparkSession, d: String): Seq[graft.text.Bpe.Merge] =
    graft.BuildTimes.once("bpe_merge_table_build", d) {
      graft.text.Bpe.learnMerges(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        numMerges = 30)
    }

  def qBpeEncode(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.text.Bpe.encodeStats(docs, merges30(s, d))
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"))
      .orderBy(col("doc_id"))
  }

  /** Round-trip inversion gate for the BPE tier ([[qBpeTrain]] /
    * [[qBpeEncode]] are rows-only — the merge loop isn't
    * SQL-expressible): train the same 30-merge table as the encode
    * query, encode the corpus vocabulary with the pieces KEPT, and
    * assert the decoder's contract distributed-side — (a)
    * decode(encode(w)) == w for EVERY distinct word (concatenating
    * the pieces is the BPE decoder; any piece loss, reorder, or
    * boundary slip breaks a word), (b) every multi-character piece is
    * the output of a LEARNED merge (pieces come from the trained
    * vocabulary, nowhere else — the closed-vocabulary invariant a
    * real tokenizer ships with), and (c) the full merge budget was
    * learned and actually contracts the corpus (merge count == vocab
    * growth of 30 new symbols; at least one word shrinks). The DuckDB
    * twin is the literal expected frame; fail-closed on
    * `vocab_nonempty`. */
  def qBpeRoundtrip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val merges = merges30(s, d)
    val enc = graft.text.Bpe.encodePiecesByWord(docs, merges)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nWords = enc.count()
      val badRoundtrip = enc
        .filter(concat_ws("", col("pieces")) =!= col("w")).count()
      import s.implicits._
      val learned = merges.map(m => m.left + m.right).distinct.toDF("sym")
      val foreignPieces = enc.select(explode(col("pieces")).as("p"))
        .filter(length(col("p")) > 1)
        .join(learned, col("p") === col("sym"), "left_anti").count()
      val contracted = enc.filter(size(col("pieces")) < length(col("w"))).count()
      Seq(("bpe", nWords > 0, badRoundtrip == 0L, foreignPieces == 0L,
          merges.size == 30 && contracted > 0))
        .toDF("tier", "vocab_nonempty", "decode_inverts_encode",
          "pieces_from_learned_vocab", "merges_learned_and_applied")
    } finally { enc.unpersist(); () }
  }

  val qBpeRoundtripSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('bpe', true, true, true, true))
      |  t(tier, vocab_nonempty, decode_inverts_encode,
      |    pieces_from_learned_vocab, merges_learned_and_applied)""".stripMargin

  /** Overlapping token-window chunking ([[graft.text.Chunker]]):
    * 64-token windows, stride 48 (16 tokens of overlap). Hash-checked
    * end to end — window starts, short-tail handling, the
    * at-least-one-chunk rule, and the empty-doc exclusion are all
    * replayed by the oracle's generate_series twin. */
  def qChunkDocuments(s: SparkSession, d: String): DataFrame =
    graft.text.Chunker.chunk(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      sizeTokens = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_id"))

  val qChunkDocumentsSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
      |  FROM documents
      |), sized AS (
      |  SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) > 0
      |)
      |SELECT doc_id, u.k AS chunk_id,
      |  least(64, n - u.k * 48) AS n_tokens,
      |  array_to_string(list_slice(toks, u.k * 48 + 1, u.k * 48 + 64), ' ') AS chunk_text
      |FROM sized,
      |  unnest(generate_series(0, greatest(0, CAST(ceil((n - 64) / 48.0) AS INT)))) AS u(k)
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Gopher-style hard rule gate ([[TextAnalysis.withGopherRules]]):
    * per-doc boolean rule flags + keep verdict. Flags are comparisons
    * of exact integer divisions against constants — fully
    * deterministic, hash-oracled without rounding. */
  def qQualityGopher(s: SparkSession, d: String): DataFrame =
    TextAnalysis.withGopherRules(
      graft.ops.Spread.perRow(Tables.documents(s, d), col("doc_id")))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("r_word_count"), col("r_word_len"), col("r_alpha_words"),
        col("r_symbol_ratio"), col("r_stopwords"), col("keep"))
      .orderBy(col("doc_id"))

  val qQualityGopherSql: String = {
    val stop = TextAnalysis.GopherStopList.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH w AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_words,
       |    string_split_regex(lower(trim(text)), '\\s+') AS words,
       |    length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS symbol_chars
       |  FROM documents
       |), m AS (
       |  SELECT doc_id, n_words,
       |    CASE WHEN n_words > 0
       |         THEN CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / n_words
       |         ELSE 0.0 END AS mean_word_len,
       |    CASE WHEN n_words > 0
       |         THEN CAST(len(list_filter(words, x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE) / n_words
       |         ELSE 0.0 END AS alpha_ratio,
       |    CASE WHEN n_words > 0
       |         THEN CAST(symbol_chars AS DOUBLE) / n_words ELSE 0.0 END AS symbol_ratio,
       |    len(list_filter($stop, s -> list_contains(words, s))) AS stop_hits
       |  FROM w
       |)
       |SELECT doc_id, n_words, mean_word_len,
       |  n_words >= 25 AND n_words <= 80 AS r_word_count,
       |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_word_len,
       |  alpha_ratio >= 0.8 AS r_alpha_words,
       |  symbol_ratio <= 0.1 AS r_symbol_ratio,
       |  stop_hits >= 2 AS r_stopwords,
       |  (n_words >= 25 AND n_words <= 80) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
       |    AND alpha_ratio >= 0.8 AND symbol_ratio <= 0.1 AND stop_hits >= 2 AS keep
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------- Tokenizer fertility
  /** Tokenizer fertility by source — subword units per whitespace
    * word, the tokenizer-efficiency diagnostic that prices a corpus
    * in GPU-hours (fertility ≈ 2 means a "1T-token" corpus costs
    * double the naive word-count estimate; per-source fertility flags
    * the domains a vocabulary serves badly — code, non-Latin scripts,
    * URLs). This row is the cheap REGEX-UNIT proxy (no merge table —
    * a pre-tokenizer unit count); [[qTokenizerFertilityBpe]] prices
    * the same mixture under the frozen LEARNED merge table, with
    * bytes/piece alongside. One narrow per-row projection (the two counters are
    * codegen'd regex/size expressions) and a partial-aggregable
    * groupBy(source). Integer-sum ratio is a single double division —
    * bit-identical across engines; rounded at 9 as belt and braces. */
  def qTokenizerFertility(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("bpe"))
      .groupBy(col("source"))
      .agg(sum(col("ws")).as("n_words"), sum(col("bpe")).as("n_units"),
        round(sum(col("bpe")).cast("double") / sum(col("ws")), 9).as("fertility"))
      .orderBy(col("source"))

  val qTokenizerFertilitySql: String =
    """WITH c AS (
      |  SELECT source,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS ws,
      |    len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS bpe
      |  FROM documents
      |)
      |SELECT source, CAST(sum(ws) AS BIGINT) AS n_words,
      |  CAST(sum(bpe) AS BIGINT) AS n_units,
      |  round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 9) AS fertility
      |FROM c GROUP BY source
      |ORDER BY source""".stripMargin

  // --------------------------------------------- Vocabulary growth curve
  /** Novel n-gram growth curve — how many previously-unseen word
    * 3-shingles each 5%-of-corpus slice contributes, plus the running
    * vocabulary size. The crawl-saturation diagnostic: a flattening
    * curve means new data is mostly re-crawl (stop paying for it); the
    * same statistic drives dedup-rate forecasts and tokenizer-vocab
    * sizing.
    *
    * Scale shape: one explode + a partial-aggregable
    * groupBy(shingle) min(doc_id) — the shuffle carries ≤ |vocab|
    * pre-combined rows per map task, never the occurrence stream —
    * then bucketing against a 1-row broadcast bounds frame and a
    * second partial agg down to ≤ 20 rows. The cumulative sum windows
    * over that 20-row frame (bounded by construction, same argument
    * as the distinct-source index). Pure integer arithmetic: bucket =
    * (first_doc - lo) * 20 div (hi - lo) — identical `div` on both
    * engines, no float anywhere. */
  def qVocabGrowth(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val bounds = docs.agg(min(col("doc_id")).as("lo"),
      (max(col("doc_id")) + 1L).as("hi"))
    val shingles = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(when(size(col("toks")) >= 3,
        expr("transform(sequence(1, size(toks)-2), i -> concat_ws(' ', slice(toks, i, 3)))"))
        .otherwise(expr("cast(array() as array<string>)"))).as("shingle"))
    shingles.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(bounds))
      .withColumn("bucket", expr("CAST((first_doc - lo) * 20 div (hi - lo) AS INT)"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
      .withColumn("vocab_size",
        sum(col("n_new")).over(org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))))
      .orderBy(col("bucket"))
  }

  val qVocabGrowthSql: String =
    """WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) + 1 AS hi FROM documents),
      |u AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM u, unnest(generate_series(1, len(toks) - 2)) t(i)
      |  WHERE len(toks) >= 3
      |), fs AS (
      |  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
      |), bu AS (
      |  SELECT CAST((fs.first_doc - b.lo) * 20 // (b.hi - b.lo) AS INT) AS bucket
      |  FROM fs CROSS JOIN b
      |), nb AS (
      |  SELECT bucket, count(*) AS n_new FROM bu GROUP BY bucket
      |)
      |SELECT bucket, n_new,
      |  CAST(sum(n_new) OVER (ORDER BY bucket) AS BIGINT) AS vocab_size
      |FROM nb ORDER BY bucket""".stripMargin

  // ------------------------------------------------ URL canonicalization
  /** URL canonicalization dedup ([[TextAnalysis.canonicalUrl]]) — fold
    * raw crawl URLs (case variants, tracking params, fragments,
    * trailing slashes) onto one canonical key and report, per
    * canonical URL, the occurrence count and how many distinct raw
    * spellings it absorbed. The de-facto first dedup pass of any
    * crawler frontier.
    *
    * The corpus has no URLs (q_url_domains' planted-link pattern), so
    * each doc contributes two messy spellings of the same logical URL
    * — `https://<source>.example.com/p/<doc_id%50>?utm_campaign=<id>
    * &utm_source=x` and `HTTPS://<SOURCE>.EXAMPLE.COM/p/<k>/#sec-<id>`
    * — and the oracle knows the exact expected histogram analytically
    * from (source, doc_id%50) alone: any canonicalization defect
    * (case left in the host, a surviving utm param, an unstripped
    * fragment or trailing slash) splits a group and breaks the hash.
    *
    * Scale shape: narrow codegen'd expressions per row, then ONE
    * partial-aggregable groupBy(canonical) carrying (count, distinct
    * raw) — the raw-form distinct is exact per group via a two-level
    * agg, both levels map-side combinable. */
  def qUrlNormalize(s: SparkSession, d: String): DataFrame = {
    val raws = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), (col("doc_id") % 50).as("k"))
      .select(explode(array(
        concat(lit("https://"), col("source"), lit(".example.com/p/"), col("k"),
          lit("?utm_campaign="), col("doc_id"), lit("&utm_source=x")),
        concat(lit("HTTPS://"), upper(col("source")), lit(".EXAMPLE.COM/p/"), col("k"),
          lit("/#sec-"), col("doc_id")))).as("raw"))
    raws.select(TextAnalysis.canonicalUrl(col("raw")).as("url"), col("raw"))
      .groupBy(col("url"), col("raw")).agg(count(lit(1)).as("c"))
      .groupBy(col("url"))
      .agg(sum(col("c")).as("n_urls"), count(lit(1)).as("n_raw_forms"))
      .orderBy(col("url"))
  }

  val qUrlNormalizeSql: String =
    """WITH g AS (
      |  SELECT source, doc_id % 50 AS k, count(*) AS nd
      |  FROM documents GROUP BY source, doc_id % 50
      |)
      |SELECT 'https://' || source || '.example.com/p/' || k AS url,
      |  2 * nd AS n_urls, 2 * nd AS n_raw_forms
      |FROM g ORDER BY url""".stripMargin

  /** Incremental decontamination — the contamination member of the
    * incremental-contract family: the train set's distinct trigram
    * DIGESTS (xxhash64 → 8 bytes/shingle, the production index
    * artifact) persist to parquet ONCE; a new eval batch then screens
    * against the RELOADED index — train is never re-shingled. The
    * delta re-offers the train docs as eval candidates (ids offset —
    * the "did our new eval batch leak from train" case, ratio 1.0 by
    * construction) alongside the held-out odd docs (their natural
    * overlap). The DuckDB twin replays both rules with RAW trigram
    * strings, so the digest representation is itself under test
    * (q_dedup_incremental's contract: a hash collision or truncation
    * would flip a row). Ratios are single int/int divisions —
    * bit-identical across engines, no rounding needed.
    *
    * Scale shape: state build is one partial-aggregable distinct over
    * train shingles; each increment shuffles only the delta's digests
    * against the index equi-join (broadcast when the index fits, SMJ
    * when not — no hint, AQE decides). History cost is ZERO per
    * batch, which is the point at a 100 TB train set. */
  def qContaminationIncremental(s: SparkSession, d: String): DataFrame = {
    def shingles(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("shingles",
        when(size(col("toks")) >= 3,
          expr("transform(sequence(1, size(toks)-2), i -> concat_ws(' ', slice(toks, i, 3)))"))
          .otherwise(expr("cast(array() as array<string>)")))
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // one persisted train-shingle index per (process, scale dir): the
    // artifact under test is the parquet round-trip + digest semi-join
    val dir = graft.BuildTimes.onceDir("contamination_index_build", d) { p =>
      shingles(docs.filter(col("doc_id") % 2 === 0))
        .select(xxhash64(col("sh")).as("dig")).distinct()
        .write.mode("overwrite").parquet(p)
      p
    }
    val index = s.read.parquet(dir).withColumn("hit", lit(1))
    val delta = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + DedupQueries.IdOffset).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 2 === 1))
    val agg = shingles(delta)
      .select(col("doc_id"), xxhash64(col("sh")).as("dig")).distinct()
      .join(index, Seq("dig"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_contaminated"))
    delta.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          col("n_contaminated").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("contamination_ratio"))
      .orderBy(col("doc_id"))
  }

  val qContaminationIncrementalSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), sh AS (
       |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
       |  FROM d, unnest(range(1, greatest(len(toks)-1, 1))) t(i)
       |), tr AS (
       |  SELECT DISTINCT sh FROM sh WHERE doc_id % 2 = 0
       |), delta AS (
       |  SELECT doc_id + ${DedupQueries.IdOffset} AS doc_id, text FROM documents
       |  WHERE doc_id % 2 = 0
       |  UNION ALL
       |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
       |), dd AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM delta
       |), ds AS (
       |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
       |  FROM dd, unnest(range(1, greatest(len(toks)-1, 1))) t(i)
       |), agg AS (
       |  SELECT ds.doc_id, count(*) AS n_shingles,
       |    count(tr.sh) AS n_contaminated
       |  FROM ds LEFT JOIN tr USING (sh)
       |  GROUP BY ds.doc_id
       |)
       |SELECT delta.doc_id,
       |  coalesce(agg.n_shingles, 0) AS n_shingles,
       |  coalesce(agg.n_contaminated, 0) AS n_contaminated,
       |  CASE WHEN coalesce(agg.n_shingles, 0) > 0
       |       THEN CAST(agg.n_contaminated AS DOUBLE) / agg.n_shingles
       |       ELSE 0.0 END AS contamination_ratio
       |FROM delta LEFT JOIN agg USING (doc_id)
       |ORDER BY delta.doc_id""".stripMargin

  /** Incremental heavy hitters — the streaming-state member of the
    * incremental-contract family (exact, MinHash, curation, IVF,
    * PageRank, SemDeDup): yesterday's corpus lives on as ONE persisted
    * DataSketches frequent-items sketch row (approx_top_k_accumulate
    * → parquet) plus a 1-row total; today's delta accumulates its own
    * sketch, the two MERGE via approx_top_k_combine — history is
    * never re-tokenized — and the φ-frequent cut (count > N/200, the
    * q_heavy_hitters_exact formulation: threshold compares never tie)
    * comes off the combined estimate. The delta appends a planted
    * token 3× per doc, hot enough to enter the φ-set only across the
    * merged totals — a combine defect (dropped state, double-count)
    * moves an integer count and breaks the hash.
    *
    * Hash-oracled under the documented exactness precondition: with
    * maxItemsTracked (1e5) above the merged vocabulary the sketch
    * counts EQUAL exact counts (no error term), so the DuckDB twin
    * recounts history ∪ delta from raw text. At a real 100 TB
    * vocabulary the estimate keeps every φ-frequent term (φ ≫ ε =
    * 1/tracked) and a production pipeline re-counts candidates
    * exactly as q_heavy_hitters_exact does; state stays two tiny
    * parquet artifacts either way. */
  def qHeavyHittersIncremental(s: SparkSession, d: String): DataFrame = {
    def toks(df: DataFrame) =
      df.select(explode(TextAnalysis.tokens(col("text"))).as("term"))
    val docs = Tables.documents(s, d).select(col("text"))
    // one persisted sketch-state generation per (process, scale dir):
    // the artifact under test is the parquet round-trip + sketch merge
    val dir = graft.BuildTimes.onceDir("heavy_hitters_state_build", d) { p =>
      toks(docs).agg(expr("approx_top_k_accumulate(term, 100000)").as("sk"))
        .write.mode("overwrite").parquet(s"$p/sketch")
      toks(docs).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$p/total")
      p
    }
    val delta = docs.select(
      concat(col("text"), lit(" graftdelta graftdelta graftdelta")).as("text"))
    val deltaSk = toks(delta)
      .agg(expr("approx_top_k_accumulate(term, 100000)").as("sk"))
    val combined = s.read.parquet(s"$dir/sketch").unionByName(deltaSk)
      .agg(expr("approx_top_k_combine(sk, 100000)").as("sk"))
      .select(explode(expr("approx_top_k_estimate(sk, 200)")).as("e"))
      .select(col("e.item").as("term"), col("e.count").cast("long").as("n"))
    val total = s.read.parquet(s"$dir/total")
      .unionByName(toks(delta).agg(count(lit(1)).as("n")))
      .agg(sum(col("n")).as("total"))
    combined.crossJoin(broadcast(total))
      .where(col("n") > col("total") / 200.0)
      .select(col("term"), col("n"))
      .orderBy(col("n").desc, col("term"))
  }

  val qHeavyHittersIncrementalSql: String =
    """WITH corpus AS (
      |  SELECT text FROM documents
      |  UNION ALL
      |  SELECT text || ' graftdelta graftdelta graftdelta' FROM documents
      |), t AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM corpus
      |), c AS (
      |  SELECT term, count(*) AS n FROM t GROUP BY term
      |)
      |SELECT term, n FROM c
      |WHERE n > (SELECT sum(n) FROM c) / 200.0
      |ORDER BY n DESC, term""".stripMargin

  // ------------------------------------------------ PMI collocations
  /** [[qCollocations]]'s corpus-proportional stage, un-checkpointed
    * (ExplainDump prints it — the end-to-end dump hides it behind the
    * Scan ExistingRDD shell): (token, successor) per position,
    * successor NULL at the last position — ONE scan feeds both the
    * pair joints and (by re-agg) the unigram margins, so the corpus
    * is never read twice. */
  private[graft] def collocationPositions(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(split(col("text"), " ").as("l"))
      .select(explode(expr(
        "transform(l, (t, i) -> struct(t as a, try_element_at(l, i + 2) as b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .where(col("a") =!= "")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"))

  /** Pointwise-mutual-information collocation mining — the top-20
    * adjacent word pairs that co-occur far above chance (Church &
    * Hanks CL'90), with a min-count floor so rare accidental pairs
    * can't dominate: the phrase detector feeding tokenizer vocab
    * decisions ("new york" as one unit) and boilerplate discovery.
    * PMI uses token-frequency unigram margins and pair-frequency
    * joints: ln(P(ab)/(P(a)P(b))) = ln(n_ab·N_tok²/(N_pair·n_a·n_b)).
    *
    * Scale shape: ONE corpus-proportional stage — each document emits
    * its (token, successor-or-NULL) positions IN-ROW (transform over
    * the split array, no window, no self-join) into a single
    * partial-aggregable groupBy; every downstream frame (unigram
    * margins re-aggregated from the bigram frame, the two margin
    * joins, the 1-row totals) is bigram-vocab-bounded, and the final
    * top-20 compiles to TakeOrderedAndProject. The margin joins carry
    * no broadcast hint on purpose (tfidf's rationale: a hint never
    * auto-degrades; AQE picks broadcast when the vocab fits).
    *
    * Floats: counts are exact integers on both engines; pmi is one
    * terminal expression whose products stay under 2^53, rounded at 9
    * BEFORE ranking because ln() is libm-dependent (~1 ulp across
    * engines — the float-determinism policy, COVERAGE.md), with the
    * (a, b) tie-break resolving exact-9-decimal ties. Adjacency note:
    * BOTH engines split on a single literal space and drop pairs
    * touching an empty token, so cross-engine agreement holds for any
    * input — but unlike the \s+ multiset tokenizers elsewhere,
    * adjacency is position-sensitive: a multi-space gap SEVERS the
    * pair rather than bridging it. The harness corpus is single-space
    * separated (verified: zero multi-space/tab/newline docs), so the
    * severed-pair semantics never engages. */
  def qCollocations(s: SparkSession, d: String): DataFrame = {
    // bigram-vocab-bounded frame reused by FOUR plan branches (uni,
    // n_pair, the join probe) — materialize once or each branch
    // re-plans the corpus scan (the r12 shared-subframe lesson)
    val pos = collocationPositions(s, d).localCheckpoint()
    val uni = pos.groupBy(col("a").as("term")).agg(sum(col("n")).as("n_t"))
    val totals = uni.agg(sum(col("n_t")).as("n_tok"))
      .crossJoin(pos.where(col("b").isNotNull && col("b") =!= "")
        .agg(sum(col("n")).as("n_pair")))
    val pairs = pos.where(col("b").isNotNull && col("b") =!= "" &&
        col("n") >= 5)
      .join(uni.withColumnRenamed("term", "a").withColumnRenamed("n_t", "n_a"), "a")
      .join(uni.withColumnRenamed("term", "b").withColumnRenamed("n_t", "n_b"), "b")
      .crossJoin(broadcast(totals))
    pairs.select(col("a"), col("b"), col("n").as("n_ab"),
        round(log(col("n").cast("double") * col("n_tok") * col("n_tok") /
          (col("n_pair").cast("double") * col("n_a") * col("n_b"))), 9)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(20)
  }

  val qCollocationsSql: String =
    """WITH toks AS (
      |  SELECT string_split(text, ' ') AS l FROM documents
      |), pos AS (
      |  SELECT l[i] AS a, l[i + 1] AS b
      |  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)
      |), pc AS (
      |  SELECT a, b, count(*) AS n FROM pos WHERE a <> '' GROUP BY a, b
      |), uni AS (
      |  SELECT a AS term, sum(n) AS n_t FROM pc GROUP BY a
      |), tot AS (
      |  SELECT (SELECT sum(n_t) FROM uni) AS n_tok,
      |         (SELECT sum(n) FROM pc
      |          WHERE b IS NOT NULL AND b <> '') AS n_pair
      |)
      |SELECT pc.a, pc.b, pc.n AS n_ab,
      |  round(ln(CAST(pc.n AS DOUBLE) * n_tok * n_tok /
      |    (CAST(n_pair AS DOUBLE) * ua.n_t * ub.n_t)), 9) AS pmi
      |FROM pc CROSS JOIN tot
      |JOIN uni ua ON ua.term = pc.a
      |JOIN uni ub ON ub.term = pc.b
      |WHERE pc.b IS NOT NULL AND pc.b <> '' AND pc.n >= 5
      |ORDER BY pmi DESC, pc.a, pc.b LIMIT 20""".stripMargin

  // ------------------------------------------------- Readability scoring
  /** Flesch reading-ease per document — the classical readability
    * axis of corpus quality scoring (too-low often flags legalese /
    * machine-generated boilerplate, implausibly-high flags word-salad):
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)` with
    * whitespace-token words, `[.!?]+` run sentence boundaries
    * (floored at 1 — the harness corpus is unpunctuated, so every doc
    * reads as one long sentence, which IS the honest degenerate), and
    * the standard vowel-group syllable heuristic.
    *
    * Scale shape: three in-row regexp counters over one narrow
    * projection — no explode, no shuffle beyond the terminal sort
    * (q_char_entropy's in-row discipline).
    *
    * Floats (class-1): all three counts are exact integers on both
    * engines (identical regex semantics on this ASCII corpus); the
    * score is ONE fixed terminal IEEE tree (two exact-integer
    * divisions, two constant multiplies, two subtractions) —
    * deterministic cross-engine, no rounding. Empty docs emit NULL
    * via the words > 0 guard. */
  def qReadability(s: SparkSession, d: String): DataFrame = {
    val words = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
    val sents = greatest(lit(1),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))))
    val sylls = size(regexp_extract_all(lower(col("text")),
      lit("[aeiouy]+"), lit(0)))
    Tables.documents(s, d)
      .select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
        sylls.as("n_syllables"))
      .withColumn("flesch", when(col("n_words") > 0,
        lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words"))))
      .orderBy(col("doc_id"))
  }

  val qReadabilitySql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\S+')) AS n_words,
      |  greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
      |  len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables,
      |  CASE WHEN len(regexp_extract_all(text, '\S+')) > 0 THEN
      |    206.835
      |    - 1.015 * (CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
      |               / greatest(1, len(regexp_extract_all(text, '[.!?]+'))))
      |    - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |                   AS DOUBLE)
      |              / len(regexp_extract_all(text, '\S+')))
      |  END AS flesch
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- TextRank keywords
  /** TextRank keyword extraction (Mihalcea & Tarau EMNLP'04): corpus
    * keywords = PageRank over the word co-occurrence graph — content
    * words (length ≥ 4, the classical POS-filter stand-in) are
    * vertices, adjacent-pair counts with a ≥ 3 floor are undirected
    * weighted edges, and 5 damped rounds of [[graft.graph.PageRank]]
    * rank centrality. The unsupervised keyword/keyphrase seeder used
    * for corpus topic audits and vocab curation — and the composition
    * the graph tier exists for: the SAME operator ranks domains by
    * link structure ([[graft.queries.AnalyticsQueries]]' domain
    * PageRank) and words by co-occurrence, only the edge derivation
    * changes.
    *
    * Scale shape: the only corpus-proportional stage is
    * [[collocationPositions]]' in-row pairing groupBy (no windows, no
    * self-joins); the symmetrized edge frame is bigram-vocab-bounded
    * (the ≥ 3 floor prunes the accidental-pair tail), PageRank
    * checkpoints the reduced graph ONCE and iterates on
    * |vocab|-bounded frames, and the top-20 compiles to
    * TakeOrderedAndProject.
    *
    * Floats: per-round in-rank sums are order-sensitive doubles —
    * scores round at 9 BEFORE the rank cutoff (the domain-PageRank
    * precedent: irrational-valued, never boundary-sitting) with the
    * word tie-break resolving exact ties; the oracle unrolls the same
    * 5 rounds as CTEs. */
  def qTextrankKeywords(s: SparkSession, d: String): DataFrame = {
    val wf = collocationPositions(s, d)
      .where(length(col("a")) >= 4 && col("b").isNotNull &&
        length(col("b")) >= 4 && col("n") >= 3)
    val edges = wf.select(col("a").as("src"), col("b").as("dst"), col("n"))
      .unionAll(wf.select(col("b").as("src"), col("a").as("dst"), col("n")))
      .groupBy(col("src"), col("dst")).agg(sum(col("n")).as("weight"))
    graft.graph.PageRank.pageRank(edges, iters = 5, damping = 0.85)
      .select(col("node").as("word"), round(col("pr"), 9).as("score"))
      .orderBy(col("score").desc, col("word"))
      .limit(20)
  }

  val qTextrankKeywordsSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.node, (1.0 - 0.85) / nc.n + 0.85 * coalesce(c.ir, 0.0) AS pr
         |  FROM nodes n CROSS JOIN nc
         |  LEFT JOIN (
         |    SELECT p.dst, sum(p.p * r.pr) AS ir
         |    FROM p JOIN $prev r ON p.src = r.node GROUP BY p.dst
         |  ) c ON n.node = c.dst
         |)""".stripMargin
    val iters = (1 to 5)
      .map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH toks AS (
       |  SELECT string_split(text, ' ') AS l FROM documents
       |), pos AS (
       |  SELECT l[i] AS a, l[i + 1] AS b
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)
       |), pc AS (
       |  SELECT a, b, count(*) AS n FROM pos
       |  WHERE len(a) >= 4 AND b IS NOT NULL AND len(b) >= 4
       |  GROUP BY a, b
       |), wf AS (SELECT a, b, n FROM pc WHERE n >= 3),
       |edges AS (
       |  SELECT a AS src, b AS dst, n AS w FROM wf
       |  UNION ALL SELECT b, a, n FROM wf
       |), e2 AS (SELECT src, dst, sum(w) AS w FROM edges GROUP BY 1, 2),
       |out_w AS (SELECT src, sum(w) AS ow FROM e2 GROUP BY src),
       |p AS (
       |  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS p
       |  FROM e2 e JOIN out_w o ON e.src = o.src
       |), nodes AS (SELECT src AS node FROM e2 UNION SELECT dst FROM e2),
       |nc AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / nc.n AS pr FROM nodes CROSS JOIN nc),
       |$iters
       |SELECT node AS word, round(pr, 9) AS score FROM r5
       |ORDER BY score DESC, word LIMIT 20""".stripMargin
  }

  // ---------------------------------------------- Inter-rater agreement
  /** Cohen's kappa between two independent keep/reject heuristics, per
    * source — the inter-annotator-agreement readout every labeling or
    * filtering pipeline publishes next to its rater verdicts (Cohen
    * Educ.Psychol.Meas.'60): rater A keeps length (n_chars ≥ 250),
    * rater B keeps information mass (≥ 25 DISTINCT whitespace tokens);
    * kappa corrects their raw agreement for the agreement the two
    * base rates produce by chance, so a source where both raters
    * rubber-stamp everything scores ~0, not ~1. Emits the full
    * confusion row (n11/n10/n01/n00), observed agreement po, chance
    * agreement pe, and kappa.
    *
    * Scale shape: ONE corpus-proportional partial-aggregable
    * conditional-count pass (the [[qAbTest]] FILTER-count discipline —
    * both verdicts are per-row expressions, so the confusion matrix
    * needs no join and no second scan); everything after runs on the
    * |sources|-bounded frame.
    *
    * Floats (class-1 integer-exact): both rater verdicts are INTEGER
    * predicates (the token-mass threshold compares a count, never a
    * ratio — no float boundary anywhere), confusion counts and the
    * chance-agreement numerator `(n11+n10)(n11+n01)+(n01+n00)(n10+n00)`
    * are exact integers in DECIMAL(38,0)/HUGEINT (n² ≈ 10^20 per
    * source at the 100 TB tier), and po/pe/kappa are each ONE terminal
    * division of identical exact integers on both engines. The
    * degenerate source where pe = 1 (both raters constant — kappa's
    * 0/0) emits NULL via an explicit denominator guard, mirrored in
    * the twin. */
  def qRaterAgreement(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val ra = when(TextAnalysis.raterChars(col("n_chars")), 1).otherwise(0)
    val rb = when(TextAnalysis.raterTokens(col("text")), 1).otherwise(0)
    val g = Tables.documents(s, d)
      .select(col("source"), ra.as("ra"), rb.as("rb"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        count(when(col("ra") === 1 && col("rb") === 1, lit(1))).as("n11"),
        count(when(col("ra") === 1 && col("rb") === 0, lit(1))).as("n10"),
        count(when(col("ra") === 0 && col("rb") === 1, lit(1))).as("n01"),
        count(when(col("ra") === 0 && col("rb") === 0, lit(1))).as("n00"))
    val peNum = (col("n11") + col("n10")).cast(dec) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")).cast(dec) * (col("n10") + col("n00"))
    val n2 = col("n").cast(dec) * col("n")
    g.select(col("source"), col("n"),
        col("n11"), col("n10"), col("n01"), col("n00"),
        ((col("n11") + col("n00")).cast("double") / col("n")).as("po"),
        (peNum.cast("double") / n2.cast("double")).as("pe"),
        when(n2 - peNum =!= 0,
          (col("n").cast(dec) * (col("n11") + col("n00")) - peNum)
            .cast("double") / (n2 - peNum).cast("double")).as("kappa"))
      .orderBy(col("source"))
  }

  val qRaterAgreementSql: String =
    """WITH v AS (
      |  SELECT source,
      |    CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS ra,
      |    CASE WHEN length(trim(text)) > 0 AND
      |      len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) >= 25
      |      THEN 1 ELSE 0 END AS rb
      |  FROM documents
      |), g AS (
      |  SELECT source, count(*) AS n,
      |    count(*) FILTER (ra = 1 AND rb = 1) AS n11,
      |    count(*) FILTER (ra = 1 AND rb = 0) AS n10,
      |    count(*) FILTER (ra = 0 AND rb = 1) AS n01,
      |    count(*) FILTER (ra = 0 AND rb = 0) AS n00
      |  FROM v GROUP BY source
      |), k AS (
      |  SELECT source, n, n11, n10, n01, n00,
      |    CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
      |      + CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS pe_num
      |  FROM g
      |)
      |SELECT source, n, n11, n10, n01, n00,
      |  CAST(n11 + n00 AS DOUBLE) / n AS po,
      |  CAST(pe_num AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS pe,
      |  CASE WHEN CAST(n AS HUGEINT) * n - pe_num <> 0 THEN
      |    CAST(CAST(n AS HUGEINT) * (n11 + n00) - pe_num AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE)
      |  END AS kappa
      |FROM k ORDER BY source""".stripMargin

  // ----------------------------------------------- Zipf head-heaviness
  /** Per-source Zipf head-heaviness — the corpus-health readout next
    * to [[qVocabGrowth]]: the two-point rank-frequency slope
    * `ln(f₁/f₁₀)/ln(10)` (Zipf's-law exponent estimated from the top
    * and 10th-ranked term — the quick estimator; a full log-log OLS
    * would sum libm outputs in partial-agg order, the exact float
    * class the house avoids, while the two-point form uses only PICKS
    * of exact integer counts). A natural-language source reads ≈ 1;
    * the harness's near-uniform synthetic vocabulary honestly reads
    * ≈ 0.08–0.11 — a flat head, exactly what the readout should say.
    *
    * Scale shape: one corpus-proportional (source, term) count
    * groupBy; ranking runs per source over the VOCAB-bounded term
    * frame (row_number with a term tie-break so equal counts rank
    * deterministically); sources under 10 distinct terms emit NULL.
    *
    * Floats: f₁/f₁₀ is ONE IEEE division of exact integers; each ln
    * is libm on an exact rational → irrational → round(9) cannot
    * boundary-sit (the PSI/benford/DP discipline). */
  def qZipfSlope(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("f").desc, col("term"))
    val ranked = tf.withColumn("r", row_number().over(w))
      .withColumn("n_terms", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
    ranked.groupBy(col("source"))
      .agg(max(col("n_terms")).as("n_terms"),
        max(when(col("r") === 1, col("f"))).as("f1"),
        max(when(col("r") === 10, col("f"))).as("f10"))
      .select(col("source"), col("n_terms"), col("f1"), col("f10"),
        when(col("f10").isNotNull && col("f10") > 0,
          round(log(col("f1").cast("double") / col("f10")) / log(lit(10.0)),
            9)).as("zipf_slope"))
      .orderBy(col("source"))
  }

  val qZipfSlopeSql: String =
    """WITH tf AS (
      |  SELECT source, t AS term, count(*) AS f
      |  FROM (SELECT source,
      |          unnest(list_filter(string_split_regex(lower(trim(text)),
      |            '\s+'), x -> x <> '')) AS t
      |        FROM documents)
      |  GROUP BY 1, 2
      |), rk AS (
      |  SELECT source, term, f,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY f DESC, term) AS r,
      |    count(*) OVER (PARTITION BY source) AS n_terms
      |  FROM tf
      |), g AS (
      |  SELECT source, CAST(max(n_terms) AS BIGINT) AS n_terms,
      |    max(CASE WHEN r = 1 THEN f END) AS f1,
      |    max(CASE WHEN r = 10 THEN f END) AS f10
      |  FROM rk GROUP BY source
      |)
      |SELECT source, n_terms, f1, f10,
      |  CASE WHEN f10 IS NOT NULL AND f10 > 0 THEN
      |    round(ln(CAST(f1 AS DOUBLE) / f10) / ln(10.0), 9)
      |  END AS zipf_slope
      |FROM g ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zipf_slope" -> (qZipfSlope _),
    "q_rater_agreement" -> (qRaterAgreement _),
    "q_collocations" -> (qCollocations _),
    "q_textrank_keywords" -> (qTextrankKeywords _),
    "q_readability" -> (qReadability _),
    "q_vocab_growth" -> (qVocabGrowth _),
    "q_tokenizer_fertility" -> (qTokenizerFertility _),
    "q_url_normalize" -> (qUrlNormalize _),
    "q_heavy_hitters_incremental" -> (qHeavyHittersIncremental _),
    "q_contamination_incremental" -> (qContaminationIncremental _),
    "q_quality_gopher" -> (qQualityGopher _),
    "q_chunk_documents" -> (qChunkDocuments _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_roundtrip" -> (qBpeRoundtrip _),
    "q_langid_mixture" -> (qLangidMixture _),
    "q_text_tokens" -> (qTextTokens _),
    "q_text_quality" -> (qTextQuality _),
    "q_char_entropy" -> (qCharEntropy _),
    "q_text_normalize" -> (qTextNormalize _),
    "q_text_langid" -> (qTextLangId _),
    "q_text_fingerprint" -> (qTextFingerprint _),
    "q_fingerprint_classes" -> (qFingerprintClasses _),
    "q_pii_redact" -> (qPiiRedact _),
    "q_pack_blocks" -> (qPackBlocks _),
    "q_pack_blocks_tokens" -> (qPackBlocksTokens _),
    "q_tokenizer_fertility_bpe" -> (qTokenizerFertilityBpe _),
    "q_length_truncation" -> (qLengthTruncation _),
    "q_tokenizer_ablation" -> (qTokenizerAblation _),
    "q_pack_efficiency" -> (qPackEfficiency _),
    "q_text_repetition" -> (qTextRepetition _),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_heavy_hitters_exact" -> (qHeavyHittersExact _),
    "q_contamination" -> (qContamination _),
    "q_contamination_fuzzy" -> (qContaminationFuzzy _),
    "q_contamination_fuzzy_inc" -> (qContaminationFuzzyInc _),
    "q_contamination_fuzzy_bounds" -> (qContaminationFuzzyBounds _),
    "q_contamination_containment" -> (qContaminationContainment _),
    "q_contamination_containment_inc" -> (qContaminationContainmentInc _),
    "q_contamination_containment_bounds" -> (qContaminationContainmentBounds _),
    "q_contamination_capped" -> (qContaminationCapped _),
    "q_contamination_capped_stats" -> (qContaminationCappedStats _),
    "q_contamination_capped_bounds" -> (qContaminationCappedBounds _),
    "q_contamination_hashed" -> (qContaminationHashed _),
    "q_contamination_bloom" -> (qContaminationBloom _),
    "q_corpus_profile" -> (qCorpusProfile _),
    "q_html_strip" -> (qHtmlStrip _),
    "q_dedup_lines" -> (qDedupLines _),
    "q_url_domains" -> (qUrlDomains _))

  val oracles: Map[String, String] = Map(
    "q_rater_agreement" -> qRaterAgreementSql,
    "q_zipf_slope" -> qZipfSlopeSql,
    "q_collocations" -> qCollocationsSql,
    "q_textrank_keywords" -> qTextrankKeywordsSql,
    "q_readability" -> qReadabilitySql,
    "q_vocab_growth" -> qVocabGrowthSql,
    "q_tokenizer_fertility" -> qTokenizerFertilitySql,
    "q_url_normalize" -> qUrlNormalizeSql,
    "q_heavy_hitters_incremental" -> qHeavyHittersIncrementalSql,
    "q_contamination_incremental" -> qContaminationIncrementalSql,
    "q_bpe_roundtrip" -> qBpeRoundtripSql,
    "q_langid_mixture" -> qLangidMixtureSql,
    "q_quality_gopher" -> qQualityGopherSql,
    "q_chunk_documents" -> qChunkDocumentsSql,
    "q_text_tokens" -> qTextTokensSql,
    "q_text_quality" -> qTextQualitySql,
    "q_char_entropy" -> qCharEntropySql,
    "q_text_normalize" -> qTextNormalizeSql,
    "q_text_langid" -> qTextLangIdSql,
    "q_fingerprint_classes" -> qFingerprintClassesSql,
    "q_pii_redact" -> qPiiRedactSql,
    "q_pack_blocks" -> qPackBlocksSql,
    "q_pack_blocks_tokens" -> qPackBlocksTokensSql,
    "q_tokenizer_fertility_bpe" -> qTokenizerFertilityBpeSql,
    "q_length_truncation" -> qLengthTruncationSql,
    "q_tokenizer_ablation" -> qTokenizerAblationSql,
    "q_pack_efficiency" -> qPackEfficiencySql,
    "q_text_repetition" -> qTextRepetitionSql,
    "q_bpe_pairs" -> qBpePairsSql,
    "q_heavy_hitters_exact" -> qHeavyHittersExactSql,
    "q_contamination" -> qContaminationSql,
    "q_contamination_fuzzy_bounds" -> qContaminationFuzzyBoundsSql,
    "q_contamination_containment" -> qContaminationContainmentSql,
    "q_contamination_containment_inc" -> qContaminationContainmentIncSql,
    "q_contamination_containment_bounds" -> qContaminationContainmentBoundsSql,
    "q_contamination_capped" -> qContaminationCappedSql,
    "q_contamination_capped_stats" -> qContaminationCappedStatsSql,
    "q_contamination_capped_bounds" -> qContaminationCappedBoundsSql,
    // the hashed tier computes the same values over hashed keys, so the
    // literal tier's SQL is its oracle too (see qContaminationHashed doc);
    // the bloom tier's false positives die in the exact join, so it
    // shares the same oracle as well
    "q_contamination_hashed" -> qContaminationSql,
    "q_contamination_bloom" -> qContaminationSql,
    "q_corpus_profile" -> qCorpusProfileSql,
    "q_html_strip" -> qHtmlStripSql,
    "q_dedup_lines" -> qDedupLinesSql,
    "q_url_domains" -> qUrlDomainsSql)
}

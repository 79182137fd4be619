package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The end-to-end corpus-release manifest (r18 verdict directive 3):
  * every curation stage exists and is individually gated; this member
  * makes the COMPOSITION driver-visible — one query running the full
  * shipped recipe over the boilerplate-fixture corpus and emitting the
  * per-stage (docs_in, docs_out, tokens_out) accounting a data lead
  * reads off a release. HASH-GREEN end to end: the DuckDB twin chains
  * the stages' existing oracle spellings (blocklist keep predicate,
  * the quality-gate CTE, paragraph excision at J ≥ 0.7, exact +
  * n-gram dedup, text-equality + containment decontamination, the
  * water-fill allocation and greedy-prefix selection, 512-token block
  * arithmetic) into one WITH chain, so a drift in ANY stage's wiring
  * or accounting flips the hash.
  *
  * The eval probe for the decontamination stages is the 1%-slice
  * doc_id ≡ 0 (mod 97) of the ORIGINAL documents — a frozen benchmark
  * snapshot whose members are themselves in the corpus: docs that
  * revert to probe-verbatim text after the paragraph stage drop at the
  * exact tier (2–19 docs across SFs), and docs still EMBEDDING a probe
  * doc drop at the containment tier (11 docs at sf0.1; 0 at the small
  * SFs, where every embedding host was already screened upstream —
  * the stage runs either way and the twin replays it).
  *
  * Two measured fixture properties worth knowing when reading the
  * manifest: on this corpus documents are single-line, so a whole-doc
  * near-dup IS a cross-doc duplicate paragraph and the paragraph stage
  * (J ≥ 0.7) subsumes the doc-grain stages (exact_dedup / near_dedup
  * at J ≥ 0.8 read 0 drops here — on multi-paragraph corpora they are
  * the stages that bite); and the pack row's docs_out is the BLOCK
  * count ⌈tokens/512⌉, the unit a release actually ships. */
object ReleaseQueries {

  // one manifest computation per (process, scale dir, tier): the
  // certified manifest feeds q_corpus_release AND the prod bounds
  // gate, the production manifest feeds q_corpus_release_prod AND the
  // same gate — without the memo each member would re-run the full
  // nine-stage pipeline (the manifest is ~10 tiny rows, so the
  // artifact is a parquet write of nothing)
  private def manifestDir(s: SparkSession, d: String,
      tiers: graft.text.Curation.ReleaseTiers, tag: String): String =
    graft.BuildTimes.onceDir(s"release_manifest_${tag}_build", d) { p =>
      val probe = Tables.documents(s, d)
        .filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text"))
      graft.text.Curation.releaseManifest(
          DedupQueries.paraCorpus(s, d),
          QualityQueries.BlockPhrases,
          DedupQueries.CurationMinQuality,
          probe,
          ExtraQueries.WaterFillWeights.toMap,
          tiers)
        .write.mode("overwrite").parquet(p)
      p
    }

  private def certifiedManifest(s: SparkSession, d: String): DataFrame =
    s.read.parquet(manifestDir(s, d,
      graft.text.Curation.ReleaseTiers.Certified, "cert"))

  private def productionManifest(s: SparkSession, d: String): DataFrame =
    s.read.parquet(manifestDir(s, d,
      graft.text.Curation.ReleaseTiers.Production, "prod"))

  def qCorpusRelease(s: SparkSession, d: String): DataFrame =
    certifiedManifest(s, d).orderBy(col("stage_id"))

  /** The PRODUCTION-tier release manifest (r19 verdict directive 1):
    * the same eleven-stage recipe with every swap-in spelling a 100 TB
    * run executes — banded MinHash paragraph pairs, banded doc
    * near-dedup, digest-keyed exact decontamination, and the
    * DF-CAPPED containment screen — plus the stage-7 cap metadata
    * columns (n_hot_shingles, dropped_mass). Rows-only (the banded
    * tiers' LSH layout is not oracle-replayable, the q_dedup_minhash
    * adjudication); the driver-visible guarantee is
    * [[qCorpusReleaseProdBounds]]: stage accounting EQUAL to the
    * certified manifest, fail-closed on any stage diverging. */
  def qCorpusReleaseProd(s: SparkSession, d: String): DataFrame =
    productionManifest(s, d).orderBy(col("stage_id"))

  /** Fail-closed gate certifying the COMPOSED production recipe
    * (r19 verdict directive 1 — every swap-in is individually gated;
    * nothing proved the composition until this row): (1) the
    * certified manifest has all 11 stage rows; (2) the production
    * manifest's (stage_id, stage, docs_in, docs_out, tokens_out)
    * accounting equals the certified manifest's EXACTLY, stage for
    * stage — at harness scale every swap-in's recall is measured 1.0
    * (planted boilerplate paragraphs are verbatim duplicates, so the
    * banded tier's candidates are guaranteed by identical signatures;
    * sha-256 keys are collision-free on this corpus; no natural
    * shingle reaches the df cap), so ANY divergence is a wiring bug,
    * not noise; (3) the cap's hot set is empty on the natural corpus
    * (max natural trigram df ≈ 2.8% of docs vs the 10% cap — the K=∞
    * equivalence regime, which is exactly WHY stage equality is the
    * right oracle here; the cap's dropping behavior is exercised by
    * q_contamination_capped's hot fixture); (4) the release is
    * nonempty (guard — an empty fixture would green-light (2)
    * vacuously). */
  def qCorpusReleaseProdBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cert = certifiedManifest(s, d).localCheckpoint(true)
    val acct = Seq("stage_id", "stage", "docs_in", "docs_out", "tokens_out")
      .map(col)
    val prod = productionManifest(s, d).localCheckpoint(true)
    val certRows = cert.count()
    val drift = cert.select(acct: _*).exceptAll(prod.select(acct: _*)).count() +
      prod.select(acct: _*).exceptAll(cert.select(acct: _*)).count()
    val hotMass = prod
      .agg(sum(col("n_hot_shingles")), sum(col("dropped_mass"))).head()
    val packed = cert.filter(col("stage") === "pack")
      .select(col("docs_out")).head().getLong(0)
    val ok = certRows == 11L && packed > 0L
    Seq(
      ("cap_hot_empty_on_natural_corpus",
        ok && hotMass.getLong(0) == 0L && hotMass.getLong(1) == 0L),
      ("certified_manifest_complete", ok),
      ("prod_accounting_equals_certified", ok && drift == 0L),
      ("release_nonempty", ok))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qCorpusReleaseProdBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('cap_hot_empty_on_natural_corpus', true),
      |  ('certified_manifest_complete', true),
      |  ('prod_accounting_equals_certified', true),
      |  ('release_nonempty', true))
      |  t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  private def sqlQuote(x: String): String = x.replace("'", "''")

  /** `(SELECT count(*) FROM rel)` — stage doc count. */
  private def cnt(rel: String): String = s"(SELECT count(*) FROM $rel)"

  /** Whitespace-token sum of a stage relation — the house
    * wsTokenCount convention, identical to qPackBlocksSql's. */
  private def tok(rel: String): String =
    s"(SELECT CAST(coalesce(sum(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      s"ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END), 0) " +
      s"AS BIGINT) FROM $rel)"

  val qCorpusReleaseSql: String = {
    val phr = QualityQueries.BlockPhrases
      .map(p => s"'${sqlQuote(p)}'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE donated AS (
       |  SELECT doc_id // 4 AS g,
       |    array_to_string(list_slice(string_split(text, ' '), 1, 48), ' ') AS boiler
       |  FROM documents WHERE doc_id % 4 = 0
       |), s0 AS MATERIALIZED (
       |  SELECT d.doc_id, d.source,
       |    CASE WHEN b.boiler IS NOT NULL AND length(b.boiler) > 0
       |      THEN d.text || chr(10) || b.boiler ELSE d.text END AS text
       |  FROM documents d LEFT JOIN donated b ON d.doc_id // 4 = b.g
       |), s1 AS MATERIALIZED (
       |  SELECT * FROM s0
       |  WHERE len(list_filter($phr, p -> contains(text, p))) = 0
       |), ${DedupQueries.qualityGateCte("s1", "s2", "doc_id, source, text")},
       |plist AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, chr(10)) AS ps FROM s2
       |), paras AS MATERIALIZED (
       |  SELECT doc_id * 1024 + (i - 1) AS doc_id, ps[i] AS text
       |  FROM plist, unnest(range(1, len(ps) + 1)) t(i)
       |  WHERE length(trim(ps[i])) > 0
       |), ${DedupQueries.ngramPairCtes("paras", "0.7", "p_")},
       |p_removed AS (
       |  SELECT DISTINCT id_b AS uid FROM p_pairs WHERE id_a // 1024 <> id_b // 1024
       |), p_tagged AS MATERIALIZED (
       |  SELECT p.doc_id AS uid, p.text AS para, r.uid IS NOT NULL AS rm
       |  FROM paras p LEFT JOIN p_removed r ON p.doc_id = r.uid
       |), p_docs AS MATERIALIZED (
       |  SELECT uid // 1024 AS doc_id,
       |    string_agg(CASE WHEN NOT rm THEN para END, chr(10) ORDER BY uid) AS text
       |  FROM p_tagged GROUP BY 1
       |), s3 AS MATERIALIZED (
       |  SELECT d.doc_id, q.source, d.text
       |  FROM p_docs d JOIN s2 q ON d.doc_id = q.doc_id
       |  WHERE d.text IS NOT NULL AND d.text <> ''
       |), e_keep AS (
       |  SELECT min(doc_id) AS doc_id FROM s3 GROUP BY text
       |), s4 AS MATERIALIZED (
       |  SELECT s.* FROM s3 s JOIN e_keep k ON s.doc_id = k.doc_id
       |), ${DedupQueries.ngramPairCtes("s4", "0.8", "n_")},
       |${DedupQueries.ccCtesOver("n_pairs", "n_")},
       |n_nonkeep AS (
       |  SELECT src AS doc_id FROM n_reach GROUP BY src HAVING min(lbl) <> src
       |), s5 AS MATERIALIZED (
       |  SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM n_nonkeep)
       |), probe AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
       |), s6 AS MATERIALIZED (
       |  SELECT * FROM s5 WHERE text NOT IN (SELECT text FROM probe)
       |), c_ev AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM probe
       |), c_evsh AS (
       |  SELECT DISTINCT doc_id AS eval_id, array_to_string(toks[i:i+2], ' ') AS sh
       |  FROM c_ev, unnest(range(1, greatest(len(toks)-1, 1))) t(i)
       |), c_tr AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM s6
       |), c_trsh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id AS train_id, array_to_string(toks[i:i+2], ' ') AS sh
       |  FROM c_tr, unnest(range(1, greatest(len(toks)-1, 1))) t(i)
       |), c_sizes AS (
       |  SELECT eval_id, count(*) AS n_eval_shingles FROM c_evsh GROUP BY eval_id
       |), c_flagged AS (
       |  SELECT DISTINCT train_id FROM (
       |    SELECT eval_id, train_id, count(*) AS n_shared
       |    FROM c_evsh JOIN c_trsh USING (sh) GROUP BY eval_id, train_id) sh0
       |  JOIN c_sizes USING (eval_id)
       |  WHERE n_shared * 5 >= n_eval_shingles * 4
       |), s7 AS MATERIALIZED (
       |  SELECT * FROM s6 WHERE doc_id NOT IN (SELECT train_id FROM c_flagged)
       |), ${ExtraQueries.waterfillAllocCtesFor(1, 3, 5, "s7")},
       |sel_ranked AS MATERIALIZED (
       |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY ((doc_id % 1000003) * 2654435761) % 1000000, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM toks
       |), s8 AS MATERIALIZED (
       |  SELECT s.* FROM s7 s
       |  JOIN sel_ranked r ON s.doc_id = r.doc_id
       |  JOIN alloc a ON r.source = a.source
       |  WHERE r.cum_tokens <= a.allocated
       |), shard_r AS (
       |  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens,
       |    row_number() OVER (ORDER BY
       |      CASE WHEN length(trim(text)) = 0 THEN 0
       |        ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END DESC,
       |      doc_id) AS rk
       |  FROM s8
       |), shard_t AS MATERIALIZED (
       |  SELECT CASE WHEN ((rk - 1) // 8) % 2 = 0 THEN (rk - 1) % 8
       |      ELSE 7 - ((rk - 1) % 8) END AS shard,
       |    CAST(sum(n_tokens) AS BIGINT) AS t
       |  FROM shard_r GROUP BY 1
       |)
       |SELECT * FROM (VALUES
       |  (0, 'input', ${cnt("s0")}, ${cnt("s0")}, ${tok("s0")}),
       |  (1, 'blocklist', ${cnt("s0")}, ${cnt("s1")}, ${tok("s1")}),
       |  (2, 'quality', ${cnt("s1")}, ${cnt("s2")}, ${tok("s2")}),
       |  (3, 'paragraph_excise', ${cnt("s2")}, ${cnt("s3")}, ${tok("s3")}),
       |  (4, 'exact_dedup', ${cnt("s3")}, ${cnt("s4")}, ${tok("s4")}),
       |  (5, 'near_dedup', ${cnt("s4")}, ${cnt("s5")}, ${tok("s5")}),
       |  (6, 'decontam_exact', ${cnt("s5")}, ${cnt("s6")}, ${tok("s6")}),
       |  (7, 'decontam_containment', ${cnt("s6")}, ${cnt("s7")}, ${tok("s7")}),
       |  (8, 'mix', ${cnt("s7")}, ${cnt("s8")}, ${tok("s8")}),
       |  (9, 'pack', ${cnt("s8")}, (${tok("s8")} + 511) // 512, ${tok("s8")}),
       |  (10, 'shard', ${cnt("s8")}, (SELECT count(*) FROM shard_t),
       |    (SELECT CAST(coalesce(sum(t), 0) AS BIGINT) FROM shard_t))
       |) t(stage_id, stage, docs_in, docs_out, tokens_out)
       |ORDER BY stage_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_release" -> (qCorpusRelease _),
    "q_corpus_release_prod" -> (qCorpusReleaseProd _),
    "q_corpus_release_prod_bounds" -> (qCorpusReleaseProdBounds _))

  val oracles: Map[String, String] = Map(
    "q_corpus_release" -> qCorpusReleaseSql,
    "q_corpus_release_prod_bounds" -> qCorpusReleaseProdBoundsSql)
}

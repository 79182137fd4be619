package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Bloom-filter surface over Spark's own sketch expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the pair the
  * engine's runtime-filter injection uses internally, exposed here as
  * session functions the way [[ArrayMath]] exposes `dot_product`).
  *
  * Why: the candidate-generation half of a semi-join can be a few-MB
  * sketch instead of a shuffle. Build the bloom over the SMALL side's
  * join keys (one partial-aggregable pass), broadcast the one-row
  * result, and pre-filter the 100 TB side with `might_contain` BEFORE
  * its distinct/shuffle — no false negatives means no lost matches, and
  * false positives merely ride along to the exact join that follows, so
  * composed pipelines stay hash-exact while the heavy shuffle shrinks
  * to (fp-rate × big side + true matches).
  *
  * Both expressions take LONG keys (pre-hashed — graft's shingle and
  * dedup tiers already key by xxhash64 longs, so no extra hash pass).
  */
object Bloom {

  /** Aggregate a LONG key column into a serialized bloom filter
    * (BinaryType, one row). Size it from an (approximate) item count —
    * `bitsPerItem = 8` gives ≈2% false positives, plenty for a
    * pre-filter whose positives are re-checked exactly.
    *
    * CLAMP AT SCALE: Spark's `BloomFilterAggregate` silently caps the
    * requested size at `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems` (default 4M items) and `.maxNumBits` (default
    * 67 108 864 bits = 8 MiB). Past ~8M distinct keys at the default
    * confs the filter saturates: results stay CORRECT (positives are
    * always re-checked exactly) but the advertised ~2% false-positive
    * rate — i.e. the pre-filter's selectivity — silently degrades.
    * A 100 TB deployment must raise those two confs to match its key
    * cardinality; this helper warns (once per process per conf) when
    * the request exceeds the session's cap instead of letting the
    * degradation pass unnoticed. */
  def bloomAgg(key: Column, estimatedItems: Long, bitsPerItem: Long = 8L): Column = {
    SparkSession.getActiveSession.foreach { spark =>
      Registry.registerAll(spark)
      val maxItems = spark.conf
        .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
      val maxBits = spark.conf
        .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
      if ((estimatedItems > maxItems || estimatedItems * bitsPerItem > maxBits)
          && clampWarned.add(s"$maxItems/$maxBits"))
        System.err.println(
          s"[graft.Bloom] requested sketch ($estimatedItems items × " +
            s"$bitsPerItem bits) exceeds the session cap " +
            s"(maxNumItems=$maxItems, maxNumBits=$maxBits); Spark will " +
            "clamp it and the false-positive rate will degrade — raise " +
            "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
            "maxNumBits to keep the pre-filter selective")
    }
    call_function("graft_bloom_agg", key,
      org.apache.spark.sql.functions.lit(estimatedItems),
      org.apache.spark.sql.functions.lit(estimatedItems * bitsPerItem))
  }

  private val clampWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Membership probe of a LONG key against a serialized bloom column
    * (false ⇒ definitely absent; true ⇒ re-check exactly). */
  def mightContain(bloom: Column, key: Column): Column = {
    SparkSession.getActiveSession.foreach(Registry.registerAll)
    call_function("graft_might_contain", bloom, key)
  }
}

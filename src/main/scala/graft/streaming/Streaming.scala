package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Structured Streaming operators over the events stream (SURVEY.md
  * §2.11). The reference is batch-only; these are the engine-surface
  * streaming counterparts: the SAME `window()` aggregation function
  * serves [[graft.queries.CoreQueries.qEventsTimeWindow]] (batch,
  * oracle-checked) and the streaming query here — write the transform
  * once, run it both ways.
  */
object Streaming {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class UserSession(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, sum_value: Double)

  /** Streaming read of events parquet, drift-proof like `Tables.events`:
    * readStream needs a declared schema, so probe the dir's footer with a
    * one-off batch read (metadata only — no data scan) and adapt `ts`
    * from whatever temporal encoding this testdata generation used
    * (nanos-as-long, micros NTZ, micros LTZ) to session-local
    * TimestampType. `dir` must be a directory of parquet files. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(schema).parquet(dir)
    raw.withColumn("ts",
      graft.Tables.adapt("ts", schema("ts").dataType,
        org.apache.spark.sql.types.TimestampType))
  }

  /** Tumbling event-time aggregation with watermark — works on a batch
    * OR streaming frame unchanged. Late data beyond the watermark is
    * dropped; state is bounded by (#windows in watermark horizon ×
    * #event types). */
  def windowedCounts(events: DataFrame,
      windowLength: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Windowed distinct-user profile. The streaming face uses the HLL
    * sketch (`approx_count_distinct`): exact streaming distinct would
    * hold EVERY user id per open window in the state store, while the
    * sketch holds a fixed register array per (window, type) — the same
    * bounded-state argument as the top-k heap below. HLL merging is a
    * register-wise max, so the estimate is independent of trigger
    * boundaries and arrival order — StreamingSpec pins stream == batch
    * bit-equal, and the estimate within the sketch's rsd of exact. The
    * batch/oracle face ([[graft.queries.CoreQueries.qEventsWindowUsers]])
    * keeps EXACT countDistinct — hash-gated vs DuckDB. */
  def windowedApproxUsers(events: DataFrame,
      windowLength: String = "10 minutes",
      watermark: String = "30 minutes",
      rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n_users"))

  /** Windowed quantile profile — the KLL member of the streaming
    * sketch tier, next to [[windowedApproxUsers]] (HLL): per tumbling
    * window and event type, p50/p90 of `value` through the mergeable
    * [[graft.functions.KllSketch]] TypedImperativeAggregate. In
    * streaming the serialized sketch IS the state-store buffer (a few
    * KB per open (window, type) group — bounded state at any input
    * rate), and merge-on-update keeps the estimate within the k=200
    * rank-error bound regardless of trigger boundaries or arrival
    * order; exact streaming percentiles would buffer every value per
    * open window. Works on a batch OR streaming frame unchanged;
    * StreamingSpec bounds the streamed quantiles against exact
    * per-window order statistics. */
  def windowedQuantiles(events: DataFrame,
      windowLength: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    import graft.functions.KllSketch._
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), kllSketchAgg(col("value")).as("sk"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"),
        kllQuantile(col("sk"), 0.5).as("p50"),
        kllQuantile(col("sk"), 0.9).as("p90"))
  }

  /** Windowed top-k leaderboard — the k highest-value events per
    * tumbling window, through the bounded-heap `top_k_by` aggregate
    * ([[graft.functions.TopKBy]]). Works on a batch OR streaming frame
    * unchanged; in streaming, the heap IS the state-store buffer
    * (TypedImperativeAggregate serialize/merge), so state per window is
    * ≤ k pairs instead of every event — the same shuffle/state math
    * that makes the aggregate worth having in batch. Deterministic
    * tie-break (smaller event_id) keeps stream and batch bit-equal. */
  def windowedTopK(events: DataFrame, k: Int = 3,
      windowLength: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength))
      .agg(graft.functions.TopKBy.topKBy(col("value"), col("event_id"), k).as("top"))
      .select(col("window.start").as("w_start"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("w_start"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("event_id"), col("t.score").as("value"))

  /** Streaming deduplication — the exactly-once ingest guard: drops
    * re-delivered events by id, keeping state only inside the
    * watermark horizon (`dropDuplicatesWithinWatermark`: an id whose
    * event time falls behind the watermark can no longer collide, so
    * its state is evicted — bounded memory at any input rate, the
    * non-negotiable property for a 100 TB-scale stream; re-deliveries
    * with slightly different timestamps still dedup because the id
    * alone is the key). */
  def dedupEvents(events: DataFrame, watermark: String = "30 minutes",
      idCol: String = "event_id", tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream attribution join — the classic two-stream pattern:
    * each purchase matched to the SAME user's clicks in the preceding
    * `windowMinutes`. Works on batch OR streaming frames unchanged
    * (withWatermark is a no-op on batch): the same transform serves the
    * oracle-checked batch query
    * ([[graft.queries.AnalyticsQueries.qAttribution]]) and the live
    * two-stream join, and StreamingSpec proves they emit identical
    * pair sets.
    *
    * Scale/state: the join key is user_id (hash join, no nested loop —
    * the time bound is a post-filter on the equi-match), and on streams
    * BOTH sides carry watermarks + a two-sided time-range condition, so
    * each side's buffered state is evicted once it falls behind the
    * other stream's watermark — bounded memory at any input rate (an
    * unbounded stream-stream inner join without the range condition
    * would buffer forever). */
  def attributionPairs(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Long = 30, watermark: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    c.join(p, expr(
      s"""user_id = p_user_id AND
         |click_ts >= p_ts - INTERVAL $windowMinutes MINUTES AND
         |click_ts <= p_ts""".stripMargin))
      .select(col("purchase_id"), col("click_id"))
  }

  /** Streaming face of the 7-day rolling-active-users readout
    * ([[graft.queries.AnalyticsQueries.qRollingActiveUsers]]) — the
    * rolling-DISTINCT member of the live-face family: one Datasketches
    * HLL sketch per calendar DAY accumulates as native
    * streaming-aggregation state across trigger batches (the
    * mergeable-sketch tier's persist→merge discipline, here with the
    * state store as the persistence). History is never re-scanned:
    * each trigger folds only its own rows into the day sketches, and
    * the 7-day readout is [[wauFinalize]] on the sink — per target day
    * it UNIONS ≤ 7 small sketches (register-wise max, associative and
    * order/trigger-boundary independent), never touching user ids
    * again.
    *
    * Scale/state: state is one fixed register array (~KB) per
    * observed day — bounded by the calendar, NOT by stream length or
    * user cardinality, which is exactly why the exact batch twin's
    * sliding countDistinct cannot run live (it would hold every
    * (day, user) pair in state). No watermark: late events still
    * belong to their activity day, and a day's sketch keeps absorbing
    * them (update semantics), matching the batch twin's lifetime
    * view. StreamingSpec replays two trigger batches and pins
    * finalize(folded state) within the sketch error band of the
    * exact q_rolling_active_users series. */
  def wauDaySketches(events: DataFrame): DataFrame =
    events
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .groupBy(col("d"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))

  /** Deterministic readout over the accumulated per-day sketches:
    * the batch twin's dense-grid discipline verbatim (days with an
    * empty trailing window read 0; days beyond the observed span are
    * clipped), with the in-row ≤ 7× day fan-out merging sketches
    * instead of re-counting users. */
  def wauFinalize(daySketches: DataFrame): DataFrame = {
    val grid = daySketches
      .agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
      .select(explode(sequence(col("dmin"), col("dmax"))).as("day"))
    val counts = daySketches
      .withColumn("day", explode(sequence(col("d"), date_add(col("d"), 6))))
      .groupBy(col("day"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    grid.join(counts, Seq("day"), "left")
      .select(col("day"),
        // nearest-integer readout: a bare long cast truncates toward
        // zero (99.9999 → 99), a systematic downward bias vs the
        // estimator's intent (r14 ADVICE)
        coalesce(round(col("est")), lit(0L)).cast("long").as("wau_est"))
      .orderBy(col("day"))
  }

  /** Streaming face of the ε-DP noisy-count release
    * ([[graft.queries.ExtraQueries.qDpCounts]]) — the privacy tier's
    * live half, and the PSI pattern verbatim: per-(event_type, day)
    * TRUE counts accumulate as native streaming-aggregation state
    * (one long per calendar cell — bounded by the calendar × type
    * dictionary, not stream length); the NOISE attaches only at
    * [[dpCountsFinalize]] on the sink, because the Laplace draw is a
    * deterministic function of the group's CALENDAR key — adding it
    * per trigger would re-noise (and re-spend ε) on every update,
    * while seeding from the key means any trigger's finalize emits
    * the SAME release the batch query computes over the full history.
    * StreamingSpec folds two trigger batches and pins
    * finalize(accumulated counts) == q_dp_counts bit-for-bit. */
  def dpCountsState(events: DataFrame): DataFrame =
    graft.queries.ExtraQueries.dpCountFrame(events)

  def dpCountsFinalize(state: DataFrame, eps: Double = 1.0): DataFrame =
    graft.queries.ExtraQueries.dpRelease(
      graft.queries.ExtraQueries.dpApplyNoise(state, eps), eps)

  /** Stream-stream interval-overlap match — the streaming face of
    * [[graft.ops.IntervalJoin]] / `q_interval_join`: every probe event
    * inside an incident's half-open `[ts, ts + windowMinutes)` window
    * pairs with that incident, live, with NO shared key between the
    * streams. The batch op's bucketed rewrite is not just the fast
    * plan here — it is what makes the operator EXPRESSIBLE: Spark's
    * streaming symmetric hash join demands an equi-key, so the pure
    * range predicate (a nested-loop, unsupported on two streams) is
    * re-keyed on the time bucket exactly as in the batch op. Width =
    * the window length, so each incident covers ≤ 2 buckets (exploded
    * copies, disjoint ⇒ a pair matches at most once) and each probe
    * sits in exactly 1.
    *
    * Works on batch OR streaming frames unchanged (withWatermark is a
    * no-op on batch), and StreamingSpec proves the streamed pair set
    * equals both this transform over batch frames and the batch
    * [[graft.ops.IntervalJoin.overlap]] pair set.
    *
    * Scale/state: both sides carry watermarks and the join carries a
    * two-sided event-time range (`i_ts ≤ e_ts < i_ts + window`), so
    * each side's buffered state evicts once behind the other stream's
    * watermark — bounded memory at any input rate. Bucket keys rotate
    * with wall time, so the stateful shuffle spreads; an incident
    * storm is a hot-bucket skew case, not a plan change. Bucket math
    * is the op's exact long floor-div (micros), never a double. */
  def intervalMatches(probe: DataFrame, incidents: DataFrame,
      windowMinutes: Long = 10, watermark: String = "1 hour"): DataFrame = {
    require(windowMinutes > 0, "windowMinutes must be positive")
    val wUs = windowMinutes * 60000000L
    // bucket math = the batch op's exact long floor-div, one shared
    // definition (a desync here would silently break the pair-set
    // equality contract StreamingSpec pins)
    val p = probe
      .select(col("event_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", watermark)
      .withColumn("e_us", unix_micros(col("e_ts")))
      .withColumn("bucket", graft.ops.IntervalJoin.floorDiv("e_us", wUs))
    val i = incidents
      .select(col("event_id").as("incident_id"), col("ts").as("i_ts"))
      .withWatermark("i_ts", watermark)
      .withColumn("i_us", unix_micros(col("i_ts")))
      .withColumn("i_b0", graft.ops.IntervalJoin.floorDiv("i_us", wUs))
      .withColumn("i_em1", col("i_us") + lit(wUs - 1))
      .withColumn("bucket", explode(array_distinct(array(col("i_b0"),
        graft.ops.IntervalJoin.floorDiv("i_em1", wUs)))))
      .drop("i_em1")
    p.join(i, p("bucket") === i("bucket") &&
        col("e_ts") >= col("i_ts") &&
        col("e_ts") < col("i_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("incident_id"), col("event_id"))
  }

  /** Streaming face of the PSI drift readout
    * ([[graft.queries.AnalyticsQueries.qPsiDrift]]) — the live half of
    * model monitoring: per-(feature, bin, cohort) counts accumulate as
    * native streaming-aggregation state across trigger batches (update
    * mode; counts are the ONLY state — the margin/share/term math is
    * [[graft.queries.AnalyticsQueries.psiFinalize]], a deterministic
    * function of the counts frame, run on the sink whenever a reading
    * is wanted). Binning is the batch twin's own `psiPoints`, so the
    * two faces cannot bin differently, and StreamingSpec proves
    * finalize(accumulated counts) == the batch PSI frame bit-for-bit
    * once the stream drains.
    *
    * Scale/state: state is one long pair per (feature, bin) — bounded
    * by bin cardinality (≤ 15 here), NOT by stream length; the
    * aggregation partial-aggregates map-side per trigger like any
    * batch groupBy. No watermark: drift monitoring wants lifetime
    * cohort counts (late events still belong to their cohort), which
    * is also why update-mode output re-emits revised bins. */
  def psiCounts(events: DataFrame): DataFrame =
    graft.queries.AnalyticsQueries.psiPoints(events)
      .groupBy(col("feature"), col("bin"))
      .agg(count(when(col("cur") === 0, 1)).as("n_ref"),
        count(when(col("cur") === 1, 1)).as("n_cur"))

  /** Streaming face of the embedding-space drift monitor
    * ([[graft.queries.SimilarityQueries.qEmbeddingDriftPsi]]) — the
    * live half its tabular twin (the PSI face above) already has: the
    * reference centroid and per-bin corpus counts are a FROZEN
    * index-build artifact
    * ([[graft.queries.SimilarityQueries.driftReference]] — values
    * bit-identical to the batch twin's in-plan derivation because the
    * centroid components are exact integer sums), each incoming
    * embedding bins via the SHARED quantize/cosine/bin expressions
    * against the broadcast literal centroid, and per-(source, bin)
    * counts accumulate as native streaming-aggregation state. The
    * share/term math runs only at [[embDriftFinalize]] on the sink —
    * the dpCounts discipline: state is counts, everything downstream
    * is a deterministic function of them, so StreamingSpec proves
    * finalize(folded state) == the batch PSI frame bit-for-bit once
    * the stream replays the corpus.
    *
    * Scale/state: one long per (source, bin) — bounded by the slice
    * dictionary × 10 bins, never by stream length; the centroid rides
    * along as a 64-double literal inside whole-stage codegen, no join
    * for the binning. */
  def embDriftCounts(emb: DataFrame, cvec: Seq[Double]): DataFrame = {
    import graft.queries.SimilarityQueries._
    graft.functions.Registry.registerAll(emb.sparkSession)
    emb
      .select(col("source"),
        driftBin(driftCos(driftQuantized(col("embedding")),
          typedLit(cvec))).as("bin"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_cur"))
  }

  /** Streaming face of the data-quality expectations gate
    * ([[graft.ops.Expectations]] / q_expectations_events) — the live
    * half of the validation gate an ingest pipeline runs before a
    * batch lands: per-check VIOLATION COUNTS plus the row count
    * accumulate as one global streaming-aggregation state row (the
    * count-mergeable subset of the expectations algebra — Complete /
    * InRange / InSet / Satisfies; Unique needs a distinct and stays a
    * batch/HLL-tier check, the documented split), and the fraction /
    * verdict arithmetic runs only at [[expectationsFinalize]] on the
    * sink. `avg(indicator)` on the batch side equals
    * `Σ indicator / n` here EXACTLY (sums of 1.0 are integer-valued
    * doubles), so StreamingSpec pins finalize(folded state) == the
    * batch report bit-for-bit — the dpCounts contract.
    *
    * Scale/state: ONE row of longs regardless of stream length; the
    * aggregation partial-aggregates map-side per trigger. */
  /** The count-mergeable violation aggregates — ONE spelling shared by
    * the batch-twin face and the sketch-extended live face so the two
    * can never drift. */
  private def expectationAggs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n"),
    sum(when(col("user_id").isNull, 1L).otherwise(0L))
      .as("v_complete_user"),
    sum(when(col("value").isNotNull &&
      (col("value") < 0.0 || col("value") > 400.0), 1L).otherwise(0L))
      .as("v_value_range"),
    sum(when(col("event_type").isNotNull &&
      !col("event_type").isin("view", "click", "purchase", "signup"),
      1L).otherwise(0L)).as("v_known_type"),
    sum(when(col("ts").isNull, 1L).otherwise(0L)).as("v_ts_present"))

  def expectationCounts(events: DataFrame): DataFrame =
    events.agg(expectationAggs.head, expectationAggs.tail: _*)

  /** [[expectationCounts]] PLUS the Unique face the r15 split deferred:
    * a Datasketches HLL sketch of `user_id` rides the same one-row
    * aggregation state (the wauDaySketches discipline — register-wise
    * max merges are associative and trigger-boundary independent, so
    * the folded sketch equals the one-shot batch sketch), making
    * Unique a LIVE check next to Complete/InRange/InSet instead of a
    * batch-only tier. State stays one fixed row: five longs + a ~KB
    * register array, bounded by neither stream length nor user
    * cardinality — exactly why the exact batch spelling
    * (countDistinct, an Expand over all rows) cannot run live. */
  def expectationCountsLive(events: DataFrame): DataFrame =
    events.agg(expectationAggs.head,
      expectationAggs.tail :+ expr("hll_sketch_agg(user_id)").as("sk_user"): _*)

  /** The (check, violation_fraction, tolerance, passed) report over an
    * accumulated counts row — shared verbatim by the batch query and
    * the streaming sink. The known-type check appears TWICE, once with
    * a 25% violation budget (tolerated — the harness 'error' type is
    * ~20% of the stream) and once with 10% (failing), so the report's
    * pass AND fail paths are both exercised, the q_expectations
    * fixture discipline. */
  def expectationsFinalize(state: DataFrame): DataFrame = {
    val checks = Seq(
      ("complete(user_id)", "v_complete_user", 0.0),
      ("in_range(value,0,400)", "v_value_range", 0.01),
      ("known_type_budget25", "v_known_type", 0.25),
      ("known_type_budget10", "v_known_type", 0.10),
      ("complete(ts)", "v_ts_present", 0.0))
    val stackArgs = checks.map { case (nm, c, tol) =>
      s"'$nm', round(CAST($c AS DOUBLE) / n, 9), CAST($tol AS DOUBLE)"
    }.mkString(", ")
    state
      .selectExpr(
        s"stack(${checks.size}, $stackArgs) AS (check, violation_fraction, tolerance)")
      .withColumn("passed", col("violation_fraction") <= col("tolerance"))
      .orderBy(col("check"))
  }

  /** The live report over [[expectationCountsLive]] state: the exact
    * count-backed rows verbatim from [[expectationsFinalize]] (the
    * extra sketch column is invisible to the stack), plus the Unique
    * check from the HLL estimate — violation = 1 − est/non-null, the
    * batch Unique semantics with countDistinct swapped for the
    * mergeable sketch (≈1.6% rsd at the default lgK; the replay spec
    * gates a 5% band vs the exact batch fraction). Two budget rows
    * exercise both verdict paths on the harness stream's stable
    * ≈0.985 violation (events are ~66 rows per user at every SF):
    * the 99% budget passes, the 50% budget fails — the
    * known_type_budget25/10 fixture discipline. */
  def expectationsFinalizeLive(state: DataFrame): DataFrame = {
    val nonNull = (col("n") - col("v_complete_user")).cast("double")
    val viol = round(greatest(lit(0.0),
      lit(1.0) - round(expr("hll_sketch_estimate(sk_user)")) / nonNull), 9)
    val uniq = state.select(
      explode(array(
        struct(lit("unique_user_budget99").as("check"),
          viol.as("violation_fraction"), lit(0.99).as("tolerance")),
        struct(lit("unique_user_budget50").as("check"),
          viol.as("violation_fraction"), lit(0.50).as("tolerance")))).as("r"))
      .select(col("r.check"), col("r.violation_fraction"), col("r.tolerance"))
    expectationsFinalize(state).drop("passed")
      .unionByName(uniq)
      .withColumn("passed", col("violation_fraction") <= col("tolerance"))
      .orderBy(col("check"))
  }

  /** Streaming face of the forecast backtest
    * ([[graft.queries.AnalyticsQueries.qForecastBacktest]]) — the live
    * half of the time-series eval harness: per-day exact integer cent
    * sums accumulate as native streaming-aggregation state (the
    * batch twin's own [[graft.queries.AnalyticsQueries
    * .forecastDailyCents]] binning, so the faces cannot bin
    * differently; one long per calendar day — bounded by the
    * calendar, not stream length), and the dense-grid / lag / fold /
    * WAPE arithmetic runs only at finalize on the sink through the
    * ONE shared [[graft.queries.AnalyticsQueries
    * .forecastBacktestFinalize]]. Everything before the two terminal
    * divisions is integer-exact, so StreamingSpec pins
    * finalize(folded state) == the batch frame BIT-FOR-BIT once the
    * stream drains — the dpCounts contract, not a tolerance band. */
  def forecastDailyState(events: DataFrame): DataFrame =
    graft.queries.AnalyticsQueries.forecastDailyCents(events)

  def forecastFinalize(state: DataFrame): DataFrame =
    graft.queries.AnalyticsQueries.forecastBacktestFinalize(state)

  /** Deterministic readout over the accumulated per-(source, bin)
    * state: the batch twin's own grid/smoothing/term arithmetic
    * ([[graft.queries.SimilarityQueries.driftPsiFinalize]]) against
    * the frozen reference counts. */
  def embDriftFinalize(state: DataFrame, ref: Seq[(Int, Long)]): DataFrame = {
    import state.sparkSession.implicits._
    // snapshot once: the grid consumes the state twice (source list +
    // counts), and a memory-sink table reused on both sides of the
    // join trips Catalyst's conflicting-reference resolution
    val snap = state.select(col("source"), col("bin"), col("n_cur"))
      .localCheckpoint(true)
    graft.queries.SimilarityQueries.driftPsiFinalize(
      snap.select(col("source")).distinct(),
      ref.toDF("bin", "n_ref"),
      snap)
  }

  /** Batch twin of [[sessionize]]: gap-based sessionization as a pure
    * window composition — events more than `gapMinutes` after their
    * predecessor (per user) open a new session; the session id is the
    * running count of session-open flags.
    *
    * Scale: ONE shuffle partitions by user; the lag, the flag, and the
    * running count all run inside that window sort, and the final
    * per-(user, session) aggregate is a partial-combinable groupBy.
    * No state store, no driver loops — at 100 TB this is the shape you
    * want for backfill while [[sessionize]] handles the live stream
    * with the same gap semantics.
    *
    * Tie safety: rows sharing one (user, ts) get one session id
    * regardless of their arbitrary order — the gap for any tie row is
    * 0, and the default RANGE window frame gives all ts-peers the same
    * running count. Gap comparison is in microseconds (the data's
    * resolution), strictly greater-than. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Long,
      userCol: String = "user_id", tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val gapMicros = gapMinutes * 60L * 1000000L
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol))
    events
      .withColumn("prev_ts", lag(col(tsCol), 1).over(byUser))
      .withColumn("session_open",
        when(col("prev_ts").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("prev_ts")) > gapMicros,
          lit(1)))
      // count(expr) skips the null non-open rows and yields BIGINT on
      // both engines (a sum of int flags would be HUGEINT in DuckDB)
      .withColumn("session_id", count(col("session_open")).over(byUser))
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        sum(col(valueCol)).as("sum_value"))
  }

  /** Gap sessionization through Spark's NATIVE `session_window`
    * aggregation, as a live STREAM (the batch face is
    * [[graft.queries.CoreQueries.qSessionWindow]], hash-gated vs the
    * DuckDB sessionize oracle): the state store merges overlapping
    * gap-extended windows per user as events arrive — in any order
    * inside the watermark horizon — and append mode emits a session
    * exactly once, when the watermark finally seals it (watermark >
    * session end = last event + gap). Re-delivered events are dropped
    * by id BEFORE the aggregation (`dropDuplicatesWithinWatermark` —
    * chained stateful operators, both bounded by the same horizon), so
    * an at-least-once source cannot inflate n_events/sum_value.
    *
    * This is the zero-custom-code streaming path: no
    * (flat)MapGroupsWithState, no closure-record compaction contract —
    * the trade is append-mode latency (a session surfaces only after
    * the watermark passes it) versus [[sessionizeAll]]'s update-mode
    * progressive emissions. State per user is bounded by the horizon
    * exactly like [[SessionBuffer]]. StreamingSpec proves an
    * out-of-order, duplicate-laced multi-trigger replay emits exactly
    * the batch twin's sessions. */
  def sessionWindowStream(events: DataFrame, gapMinutes: Long = 30,
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Per-user state for the stateful sessionizers: EVERY session still
    * inside the watermark horizon, kept sorted by session_start. A
    * single open-session tuple cannot sessionize out-of-order input —
    * a late "bridge" event can connect two sessions AFTER one of them
    * was already declared closed — so the state must hold all sessions
    * the watermark has not yet sealed. Memory per key is bounded by
    * the horizon: a session whose `end + gap` falls behind the
    * watermark can never be extended again (any surviving event is
    * `> gap` after it; anything older is dropped as late), so it is
    * emitted in final form and evicted. */
  final case class SessionBuffer(sessions: Seq[UserSession])

  /** Fold ts-sorted events into gap-separated sessions. */
  private[streaming] def gapSessions(userId: Long, sorted: Seq[Event],
      gapMs: Long): List[UserSession] =
    sorted.foldLeft(List.empty[UserSession]) { (acc, e) =>
      acc match {
        case head :: tail
            if e.ts.getTime - head.session_end.getTime <= gapMs =>
          head.copy(session_end = e.ts, n_events = head.n_events + 1,
            sum_value = head.sum_value + e.value) :: tail
        case _ => UserSession(userId, e.ts, e.ts, 1, e.value) :: acc
      }
    }.reverse

  /** Merge sessions (as intervals) whose gap-extended spans touch:
    * after sorting by start, a session starting within `gapMs` of the
    * previous accumulated end joins it. Input sessions must count
    * disjoint event sets (state sessions + fresh batch sessions do). */
  private[streaming] def mergeByGap(sessions: List[UserSession],
      gapMs: Long): List[UserSession] =
    sessions.sortBy(s => (s.session_start.getTime, s.session_end.getTime))
      .foldLeft(List.empty[UserSession]) { (acc, s) =>
        acc match {
          case head :: tail
              if s.session_start.getTime - head.session_end.getTime <= gapMs =>
            head.copy(
              session_end =
                if (s.session_end.getTime > head.session_end.getTime)
                  s.session_end else head.session_end,
              n_events = head.n_events + s.n_events,
              sum_value = head.sum_value + s.sum_value) :: tail
          case _ => s :: acc
        }
      }.reverse

  /** Current event-time watermark, or Long.MinValue when the operator
    * runs in batch mode (withWatermark is a no-op there and
    * getCurrentWatermarkMs refuses) — so in batch nothing ever looks
    * sealed and the full session list comes out, matching
    * [[sessionizeBatch]]. */
  private def watermarkMs(state: GroupState[_]): Long =
    try state.getCurrentWatermarkMs()
    catch { case _: UnsupportedOperationException => Long.MinValue }

  /** Timeout must land strictly above the current watermark or Spark
    * rejects it; the +1 floor also keeps a key that received data this
    * trigger from re-firing in the same trigger. */
  private def evictionTarget(openSessions: Seq[UserSession], gapMs: Long,
      wm: Long): Long = {
    val target = openSessions.map(_.session_end.getTime).min + gapMs
    math.max(target, if (wm == Long.MinValue) Long.MinValue + 1 else wm + 1)
  }

  /** Gap-based sessionization via flatMapGroupsWithState, emitting
    * EVERY session: each changed session per trigger (update mode)
    * plus a closure record (the final form, re-emitted) when the
    * watermark seals a session — on the data path or via
    * `EventTimeTimeout` when the user goes idle, so state never
    * outlives the horizon even for users who stop sending events.
    *
    * Out-of-order input is handled by construction: the state holds
    * ALL unsealed sessions ([[SessionBuffer]]), each trigger's events
    * are folded into candidate sessions and interval-merged with the
    * stored ones, so a late event lands in whichever session (or new
    * session) the gap rule dictates — it never rewrites an unrelated
    * open session, and a late bridge event correctly fuses two stored
    * sessions. Events behind the watermark are dropped by Spark before
    * the operator (the standard bounded-state trade: pick the
    * watermark delay to cover real-world lateness).
    *
    * Downstream compaction contract: merging only ever GROWS a
    * session's interval and event count, so a later emission
    * supersedes exactly the earlier emissions (same user) whose
    * [start, end] it contains with a larger n_events. StreamingSpec
    * proves shuffled multi-trigger replay compacts to
    * [[sessionizeBatch]]'s output, session for session. */
  def sessionizeAll(events: Dataset[Event], gapMinutes: Long,
      watermark: String = "30 minutes")(
      implicit enc: org.apache.spark.sql.Encoder[UserSession],
      enc2: org.apache.spark.sql.Encoder[Long]): Dataset[UserSession] = {
    val gapMs = gapMinutes * 60000L
    implicit val bufEnc: org.apache.spark.sql.Encoder[SessionBuffer] =
      org.apache.spark.sql.Encoders.product[SessionBuffer]
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuffer, UserSession](
        org.apache.spark.sql.streaming.OutputMode.Update,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionBuffer]) =>
          val gap = gapMs
          val wm = watermarkMs(state)
          if (state.hasTimedOut) {
            val (closed, open) = state.get.sessions
              .partition(_.session_end.getTime + gap < wm)
            if (open.isEmpty) state.remove()
            else {
              state.update(SessionBuffer(open))
              state.setTimeoutTimestamp(evictionTarget(open, gap, wm))
            }
            closed.iterator
          } else {
            val prev = state.getOption.map(_.sessions).getOrElse(Seq.empty)
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            val merged =
              mergeByGap(prev.toList ::: gapSessions(userId, sorted, gap), gap)
            val (closed, open) =
              merged.partition(_.session_end.getTime + gap < wm)
            // `open` is USUALLY non-empty (a session touched this trigger
            // has end >= some event ts), but not always: unlike streaming
            // aggregates, (flat)MapGroupsWithState input is not
            // watermark-filtered, so a far-late burst (ts + gap < wm) can
            // seal every session in one call — emit the closures and free
            // the key instead of scheduling a timeout off an empty set
            // (observed as an empty.min crash under multi-trigger replay).
            if (open.isEmpty) {
              state.remove()
              closed.iterator
            } else {
              state.update(SessionBuffer(open))
              state.setTimeoutTimestamp(evictionTarget(open, gap, wm))
              val prevSet = prev.toSet
              (closed ++ open.filterNot(prevSet)).iterator
            }
          }
      }
  }

  /** Gap-based sessionization via mapGroupsWithState: emits the LAST
    * session per user per trigger (custom state beyond what windowed
    * aggs express — SURVEY §2.11 / north-star streaming). One output
    * row per key per trigger is the operator's shape, so earlier
    * sessions sealed mid-stream leave no closure record here — use
    * [[sessionizeAll]] for the complete per-session output stream.
    *
    * Shares [[SessionBuffer]] state and the interval-merge rule with
    * [[sessionizeAll]] (late events land by the gap rule, never
    * rewrite an unrelated session). Sealed sessions are trimmed on the
    * data path; an idle user's state is evicted by `EventTimeTimeout`
    * once the watermark passes the newest session's close boundary,
    * emitting that session's final form. */
  /** Per-event trailing frame state for [[anomalyScores]]: the last
    * ≤ `window` values IN CENTS, newest last. The frame is COUNT-based
    * (ROWS BETWEEN window PRECEDING AND 1 PRECEDING), so eviction needs
    * the raw trailing values, not just running sums — the exact
    * `(n, Σc, Σc²)` triple is derived per event from the ring, which
    * keeps the state bounded at `window` longs (~½ KB) per user
    * regardless of stream length. */
  final case class TrailBuffer(cents: Seq[Long])

  /** Shared stateful shell for the per-user trailing-cents operators
    * ([[anomalyScores]], [[ewmaSmooth]]): decode the ring state,
    * replay the micro-batch in (ts, event_id) order — FULL timestamp
    * precision via (getTime, getNanos); truncating to milliseconds
    * would diverge from the batch twins' microsecond window order for
    * same-millisecond events — fold each event through `score`, cap
    * the ring at `cap` cents, persist. `pushFirst` selects the frame
    * convention: true = current row included (EWMA recursion), false =
    * current row excluded (anomaly baseline). */
  private def trailingCentsFold[T](it: Iterator[Event],
      state: GroupState[TrailBuffer], cap: Int, pushFirst: Boolean)(
      score: (Vector[Long], Event) => T): Iterator[T] = {
    var ring = state.getOption.map(_.cents.toVector)
      .getOrElse(Vector.empty[Long])
    val out = it.toSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      .map { e =>
        if (pushFirst) ring = (ring :+ math.round(e.value * 100)).takeRight(cap)
        val scored = score(ring, e)
        if (!pushFirst) ring = (ring :+ math.round(e.value * 100)).takeRight(cap)
        scored
      }
    state.update(TrailBuffer(ring))
    out.iterator
  }

  final case class AnomalyScore(event_id: Long, user_id: Long,
      value: Double, base_mean: Option[Double], base_sd: Option[Double],
      z: Option[Double])

  /** Streaming face of
    * [[graft.queries.AnalyticsQueries.qRollingAnomaly]] — online
    * per-entity drift/outlier monitoring: each event is scored against
    * its user's trailing `window` events (current row EXCLUDED, so a
    * spike can't suppress its own baseline), with per-user ring-buffer
    * state folded across trigger batches via flatMapGroupsWithState.
    *
    * EXACT-REPLAY CONTRACT (StreamingSpec): emits the batch twin's
    * rows bit-for-bit. The arithmetic is the twin's integer-exact
    * spelling — values are 2-decimal quantized, the ring holds exact
    * integer cents, and mean/variance are derived per event by the
    * IDENTICAL terminal IEEE expressions (`mean = Σc/(100·n)`,
    * `var = (Σc² − Σc·Σc/n)/(n−1)`, `sd = √max(var,0)/100`, z only
    * when sd > 0) — so stream == batch is exact equality, not
    * tolerance. Events are sorted by (ts, event_id) within each
    * micro-batch; the equality contract assumes per-user event-time-
    * monotonic trigger batches (the same in-order-arrival premise as
    * the sessionization replay spec — a cross-batch straggler scores
    * against a baseline that already absorbed newer events).
    *
    * Scale shape: one stateful shuffle on user_id (high cardinality,
    * no hub hazard); state is `window` longs per user — 10^9 users ≈
    * 0.5 TB across a 1000-executor state store, linear and spillable.
    * NoTimeout by default: the baseline survives idle periods, which
    * is the monitoring semantics (an aged baseline is still a
    * baseline); deployments that must reclaim dormant keys can wrap
    * this with an event-time timeout that drops state — the next
    * event then re-warms from an empty frame, a documented semantic
    * deviation from the batch twin. */
  def anomalyScores(events: Dataset[Event], window: Int = 50)(
      implicit enc: org.apache.spark.sql.Encoder[AnomalyScore],
      encL: org.apache.spark.sql.Encoder[Long]): Dataset[AnomalyScore] = {
    implicit val bufEnc: org.apache.spark.sql.Encoder[TrailBuffer] =
      org.apache.spark.sql.Encoders.product[TrailBuffer]
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TrailBuffer, AnomalyScore](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[TrailBuffer]) =>
          // push AFTER scoring (pushFirst=false): the -1 frame bound
          // excludes the current row from its own baseline
          trailingCentsFold(it, state, window, pushFirst = false) { (ring, e) =>
            val n = ring.length
            val (mean, sd) =
              if (n >= 1) {
                var s1 = 0L; var s2 = 0L
                ring.foreach { c => s1 += c; s2 += c * c }
                // spelled exactly like the batch twin's terminal
                // expressions (double ÷ promoted long, same op order)
                val m = s1.toDouble / (100.0 * n)
                val s =
                  if (n >= 2) {
                    val v = (s2.toDouble - s1.toDouble * s1.toDouble / n) / (n - 1)
                    Some(math.sqrt(math.max(v, 0.0)) / 100.0)
                  } else None
                (Some(m), s)
              } else (None, None)
            val z = (mean, sd) match {
              case (Some(m), Some(s)) if s > 0.0 => Some((e.value - m) / s)
              case _ => None
            }
            AnomalyScore(e.event_id, userId, e.value, mean, sd, z)
          }
      }
  }

  final case class EwmaScore(event_id: Long, user_id: Long,
      value: Double, ewma: Double)

  /** Streaming face of
    * [[graft.queries.AnalyticsQueries.qEwmaSmooth]] — the same
    * ring-buffer fold as [[anomalyScores]], with the current event
    * INCLUDED (the classical EWMA recursion): state is the user's
    * last ≤ 8 cent values, and each event emits the exact integer
    * dot product `Σ c_{t−k}·2^(7−k)` over the terms present, divided
    * once — the batch twin's spelling, so stream == batch is
    * bit-for-bit (StreamingSpec). Same in-order-arrival contract and
    * bounded-state story (8 longs/user) as anomalyScores. */
  def ewmaSmooth(events: Dataset[Event], terms: Int = 8)(
      implicit enc: org.apache.spark.sql.Encoder[EwmaScore],
      encL: org.apache.spark.sql.Encoder[Long]): Dataset[EwmaScore] = {
    implicit val bufEnc: org.apache.spark.sql.Encoder[TrailBuffer] =
      org.apache.spark.sql.Encoders.product[TrailBuffer]
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TrailBuffer, EwmaScore](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[TrailBuffer]) =>
          // current row included: push FIRST, then weight newest-high
          trailingCentsFold(it, state, terms, pushFirst = true) { (ring, e) =>
            var num = 0L; var mass = 0L
            var k = 0
            while (k < ring.length) {
              val wgt = 1L << (terms - 1 - k)
              num += ring(ring.length - 1 - k) * wgt
              mass += wgt
              k += 1
            }
            EwmaScore(e.event_id, userId, e.value,
              num.toDouble / (100.0 * mass))
          }
      }
  }

  /** Ring state for [[levelShiftScores]]: the last ≤ 16 events as
    * parallel sequences (identity + exact cents + original value),
    * plus how many the user has EVER sent — the candidate row's trail
    * frame is full only from the 16th event on, and the ring alone
    * can't distinguish "16 seen" from "just 9". */
  final case class LevelBuffer(ids: Seq[Long], cents: Seq[Long],
      values: Seq[Double], seen: Long)

  final case class LevelShiftScore(event_id: Long, user_id: Long,
      value: Double, mean_trail: Option[Double], mean_lead: Option[Double],
      shift_z: Option[Double])

  /** Streaming face of
    * [[graft.queries.AnalyticsQueries.qLevelShift]] — online
    * change-point monitoring with the operator's inherent emission
    * LAG: a row's score compares the NEXT 8 values (itself included)
    * against the previous 8, so the stream emits each event exactly
    * when its lead frame completes — 7 events later. A user's final 7
    * events stay pending forever (their lead frames never fill); the
    * replay spec compares against the batch twin MINUS each user's
    * tail, which is the honest online contract, not a deviation.
    *
    * EXACT-REPLAY CONTRACT (StreamingSpec): emitted rows equal the
    * batch twin's bit-for-bit — the ring holds exact integer cents
    * and the means / explicit trailing variance / shift z are the
    * twin's terminal IEEE expressions verbatim (mean = Σc/(100·n),
    * var = (Σc² − Σc·Σc/n)/(n−1), sd = √max(var,0)/100, z only when
    * sd > 0 and both frames full). Same in-order-arrival premise and
    * (ts, event_id) micro-batch ordering as [[anomalyScores]].
    *
    * Scale shape: one stateful shuffle on user_id; state is 16 longs +
    * 16 doubles + a counter per user (~0.4 KB) regardless of stream
    * length — same linear-and-spillable story as anomalyScores. */
  def levelShiftScores(events: Dataset[Event])(
      implicit enc: org.apache.spark.sql.Encoder[LevelShiftScore],
      encL: org.apache.spark.sql.Encoder[Long]): Dataset[LevelShiftScore] = {
    implicit val bufEnc: org.apache.spark.sql.Encoder[LevelBuffer] =
      org.apache.spark.sql.Encoders.product[LevelBuffer]
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LevelBuffer, LevelShiftScore](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[LevelBuffer]) =>
          val st = state.getOption.getOrElse(
            LevelBuffer(Vector.empty, Vector.empty, Vector.empty, 0L))
          var ids = st.ids.toVector
          var cs = st.cents.toVector
          var vs = st.values.toVector
          var seen = st.seen
          val out = Vector.newBuilder[LevelShiftScore]
          it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              ids :+= e.event_id; cs :+= math.round(e.value * 100)
              vs :+= e.value; seen += 1
              if (ids.length > 16) { ids = ids.tail; cs = cs.tail; vs = vs.tail }
              val len = ids.length
              if (len >= 8) {
                val i = len - 8 // candidate: lead frame just completed
                val lead = cs.slice(i, i + 8)
                val meanLead = Some(lead.sum.toDouble / (100.0 * 8L))
                val (meanTrail, sdTrail) =
                  if (seen >= 16) {
                    val trail = cs.slice(i - 8, i)
                    var s1 = 0L; var s2 = 0L
                    trail.foreach { c => s1 += c; s2 += c * c }
                    val m = s1.toDouble / (100.0 * 8L)
                    val v = (s2.toDouble - s1.toDouble * s1.toDouble / 8L) / 7L
                    (Some(m), Some(math.sqrt(math.max(v, 0.0)) / 100.0))
                  } else (None, None)
                val z = (meanTrail, sdTrail, meanLead) match {
                  case (Some(mt), Some(sd), Some(ml)) if sd > 0.0 =>
                    Some((ml - mt) / sd)
                  case _ => None
                }
                out += LevelShiftScore(ids(i), userId, vs(i),
                  meanTrail, meanLead, z)
              }
            }
          state.update(LevelBuffer(ids, cs, vs, seen))
          out.result().iterator
      }
  }

  def sessionize(events: Dataset[Event], gapMinutes: Long,
      watermark: String = "30 minutes")(
      implicit enc: org.apache.spark.sql.Encoder[UserSession],
      enc2: org.apache.spark.sql.Encoder[Long]): Dataset[UserSession] = {
    val gapMs = gapMinutes * 60000L
    implicit val bufEnc: org.apache.spark.sql.Encoder[SessionBuffer] =
      org.apache.spark.sql.Encoders.product[SessionBuffer]
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionBuffer, UserSession](
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionBuffer]) =>
          val gap = gapMs
          if (state.hasTimedOut) {
            // fires only once the watermark passes the NEWEST session's
            // close boundary — everything stored is sealed; emit the
            // last session's final form and free the key's state
            val last = state.get.sessions.last
            state.remove()
            last
          } else {
            val wm = watermarkMs(state)
            val prev = state.getOption.map(_.sessions).getOrElse(Seq.empty)
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            val merged =
              mergeByGap(prev.toList ::: gapSessions(userId, sorted, gap), gap)
            // trim sealed sessions (no closure records in this variant)
            val open = merged.filter(_.session_end.getTime + gap >= wm)
            // same far-late guard as sessionizeAll: input is not
            // watermark-filtered, so everything can arrive sealed
            if (open.isEmpty) state.remove()
            else {
              state.update(SessionBuffer(open))
              // evict only when ALL sessions are sealed: the newest one
              // seals last, so target its close boundary
              state.setTimeoutTimestamp(math.max(
                open.map(_.session_end.getTime).max + gap,
                if (wm == Long.MinValue) Long.MinValue + 1 else wm + 1))
            }
            merged.last
          }
      }
  }
}

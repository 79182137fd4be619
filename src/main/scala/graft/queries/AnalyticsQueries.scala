package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus- and event-analytics operators a training-data pipeline runs
  * at 100 TB: TF-IDF term scoring, funnel conversion, time-range
  * (interval) join via binning, grouped exact quantiles, and weekly
  * cohort retention. Each has an exact DuckDB oracle twin.
  *
  * Conventions follow FIXTURES.md §B: total orderBy on a unique key,
  * identical aliases in Spark and SQL.
  */
object AnalyticsQueries {

  // ------------------------------------------------------------ TF-IDF
  /** Top-3 TF-IDF terms per document. The corpus-statistics join is the
    * canonical "document feature" op for curation (keyword extraction,
    * topic tagging).
    *
    * Scale shape: one explode + groupBy(doc,term) with partial agg
    * (shuffle 1), document frequency as a partial-aggregable
    * groupBy(term) count — the df table is |vocab|-sized — broadcast
    * back onto the tf frame (no shuffle on the Zipf-skewed term key),
    * per-doc top-k as a window over doc_id. A window
    * `count().over(partitionBy(term))` would instead pin every
    * (doc, term) row of a stop-word onto ONE reducer — on a real Zipf
    * vocabulary "the" occurs in nearly every document, so that reducer
    * holds ~|corpus| rows at 100 TB. df-as-aggregate is map-side
    * combinable and its output is bounded by vocabulary size, which is
    * why it broadcasts. No collect, no UDF — `ln` and integer counts
    * give bit-identical doubles across engines, so ties break
    * identically. N (corpus size) is a 1-row broadcast cross join, not
    * a driver constant. */
  def qTfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // |vocab| rows regardless of corpus size. No broadcast() hint on
    // purpose: a hint never auto-degrades, so an unbounded vocabulary at
    // the 100 TB tier would OOM the driver instead of falling back. AQE
    // picks broadcast-hash at runtime when the aggregated df table fits
    // the threshold, and degrades to a sort-merge join on term when it
    // doesn't — still partial-aggregated, never a single-reducer window.
    val dfTable = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val withDf = tf.join(dfTable, "term")
    // round(…, 9) BEFORE ranking: ln() is libm-dependent (~1 ulp across
    // engines), so ranking raw scores could flip near-tied ranks between
    // Spark and the oracle. Rounded scores rank identically, with the
    // term tie-break resolving exact-9-decimal ties (float-determinism
    // policy, COVERAGE.md).
    val scored = withDf.crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 9))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)))
      .filter(col("rk") <= 3)
    scored.select(col("doc_id"), col("term"), col("score"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val qTfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term
      |), wf AS (
      |  SELECT doc_id, term, tf,
      |    count(*) OVER (PARTITION BY term) AS df,
      |    (SELECT count(*) FROM documents) AS n_docs
      |  FROM tf
      |), sc0 AS (
      |  SELECT doc_id, term, round(tf * ln(CAST(n_docs AS DOUBLE) / df), 9) AS score
      |  FROM wf
      |), sc AS (
      |  SELECT doc_id, term, score,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY score DESC, term) AS rk
      |  FROM sc0
      |)
      |SELECT doc_id, term, score, rk FROM sc WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  // ------------------------------------------------------------ Funnel
  /** Ordered three-step funnel over the event stream: users who viewed,
    * then clicked strictly after their first view, then purchased
    * strictly after that first qualifying click. One row:
    * (n_view, n_click, n_purchase).
    *
    * Scale shape: each step is a selective scan (event_type filter
    * pushed to parquet) + groupBy(user) min — partial-aggregable — then
    * an equi-join on user_id against the previous step's (small,
    * shrinking) frame. The three 1-row counts combine via cross joins
    * of singletons; nothing wide ever sits on the driver. */
  def qFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    def step(tpe: String) = ev.filter(col("event_type") === tpe)
    val v = step("view").groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = step("click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = step("purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
  }

  val qFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |  GROUP BY e.user_id
      |)
      |SELECT (SELECT count(*) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_click,
      |       (SELECT count(*) FROM p) AS n_purchase""".stripMargin

  // ------------------------------------------------------------ Range join
  /** Interval join with NO equi-key: for every purchase event, the
    * number of click events (any user) within ±5 minutes.
    *
    * Naive Spark plans a pure range condition as
    * BroadcastNestedLoopJoin — O(n·m) and a driver-memory bomb at
    * scale. This implementation bins both sides into 5-minute epochs,
    * explodes each purchase to its 3 adjacent bins, equi-joins on the
    * bin (hash shuffle, scale-safe), and refines with the exact |Δt| ≤
    * 5 min predicate. A click's single bin meets each purchase at most
    * once, so no dedup pass is needed. PlanSpec asserts no nested-loop
    * join survives in the plan. */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val binUs = 300000000L // 5 minutes in microseconds
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        unix_micros(col("ts")).as("c_us"))
      .withColumn("bin", expr(s"c_us div ${binUs}L")) // integer div: exact binning
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("p_us"))
    val candidates = purchases
      .withColumn("pbin", expr(s"p_us div ${binUs}L"))
      .withColumn("bin", explode(array(col("pbin") - 1, col("pbin"), col("pbin") + 1)))
      .drop("pbin")
      .join(clicks, "bin")
      .filter(abs(col("p_us") - col("c_us")) <= binUs)
    val counts = candidates.groupBy(col("event_id")).agg(count(lit(1)).as("n_clicks"))
    purchases.select(col("event_id"))
      .join(counts, Seq("event_id"), "left")
      .select(col("event_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
      .orderBy(col("event_id"))
  }

  val qRangeJoinSql: String =
    """WITH p AS (
      |  SELECT event_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT event_id AS click_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'
      |)
      |SELECT p.event_id,
      |  count(c.click_id) AS n_clicks
      |FROM p LEFT JOIN c ON abs(p.p_us - c.c_us) <= 300000000
      |GROUP BY p.event_id
      |ORDER BY p.event_id""".stripMargin

  // ------------------------------------------------------------ Grouped quantiles
  /** Exact grouped quantiles: 25/50/75th percentile of extended price
    * per return flag (linear interpolation — Spark `percentile` and
    * DuckDB `quantile_cont` share the p·(n−1) definition).
    *
    * Scale note: exact percentile is a sort-based ObjectHashAggregate —
    * inherently holds each group's values; right for bounded-cardinality
    * group keys like this 3-value flag. The unbounded-cardinality /
    * 100 TB path is approx_percentile (GK sketch, mergeable, bounded
    * memory) — q_approx_quantile covers that tier. */
  def qGroupQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      // one percentile(array(...)) call: the group's values are
      // gathered and sorted ONCE for all three quantiles, not per-q
      .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("ps"))
      .select(col("l_returnflag"),
        col("ps").getItem(0).as("p25"),
        col("ps").getItem(1).as("p50"),
        col("ps").getItem(2).as("p75"))
      .orderBy(col("l_returnflag"))

  val qGroupQuantilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.25) AS p25,
      |  quantile_cont(l_extendedprice, 0.5) AS p50,
      |  quantile_cont(l_extendedprice, 0.75) AS p75
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------- Seasonal decomposition
  /** The hourly event-value series in EXACT INTEGER CENTS — the shared
    * corpus-proportional stage of the whole time-series family
    * ([[seasonalFrame]], [[qAcf]]): one partial-aggregable groupBy,
    * `sum(round(value*100))` exact in any order (magnitudes ≪ 2^53:
    * hourly cent sums stay exact to ~10^5 events/hour of max-magnitude
    * values, well past petabyte scale at this grain). */
  private def hourlyCents(s: SparkSession, d: String, out: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(sum(round(col("value") * lit(100)).cast("long")).as(out))

  /** Shared decomposition core ([[qSeasonalDecompose]],
    * [[qSeasonalOutliers]]): the hourly cent frame with its ±12 trend
    * sums and the broadcast 24-row seasonal profile LEFT-joined back.
    *
    * Scale shape: the only corpus-proportional stage is
    * [[hourlyCents]]; everything after (trend window, 24-row seasonal
    * profile, the join-back) runs on the calendar-BOUNDED hourly
    * series — the global-ordered trend window is single-task over
    * |hours| rows, never |events| (q_median_histogram's distinct-frame
    * discipline), and the seasonal profile broadcasts.
    *
    * Floats (COVERAGE.md class-2, integer-exact spelling): the trend
    * frame carries `(trend_sum_cents, trend_n)` exact integers, and
    * the seasonal mean is restricted to FULL ±12 frames (trend_n = 25)
    * so its numerator `25·y_cents − trend_sum_cents` is itself an
    * exact integer — every double derived downstream is ONE terminal
    * division (or sum/difference of such) over identical integers on
    * both engines, bit-exact under the driver's hash gate by IEEE
    * determinism. Edge rows (first/last 12 hours, partial frames)
    * still receive a trend and a resid; they are only excluded from
    * ESTIMATING the 24-row profile. A degenerate series too short to
    * produce any full ±12 frame for some hour-of-day keeps its rows
    * (NULL seasonal and resid, LEFT join-back) instead of silently
    * vanishing from the decomposition. */
  private[graft] def seasonalFrame(s: SparkSession, d: String): DataFrame = {
    val hourly = hourlyCents(s, d, "y_cents")
    val w = Window.orderBy(col("hour_ts")).rowsBetween(-12, 12)
    val trended = hourly
      .withColumn("trend_sum", sum(col("y_cents")).over(w))
      .withColumn("trend_n", count(lit(1)).over(w))
      .withColumn("hod", hour(col("hour_ts")))
    val seasonal = trended
      .where(col("trend_n") === 25)
      .groupBy(col("hod"))
      .agg((sum(lit(25L) * col("y_cents") - col("trend_sum")).cast("double") /
        (lit(2500.0) * count(lit(1)))).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("hod"), "left")
  }

  /** Terminal-division emits over [[seasonalFrame]]'s exact integers. */
  private def seasonalY: Column = col("y_cents").cast("double") / lit(100.0)
  private def seasonalTrend: Column =
    col("trend_sum").cast("double") / (lit(100.0) * col("trend_n"))

  /** Classical additive seasonal decomposition (STL-lite) of the
    * hourly event-value series: `y = trend + seasonal + resid` with
    * trend = centered ±12 h moving average and seasonal = the mean
    * detrended value per hour-of-day — the decomposition behind every
    * "is this drop daily rhythm or a real regression" call in traffic
    * and pipeline-volume monitoring. Scale + float rationale live on
    * [[seasonalFrame]]; the emits here are its terminal divisions. */
  def qSeasonalDecompose(s: SparkSession, d: String): DataFrame =
    seasonalFrame(s, d)
      .select(col("hour_ts"), seasonalY.as("y"), seasonalTrend.as("trend"),
        col("seasonal"),
        (seasonalY - seasonalTrend - col("seasonal")).as("resid"))
      .orderBy(col("hour_ts"))

  val qSeasonalDecomposeSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts,
      |         sum(CAST(round(value * 100) AS BIGINT)) AS y_cents
      |  FROM events GROUP BY 1
      |), t AS (
      |  SELECT hour_ts, y_cents,
      |    sum(y_cents) OVER w AS trend_sum,
      |    count(*) OVER w AS trend_n,
      |    hour(hour_ts) AS hod
      |  FROM hourly
      |  WINDOW w AS (ORDER BY hour_ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
      |), s AS (
      |  SELECT hod,
      |    CAST(sum(25 * y_cents - trend_sum) AS DOUBLE) /
      |      (2500.0 * count(*)) AS seasonal
      |  FROM t WHERE trend_n = 25 GROUP BY hod
      |)
      |SELECT t.hour_ts,
      |  CAST(y_cents AS DOUBLE) / 100.0 AS y,
      |  CAST(trend_sum AS DOUBLE) / (100.0 * trend_n) AS trend,
      |  s.seasonal,
      |  CAST(y_cents AS DOUBLE) / 100.0
      |    - CAST(trend_sum AS DOUBLE) / (100.0 * trend_n)
      |    - s.seasonal AS resid
      |FROM t LEFT JOIN s USING (hod)
      |ORDER BY hour_ts""".stripMargin

  // --------------------------------------------------- Rolling anomaly score
  /** Trailing z-score anomaly scoring — the online-monitoring twin of
    * [[qSeasonalDecompose]]'s offline decomposition: each event is
    * scored against ITS OWN user's trailing 50 events (mean and
    * sample stddev over `ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING` —
    * the current row EXCLUDED, so a spike can't suppress its own
    * baseline), the standard per-entity drift/outlier pass over a
    * telemetry stream.
    *
    * Scale shape: one shuffle on user_id; window partitions are
    * per-user (high cardinality, no hub hazard) with a bounded
    * 50-row frame.
    *
    * Floats (COVERAGE.md class-2, integer-exact spelling): the
    * 2-decimal-quantized values are carried through the frame as
    * INTEGER CENTS — the frame aggregates are exact integer
    * `(n, Σc, Σc²)` (Σc² ≤ 50·(56·10^3)² ≈ 1.6·10^11 ≪ 2^53, exact
    * in ANY partial-agg order), and mean/variance are derived by
    * EXPLICIT terminal expressions — `mean = Σc/(100·n)`,
    * `var = (Σc² − Σc·Σc/n)/(n−1)` in cents², `sd = sqrt(max(var,0))
    * /100` — never the engine-internal `stddev_samp` update order,
    * which differs between Spark and DuckDB by one ulp. Identical
    * IEEE expression trees over identical integers are bit-exact
    * cross-engine, so the hash gate needs no tolerance. Degenerate
    * frames stay NULL on both engines: fewer than 2 trailing rows →
    * sd NULL → z NULL, and an all-equal frame (var = 0, clamped by
    * the max against cancellation) is explicitly NULL rather than an
    * engine-dependent ±Infinity. */
  def qRollingAnomaly(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-50, -1)
    val cents = round(col("value") * lit(100)).cast("long")
    val base = Tables.events(s, d)
      .withColumn("c", cents)
      .withColumn("n", count(col("c")).over(w))
      .withColumn("s1", sum(col("c")).over(w))
      .withColumn("s2", sum(col("c") * col("c")).over(w))
    val mean = col("s1").cast("double") / (lit(100.0) * col("n"))
    val varC2 = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / col("n")) /
      (col("n") - lit(1L))
    val sd = sqrt(greatest(varC2, lit(0.0))) / lit(100.0)
    base
      .withColumn("base_mean", when(col("n") >= 1, mean))
      .withColumn("base_sd", when(col("n") >= 2, sd))
      .select(col("event_id"), col("user_id"), col("value"),
        col("base_mean"), col("base_sd"),
        when(col("base_sd") > 0.0,
          (col("value") - col("base_mean")) / col("base_sd")).as("z"))
      .orderBy(col("event_id"))
  }

  val qRollingAnomalySql: String =
    """WITH b AS (
      |  SELECT event_id, user_id, value,
      |    count(c) OVER w AS n,
      |    sum(c) OVER w AS s1,
      |    sum(c * c) OVER w AS s2
      |  FROM (SELECT *, CAST(round(value * 100) AS BIGINT) AS c FROM events)
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
      |), m AS (
      |  SELECT event_id, user_id, value,
      |    CASE WHEN n >= 1
      |         THEN CAST(s1 AS DOUBLE) / (100.0 * n) END AS base_mean,
      |    CASE WHEN n >= 2
      |         THEN sqrt(greatest(
      |                (CAST(s2 AS DOUBLE)
      |                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
      |                / (n - 1), 0.0)) / 100.0 END AS base_sd
      |  FROM b
      |)
      |SELECT event_id, user_id, value, base_mean, base_sd,
      |  CASE WHEN base_sd > 0 THEN (value - base_mean) / base_sd END AS z
      |FROM m
      |ORDER BY event_id""".stripMargin

  // ----------------------------------------------------------- EWMA smoothing
  /** Exponentially-weighted moving average per user with α = 1/2 —
    * the standard telemetry smoother, in a spelling that is EXACT:
    * dyadic weights 2⁻¹, 2⁻², … are exactly representable, so the
    * 8-term truncated EWMA is an INTEGER dot product
    * `Σ c_{t−k}·2^(7−k)` over the trailing cents (current row
    * included, the classical recursion unrolled) divided by the
    * integer weight mass `Σ 2^(7−k)` of the terms actually present —
    * one terminal division, bit-exact cross-engine (class-2
    * integer-exact doctrine; a float recursion would compound
    * rounding per step AND be inexpressible without recursion
    * anyway). Truncation at 8 terms is the operator's DEFINITION
    * (weight 2⁻⁸ ≈ 0.4% of mass), not an approximation of some other
    * oracle — the twin replays the identical unrolling.
    *
    * Scale shape: one shuffle on user_id; the unrolled lags are 16
    * expressions over ONE ordered window pass (no self-joins, no
    * per-row arrays); partitions are per-user, frames bounded. */
  def qEwmaSmooth(s: SparkSession, d: String): DataFrame = {
    val K = 8
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val c = round(col("value") * lit(100)).cast("long")
    val num = (0 until K).map { k =>
      coalesce(lag(col("c"), k).over(w) * lit(1L << (K - 1 - k)), lit(0L))
    }.reduce(_ + _)
    val mass = (0 until K).map { k =>
      when(lag(col("c"), k).over(w).isNotNull, lit(1L << (K - 1 - k)))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    Tables.events(s, d)
      .withColumn("c", c)
      .withColumn("num", num)
      .withColumn("mass", mass)
      .select(col("event_id"), col("user_id"), col("value"),
        (col("num").cast("double") / (lit(100.0) * col("mass"))).as("ewma"))
      .orderBy(col("event_id"))
  }

  val qEwmaSmoothSql: String = {
    val K = 8
    val num = (0 until K)
      .map(k => s"coalesce(lag(c, $k) OVER w * ${1L << (K - 1 - k)}, 0)")
      .mkString(" + ")
    val mass = (0 until K)
      .map(k => s"CASE WHEN lag(c, $k) OVER w IS NOT NULL THEN ${1L << (K - 1 - k)} ELSE 0 END")
      .mkString(" + ")
    s"""SELECT event_id, user_id, value,
       |  CAST($num AS DOUBLE) / (100.0 * ($mass)) AS ewma
       |FROM (SELECT *, CAST(round(value * 100) AS BIGINT) AS c FROM events)
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY event_id""".stripMargin
  }

  // ------------------------------------------------- Forecast backtest
  /** Rolling forecast backtest — the EVAL harness of the time-series
    * family (what q_retrieval_eval is to the ANN tiers): per weekly
    * fold, the error of the two no-parameter reference forecasters
    * every real model must beat — seasonal-naive ŷ(d) = y(d−7) and
    * naive ŷ(d) = y(d−1) — over the dense daily revenue series
    * (Hyndman & Athanasopoulos, "Forecasting" §5.2: the benchmark
    * backtest). Emitted per fold: day count, actual total, both
    * absolute-error totals, WAPE for each, and the
    * seasonal-beats-naive verdict.
    *
    * Floats (class-2 integer-exact doctrine): the daily series is
    * exact integer cents (events.value is 2-decimal quantized), both
    * error totals are integer sums — partial-agg order-exact — and
    * each WAPE is ONE terminal division of exact longs (this is why
    * the metric is WAPE = Σ|err|/Σy and not MAPE: a mean of per-day
    * rational ratios would be the r12 quantized-mean boundary-sit
    * class). Eval days are those with BOTH lags defined (day ≥
    * min+7), so the two WAPEs share one denominator frame.
    *
    * Scale shape: one corpus-proportional partial-aggregable groupBy
    * to the calendar-bounded daily frame; the dense grid, lags, and
    * fold math run on that bounded frame (the wau/decompose
    * discipline — the only window is over ≤ |calendar| rows). */
  def qForecastBacktest(s: SparkSession, d: String): DataFrame =
    forecastBacktestFinalize(forecastDailyCents(Tables.events(s, d)))

  /** The corpus-proportional half: per-day exact integer cent sums —
    * also the streaming face's aggregation state shape (one long per
    * calendar day, bounded by the calendar, not stream length). */
  def forecastDailyCents(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * lit(100)).cast("long")).as("c"))

  /** The deterministic readout over a (day, c) counts frame — ONE
    * finalize shared by the batch query and the streaming face
    * (the psiFinalize hinge: stream == batch iff the counts agree,
    * because everything downstream is this function). All integer
    * arithmetic until the two terminal WAPE divisions, so
    * finalize(folded state) replays the batch frame bit-for-bit. */
  def forecastBacktestFinalize(daily0: DataFrame): DataFrame = {
    // snapshot: the grid consumes the counts frame twice (bounds +
    // join), and a streaming memory-sink table on both sides of a
    // join trips conflicting-reference resolution
    val daily = daily0.select(col("day"), col("c")).localCheckpoint(true)
    val grid = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.orderBy(col("day"))
    val dense = grid.join(daily, Seq("day"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("y7", lag(col("c"), 7).over(w))
      .withColumn("y1", lag(col("c"), 1).over(w))
      .filter(col("y7").isNotNull)
    dense
      .withColumn("fold",
        (datediff(col("day"), min(col("day")).over(
          Window.partitionBy())) / lit(7)).cast("int"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("actual_cents"),
        sum(abs(col("c") - col("y7"))).as("abs_err_seasonal_cents"),
        sum(abs(col("c") - col("y1"))).as("abs_err_naive_cents"))
      .select(col("fold"), col("n_days"), col("actual_cents"),
        col("abs_err_seasonal_cents"), col("abs_err_naive_cents"),
        (col("abs_err_seasonal_cents").cast("double") / col("actual_cents"))
          .as("wape_seasonal"),
        (col("abs_err_naive_cents").cast("double") / col("actual_cents"))
          .as("wape_naive"),
        (col("abs_err_seasonal_cents") < col("abs_err_naive_cents"))
          .as("seasonal_beats_naive"))
      .orderBy(col("fold"))
  }

  val qForecastBacktestSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    sum(CAST(round(value * 100) AS BIGINT)) AS c
      |  FROM events GROUP BY 1
      |), grid AS (
      |  SELECT unnest(generate_series((SELECT min(day) FROM daily),
      |                                (SELECT max(day) FROM daily),
      |                                INTERVAL 1 DAY))::DATE AS day
      |), dense AS (
      |  SELECT g.day, coalesce(d.c, 0) AS c,
      |    lag(coalesce(d.c, 0), 7) OVER (ORDER BY g.day) AS y7,
      |    lag(coalesce(d.c, 0), 1) OVER (ORDER BY g.day) AS y1
      |  FROM grid g LEFT JOIN daily d USING (day)
      |), ev AS (
      |  SELECT *, CAST((day - (SELECT min(day) FROM dense WHERE y7 IS NOT NULL))
      |                 // 7 AS INT) AS fold
      |  FROM dense WHERE y7 IS NOT NULL
      |)
      |SELECT fold, count(*) AS n_days,
      |  CAST(sum(c) AS BIGINT) AS actual_cents,
      |  CAST(sum(abs(c - y7)) AS BIGINT) AS abs_err_seasonal_cents,
      |  CAST(sum(abs(c - y1)) AS BIGINT) AS abs_err_naive_cents,
      |  CAST(sum(abs(c - y7)) AS DOUBLE) / sum(c) AS wape_seasonal,
      |  CAST(sum(abs(c - y1)) AS DOUBLE) / sum(c) AS wape_naive,
      |  sum(abs(c - y7)) < sum(abs(c - y1)) AS seasonal_beats_naive
      |FROM ev GROUP BY fold
      |ORDER BY fold""".stripMargin

  // ------------------------------------------------------- Level-shift scan
  /** Level-shift (change-point) scoring — the drift complement of
    * [[qRollingAnomaly]]'s point-outlier z: at every event, the mean
    * of the NEXT 8 values (current row included) is compared against
    * the mean of the PREVIOUS 8, standardized by the trailing sample
    * sd — the two-window CUSUM-lite behind "did this user's metric
    * step to a new level here". Both frames must be FULL (8 rows) and
    * the trailing sd positive, else NULL — partial-frame scores would
    * be noise at the series edges.
    *
    * Floats: both frames carry exact integer `(Σc, Σc², n)`
    * (class-2 integer-exact spelling); means, the explicit trailing
    * variance, and the shift z are single terminal IEEE expressions
    * replayed verbatim by the twin. Scale shape: one shuffle on
    * user_id, two bounded frames over the same ordered window pass. */
  def qLevelShift(s: SparkSession, d: String): DataFrame = {
    val base = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wt = base.rowsBetween(-8, -1)
    val wl = base.rowsBetween(0, 7)
    val c = round(col("value") * lit(100)).cast("long")
    val meanT = col("st1").cast("double") / (lit(100.0) * col("nt"))
    val meanL = col("sl1").cast("double") / (lit(100.0) * col("nl"))
    val varT = (col("st2").cast("double") -
      col("st1").cast("double") * col("st1").cast("double") / col("nt")) /
      (col("nt") - lit(1L))
    val sdT = sqrt(greatest(varT, lit(0.0))) / lit(100.0)
    Tables.events(s, d)
      .withColumn("c", c)
      .withColumn("nt", count(col("c")).over(wt))
      .withColumn("st1", sum(col("c")).over(wt))
      .withColumn("st2", sum(col("c") * col("c")).over(wt))
      .withColumn("nl", count(col("c")).over(wl))
      .withColumn("sl1", sum(col("c")).over(wl))
      .withColumn("mean_trail", when(col("nt") === 8, meanT))
      .withColumn("mean_lead", when(col("nl") === 8, meanL))
      .withColumn("sd_trail", when(col("nt") === 8, sdT))
      .select(col("event_id"), col("user_id"), col("value"),
        col("mean_trail"), col("mean_lead"),
        when(col("sd_trail") > 0.0 && col("mean_lead").isNotNull,
          (col("mean_lead") - col("mean_trail")) / col("sd_trail"))
          .as("shift_z"))
      .orderBy(col("event_id"))
  }

  val qLevelShiftSql: String =
    """WITH b AS (
      |  SELECT event_id, user_id, value,
      |    count(c) OVER wt AS nt, sum(c) OVER wt AS st1,
      |    sum(c * c) OVER wt AS st2,
      |    count(c) OVER wl AS nl, sum(c) OVER wl AS sl1
      |  FROM (SELECT *, CAST(round(value * 100) AS BIGINT) AS c FROM events)
      |  WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
      |         wl AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
      |), m AS (
      |  SELECT event_id, user_id, value,
      |    CASE WHEN nt = 8
      |         THEN CAST(st1 AS DOUBLE) / (100.0 * nt) END AS mean_trail,
      |    CASE WHEN nl = 8
      |         THEN CAST(sl1 AS DOUBLE) / (100.0 * nl) END AS mean_lead,
      |    CASE WHEN nt = 8
      |         THEN sqrt(greatest(
      |                (CAST(st2 AS DOUBLE)
      |                   - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE) / nt)
      |                / (nt - 1), 0.0)) / 100.0 END AS sd_trail
      |  FROM b
      |)
      |SELECT event_id, user_id, value, mean_trail, mean_lead,
      |  CASE WHEN sd_trail > 0 AND mean_lead IS NOT NULL
      |       THEN (mean_lead - mean_trail) / sd_trail END AS shift_z
      |FROM m
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------- Autocorrelation
  /** Autocorrelation of the hourly event-value series at lags 1 and 24
    * (Pearson over the lagged pairs) — the rhythm diagnostic behind
    * seasonality detection: a strong lag-24 ACF says "model the daily
    * cycle" (and picks the period [[qSeasonalDecompose]] assumes), a
    * strong lag-1 says "trending/AR(1)".
    *
    * Scale shape: ONE corpus-proportional partial-aggregable groupBy
    * to the hourly frame; the lead() window and the per-lag sums run
    * on the calendar-BOUNDED hourly series (the decompose family's
    * documented single-task-window discipline), with both lags stacked
    * by an in-row explode so the bounded frame is scanned once.
    *
    * Floats (COVERAGE.md class-2, integer-exact spelling): hourly cent
    * sums are exact longs; the Pearson moments (n, Σx, Σy, Σxy, Σx²,
    * Σy²) are carried in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) —
    * n·Σxy reaches ~8·10^18 at sf0.1, past 2^53 and near 2^63, so the
    * long path is NOT safe; 128-bit integer aggregation is exact in
    * any order on both engines. The correlation is then a fixed
    * terminal IEEE tree (two casts-to-double of exact integers —
    * round-to-nearest-even on both engines — two sqrts, one multiply,
    * one divide), bit-exact cross-engine. */
  def qAcf(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val hourly = hourlyCents(s, d, "c")
    val w = Window.orderBy(col("hour_ts"))
    val pairs = hourly
      .select(col("c"),
        lead(col("c"), 1).over(w).as("c1"),
        lead(col("c"), 24).over(w).as("c24"))
      .select(col("c"), explode(array(
        struct(lit(1).as("lag_h"), col("c1").as("cl")),
        struct(lit(24).as("lag_h"), col("c24").as("cl")))).as("e"))
      .select(col("e.lag_h").as("lag_h"), col("c"), col("e.cl").as("cl"))
      .where(col("cl").isNotNull)
    val m = pairs.groupBy(col("lag_h"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("c").cast(dec)).as("sx"),
        sum(col("cl").cast(dec)).as("sy"),
        sum(col("c").cast(dec) * col("cl").cast(dec)).as("sxy"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("sxx"),
        sum(col("cl").cast(dec) * col("cl").cast(dec)).as("syy"))
    // Zero-variance guard (family doctrine, [[qXcorrLagged]]'s exact
    // shape): a constant overlap window makes the denominator 0 —
    // Spark's x/0.0 yields NULL while DuckDB's default IEEE division
    // yields inf/NaN, so the degenerate case MUST be decided on the
    // exact integer variance, not left to engine division semantics.
    val vx = m("n_pairs").cast(dec) * col("sxx") - col("sx") * col("sx")
    val vy = m("n_pairs").cast(dec) * col("syy") - col("sy") * col("sy")
    m.select(col("lag_h"), col("n_pairs"),
        when(vx =!= 0 && vy =!= 0,
          (col("n_pairs").cast(dec) * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("acf"))
      .orderBy(col("lag_h"))
  }

  val qAcfSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts,
      |         sum(CAST(round(value * 100) AS BIGINT)) AS c
      |  FROM events GROUP BY 1
      |), lagged AS (
      |  SELECT c,
      |    lead(c, 1)  OVER (ORDER BY hour_ts) AS c1,
      |    lead(c, 24) OVER (ORDER BY hour_ts) AS c24
      |  FROM hourly
      |), pairs AS (
      |  SELECT 1 AS lag_h, c, c1 AS cl FROM lagged WHERE c1 IS NOT NULL
      |  UNION ALL
      |  SELECT 24, c, c24 FROM lagged WHERE c24 IS NOT NULL
      |), sums AS (
      |  SELECT lag_h, count(*) AS n_pairs,
      |    sum(CAST(c AS HUGEINT)) AS sx,
      |    sum(CAST(cl AS HUGEINT)) AS sy,
      |    sum(CAST(c AS HUGEINT) * cl) AS sxy,
      |    sum(CAST(c AS HUGEINT) * c) AS sxx,
      |    sum(CAST(cl AS HUGEINT) * cl) AS syy
      |  FROM pairs GROUP BY lag_h
      |)
      |SELECT lag_h, n_pairs,
      |  CASE WHEN n_pairs * sxx - sx * sx <> 0
      |        AND n_pairs * syy - sy * sy <> 0 THEN
      |    CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
      |     (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
      |      sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
      |  END AS acf
      |FROM sums ORDER BY lag_h""".stripMargin

  // ---------------------------------------------- Lagged cross-correlation
  /** Lagged cross-correlation between two event series — hourly error
    * COUNT (x) against hourly purchase cent volume (y) at lags −3…+3
    * hours: the lead/lag diagnostic behind "do error bursts precede
    * revenue dips, and by how many hours?" (positive lag = x leads y).
    * The cross-series member of the [[qAcf]] family, sharing its
    * conventions: the series is the OBSERVED hourly frame (an hour
    * with no events at all is a gap, not a zero), pairs where the
    * shifted partner runs off the series edge drop out per lag, and a
    * Pearson r over exact integer moments.
    *
    * Scale shape: ONE corpus-proportional partial-aggregable groupBy
    * to the hourly (x, y) frame; the single-task ordered window runs
    * over the calendar-BOUNDED hourly series (q_seasonal_decompose's
    * documented discipline), each row fans out IN-ROW into its ≤ 7
    * lag pairs, and the moment groupBy reduces 7 lag groups.
    *
    * Floats (class-1 integer-exact, [[qAcf]]'s spelling): x, y and
    * all five moments are exact integers in DECIMAL(38,0)/HUGEINT;
    * r is ONE terminal IEEE tree (two sqrts, one division) over
    * identical integers on both engines — no rounding needed. A lag
    * whose overlap window is degenerate (either series constant →
    * zero variance, r's 0/0) emits NULL via explicit denominator
    * guards, mirrored in the twin. */
  def qXcorrLagged(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(when(col("event_type") === "error", 1)).as("x"),
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * lit(100)).cast("long"))), lit(0L)).as("y"))
    val w = Window.orderBy(col("hour_ts"))
    val leads = (1 to 3).flatMap(j => Seq(
      lead(col("x"), j).over(w).as(s"x$j"),
      lead(col("y"), j).over(w).as(s"y$j")))
    val widened = hourly.select(col("x") +: col("y") +: leads: _*)
    val arms = (-3 to 3).map { k =>
      val (a, b) =
        if (k > 0) (col("x"), col(s"y$k"))
        else if (k < 0) (col(s"x${-k}"), col("y"))
        else (col("x"), col("y"))
      struct(lit(k).as("lag_h"), a.as("xx"), b.as("yy"))
    }
    val pairs = widened
      .select(explode(array(arms: _*)).as("e"))
      .select(col("e.lag_h").as("lag_h"), col("e.xx").as("xx"),
        col("e.yy").as("yy"))
      .where(col("xx").isNotNull && col("yy").isNotNull)
    val m = pairs.groupBy(col("lag_h"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("xx").cast(dec)).as("sx"),
        sum(col("yy").cast(dec)).as("sy"),
        sum(col("xx").cast(dec) * col("yy").cast(dec)).as("sxy"),
        sum(col("xx").cast(dec) * col("xx").cast(dec)).as("sxx"),
        sum(col("yy").cast(dec) * col("yy").cast(dec)).as("syy"))
    val vx = m("n_pairs").cast(dec) * col("sxx") - col("sx") * col("sx")
    val vy = m("n_pairs").cast(dec) * col("syy") - col("sy") * col("sy")
    m.select(col("lag_h"), col("n_pairs"),
        when(vx =!= 0 && vy =!= 0,
          (col("n_pairs").cast(dec) * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("xcorr"))
      .orderBy(col("lag_h"))
  }

  val qXcorrLaggedSql: String = {
    val arms = (-3 to 3).map { k =>
      val (a, b) =
        if (k > 0) ("x", s"y$k") else if (k < 0) (s"x${-k}", "y") else ("x", "y")
      s"SELECT $k AS lag_h, $a AS xx, $b AS yy FROM lagged" +
        s" WHERE $a IS NOT NULL AND $b IS NOT NULL"
    }.mkString("\n  UNION ALL ")
    s"""WITH hourly AS (
       |  SELECT date_trunc('hour', ts) AS hour_ts,
       |    count(*) FILTER (event_type = 'error') AS x,
       |    coalesce(sum(CAST(round(value * 100) AS BIGINT))
       |             FILTER (event_type = 'purchase'), 0) AS y
       |  FROM events GROUP BY 1
       |), lagged AS (
       |  SELECT x, y,
       |    lead(x, 1) OVER w AS x1, lead(y, 1) OVER w AS y1,
       |    lead(x, 2) OVER w AS x2, lead(y, 2) OVER w AS y2,
       |    lead(x, 3) OVER w AS x3, lead(y, 3) OVER w AS y3
       |  FROM hourly WINDOW w AS (ORDER BY hour_ts)
       |), pairs AS (
       |  $arms
       |), m AS (
       |  SELECT lag_h, count(*) AS n_pairs,
       |    sum(CAST(xx AS HUGEINT)) AS sx,
       |    sum(CAST(yy AS HUGEINT)) AS sy,
       |    sum(CAST(xx AS HUGEINT) * yy) AS sxy,
       |    sum(CAST(xx AS HUGEINT) * xx) AS sxx,
       |    sum(CAST(yy AS HUGEINT) * yy) AS syy
       |  FROM pairs GROUP BY lag_h
       |)
       |SELECT lag_h, n_pairs,
       |  CASE WHEN n_pairs * sxx - sx * sx <> 0
       |        AND n_pairs * syy - sy * sy <> 0
       |       THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
       |            (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
       |             sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
       |  END AS xcorr
       |FROM m ORDER BY lag_h""".stripMargin
  }

  // -------------------------------------------------- Per-group OLS trend
  /** Per-user least-squares trend fit — slope and R² of event value
    * against time for every user, in ONE aggregation pass: the
    * million-model "grouped regression" pattern (a trend feature per
    * entity for churn/LTV models, or a drift alarm per sensor) that
    * would be a driver-side loop in the reference's architecture.
    *
    * Scale shape: OLS reduces to the five moments (n, Σx, Σy, Σxy,
    * Σx²[, Σy² for R²]) — all partial-aggregable, so the whole fit is
    * one corpus-proportional groupBy on user_id (map-side combine,
    * one shuffle) and a per-group terminal projection. No window, no
    * per-group sort, no iteration: the same plan at 100 TB, just more
    * partitions.
    *
    * Floats (COVERAGE.md class-2, integer-exact spelling): x = epoch
    * SECONDS (exact integer, both engines floor-divide the same
    * micros), y = exact cents; moments carried in DECIMAL(38,0) /
    * HUGEINT (x² ≈ 3·10^18 per row — n·Σx² reaches ~10^22, past both
    * 2^53 and 2^63). slope = Δxy/Δxx and R² = Δxy²/(Δxx·Δyy) are then
    * fixed terminal IEEE trees over exact integers (casts round to
    * nearest-even identically; ·864.0 rescales cents/sec → units/day
    * exactly). Constant series (Δxx = 0) and constant values
    * (Δyy = 0) emit NULL, never ±Inf/NaN. */
  def qGroupedOls(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val moments = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 1000000").as("x"),
        round(col("value") * lit(100)).cast("long").as("y"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
    val dxy = (col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    val dxx = (col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val dyy = (col("n").cast(dec) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    moments.select(col("user_id"), col("n"),
      when(col("n") >= 3 && dxx =!= 0.0, dxy / dxx * lit(864.0))
        .as("slope_per_day"),
      when(col("n") >= 3 && dxx =!= 0.0 && dyy =!= 0.0,
        dxy * dxy / (dxx * dyy)).as("r2"))
      .orderBy(col("user_id"))
  }

  val qGroupedOlsSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 1000000 AS x,
      |         CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events
      |), m AS (
      |  SELECT user_id, count(*) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx,
      |    sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM e GROUP BY user_id
      |)
      |SELECT user_id, n,
      |  CASE WHEN n >= 3 AND n * sxx - sx * sx <> 0 THEN
      |    CAST(n * sxy - sx * sy AS DOUBLE) /
      |      CAST(n * sxx - sx * sx AS DOUBLE) * 864.0 END AS slope_per_day,
      |  CASE WHEN n >= 3 AND n * sxx - sx * sx <> 0
      |            AND n * syy - sy * sy <> 0 THEN
      |    CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) /
      |      (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |  END AS r2
      |FROM m ORDER BY user_id""".stripMargin

  // -------------------------------------------------- Two-sample z-test
  /** Welch two-sample z readout per event type — difference in mean
    * event value between two deterministic user cohorts (user_id
    * parity stands in for the assignment hash), standardized by the
    * unpooled standard error: the experimentation primitive every
    * product-analytics deployment runs, and at these group sizes
    * (n ≫ 100) the z and t references coincide. `significant` applies
    * the two-sided 5% gate |z| > 1.96.
    *
    * Scale shape: ONE partial-aggregable conditional-aggregation pass
    * (each cohort's n, Σc, Σc² as FILTER-style when() sums — no
    * per-cohort scan, no join, no window); the z is a per-row terminal
    * projection on the |event_type|-bounded frame.
    *
    * Floats (class-2 integer-exact): moments in exact cents with the
    * Σc² products carried in DECIMAL(38,0)/HUGEINT; mean, variance
    * (explicit (nΣc² − (Σc)²)/(n²(n−1)) spelling — never
    * engine-internal var_samp), and z are fixed terminal IEEE trees
    * (casts, multiplies, divides, one sqrt — all exact-deterministic
    * cross-engine). Degenerate cohorts (n < 2) emit NULL z, and the
    * significance boolean derives from the deterministic z. */
  // ------------------------------------------- Mann–Kendall trend test
  /** Mann–Kendall monotonic-trend test (Mann '45, Kendall's S) of each
    * event type's DAILY cent volume — the distribution-free "is this
    * series drifting" answer next to [[qLevelShift]]'s changepoint and
    * [[qAcf]]'s seasonality: S = Σ_{i<j} sign(c_j − c_i) over all day
    * pairs, the tie-corrected variance
    * `[n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18`, and the
    * continuity-corrected z. No parametric assumption, no regression —
    * the robust member of the trend family.
    *
    * Scale shape: ONE corpus-proportional partial-aggregable groupBy
    * to the calendar-bounded daily frame, localCheckpoint'ed ONCE (it
    * feeds the pair join, the day count, and the tie profile — three
    * plan branches must not re-scan events); the O(n²) pair expansion
    * runs on the BOUNDED frame (30 days → 435 pairs per type — at a
    * 100 TB year it is 66 430 pairs, still nothing), equi-keyed on the
    * type so pairs never cross series.
    *
    * Floats (class-1 integer-exact): daily volumes, sign sums, and
    * both variance terms are exact integers (var_num < n³ — longs hold
    * past a 2-million-day calendar); z is ONE terminal IEEE tree
    * (divide, sqrt, divide) over identical integers, with the n < 3 /
    * zero-variance degenerate emitting NULL (family doctrine) and the
    * significance boolean derived from the deterministic z. */
  def qTrendMannKendall(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * lit(100)).cast("long")).as("c"))
      .localCheckpoint()
    val a = daily.select(col("event_type"), col("day").as("d1"),
      col("c").as("c1"))
    val b = daily.select(col("event_type").as("t2"), col("day").as("d2"),
      col("c").as("c2"))
    val sStat = a.join(b, a("event_type") === b("t2") && a("d1") < b("d2"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("c2") > col("c1"), 1L)
        .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("s_stat"))
    val nDays = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("t")).filter(col("t") > 1)
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tie_term"))
    // left joins from the type universe: a type observed on exactly
    // one day has NO pairs — it must still appear with NULL z (the
    // n < 3 degenerate), not silently vanish through an inner join
    val m = nDays.join(sStat, Seq("event_type"), "left")
      .withColumn("s_stat", coalesce(col("s_stat"), lit(0L)))
      .join(ties, Seq("event_type"), "left")
      .withColumn("var_num",
        col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - coalesce(col("tie_term"), lit(0L)))
    val z = when(col("s_stat") > 0,
        (col("s_stat") - 1) / sqrt(col("var_num") / lit(18.0)))
      .when(col("s_stat") < 0,
        (col("s_stat") + 1) / sqrt(col("var_num") / lit(18.0)))
      .otherwise(lit(0.0))
    m.select(col("event_type"), col("n_days"), col("s_stat"),
        col("var_num"),
        when(col("n_days") >= 3 && col("var_num") > 0, z).as("z"),
        when(col("n_days") >= 3 && col("var_num") > 0, abs(z) > 1.96)
          .as("trend_significant"))
      .orderBy(col("event_type"))
  }

  val qTrendMannKendallSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         sum(CAST(round(value * 100) AS BIGINT)) AS c
      |  FROM events GROUP BY 1, 2
      |), pairs AS (
      |  SELECT a.event_type,
      |    CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |), s AS (
      |  SELECT event_type, CAST(sum(sgn) AS BIGINT) AS s_stat
      |  FROM pairs GROUP BY event_type
      |), n AS (
      |  SELECT event_type, count(*) AS n_days FROM daily GROUP BY event_type
      |), ties AS (
      |  SELECT event_type,
      |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT event_type, c, count(*) AS t FROM daily GROUP BY 1, 2)
      |  WHERE t > 1 GROUP BY event_type
      |), m AS (
      |  SELECT n.event_type, n_days, coalesce(s_stat, 0) AS s_stat,
      |    n_days * (n_days - 1) * (2 * n_days + 5)
      |      - coalesce(tie_term, 0) AS var_num
      |  FROM n LEFT JOIN s USING (event_type)
      |  LEFT JOIN ties USING (event_type)
      |)
      |SELECT event_type, n_days, s_stat, var_num,
      |  CASE WHEN n_days >= 3 AND var_num > 0 THEN
      |    CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_num / 18.0)
      |         WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_num / 18.0)
      |         ELSE 0.0 END
      |  END AS z,
      |  CASE WHEN n_days >= 3 AND var_num > 0 THEN
      |    abs(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_num / 18.0)
      |             WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_num / 18.0)
      |             ELSE 0.0 END) > 1.96
      |  END AS trend_significant
      |FROM m ORDER BY event_type""".stripMargin

  // ------------------------------------------------------- Sen's slope
  /** Theil–Sen slope per event type — the robust trend MAGNITUDE that
    * accompanies [[qTrendMannKendall]]'s direction verdict (Sen '68):
    * the exact MEDIAN of all pairwise slopes (c_j−c_i)/(day_j−day_i)
    * over the daily cent-volume series, immune to the outlier days
    * that wreck an OLS fit.
    *
    * Scale shape: the [[qTrendMannKendall]] derivation verbatim —
    * daily frame localCheckpoint'ed, O(n²) pairs only on the
    * calendar-bounded frame; the median runs as a row_number window
    * PARTITIONED BY TYPE over the bounded pair frame (435 rows/type
    * at the harness month), never a corpus sort.
    *
    * Floats: each pairwise slope is ONE IEEE division of exact
    * integers (bit-identical cross-engine); the median is spelled
    * EXPLICITLY as the mean of the rank-⌊(n+1)/2⌋ and rank-⌈(n+1)/2⌉
    * values (avg of ≤ 2 doubles — addition is commutative, so the
    * spelling is order-proof), never an engine median/quantile
    * builtin whose even-count interpolation formula differs by an ulp
    * between engines. */
  def qSenSlope(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * lit(100)).cast("long")).as("c"))
      .localCheckpoint()
    val a = daily.select(col("event_type"), col("day").as("d1"),
      col("c").as("c1"))
    val b = daily.select(col("event_type").as("t2"), col("day").as("d2"),
      col("c").as("c2"))
    val pairs = a.join(b, a("event_type") === b("t2") && a("d1") < b("d2"))
      .select(col("event_type"),
        ((col("c2") - col("c1")).cast("double") /
          datediff(col("d2"), col("d1"))).as("slope"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope"))
    val ranked = pairs
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    // integer div via `div`: `/` on longs is a DOUBLE division in
    // Spark (an even n would make (n+1)/2 = x.5 and match no rank)
    val med = ranked
      .filter(col("rk") === expr("(n + 1) div 2") ||
        col("rk") === expr("(n + 2) div 2"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_pairs"), avg(col("slope")).as("sen_slope"))
    // left join from the type universe: a single-day type has no
    // pairs and must surface with NULL slope, not vanish (the MK
    // degenerate contract)
    daily.select(col("event_type")).distinct()
      .join(med, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("sen_slope"))
      .orderBy(col("event_type"))
  }

  val qSenSlopeSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         sum(CAST(round(value * 100) AS BIGINT)) AS c
      |  FROM events GROUP BY 1, 2
      |), pairs AS (
      |  SELECT a.event_type,
      |    CAST(b.c - a.c AS DOUBLE) / (b.day - a.day) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |), r AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM pairs
      |)
      |, med AS (
      |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
      |    avg(slope) AS sen_slope
      |  FROM r WHERE rk IN ((n + 1) // 2, (n + 2) // 2)
      |  GROUP BY event_type
      |)
      |SELECT t.event_type, coalesce(n_pairs, 0) AS n_pairs, sen_slope
      |FROM (SELECT DISTINCT event_type FROM daily) t
      |LEFT JOIN med USING (event_type)
      |ORDER BY event_type""".stripMargin

  def qAbTest(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val c = round(col("value") * lit(100)).cast("long")
    def side(cohort: Int, expr: Column): Column =
      sum(when(col("user_id") % 2 === cohort, expr))
    val g = Tables.events(s, d)
      .select(col("event_type"), col("user_id"), c.as("c"))
      .groupBy(col("event_type"))
      // counts via count(when(...)): an empty cohort reads 0 like the
      // oracle's FILTER count, where sum(when(...,1)) would read NULL
      .agg(count(when(col("user_id") % 2 === 0, lit(1))).as("n_a"),
        count(when(col("user_id") % 2 === 1, lit(1))).as("n_b"),
        side(0, col("c")).as("s_a"), side(1, col("c")).as("s_b"),
        side(0, col("c").cast(dec) * col("c")).as("q_a"),
        side(1, col("c").cast(dec) * col("c")).as("q_b"))
    def mean(sc: String, n: String): Column =
      col(sc).cast("double") / col(n) / lit(100.0)
    def seSq(n: String, q: String, sc: String): Column =
      (col(n).cast(dec) * col(q) - col(sc).cast(dec) * col(sc)).cast("double") /
        (col(n).cast("double") * col(n) * (col(n) - 1) * lit(10000.0))
    val z = (mean("s_a", "n_a") - mean("s_b", "n_b")) /
      sqrt(seSq("n_a", "q_a", "s_a") + seSq("n_b", "q_b", "s_b"))
    g.select(col("event_type"), col("n_a"), col("n_b"),
        mean("s_a", "n_a").as("mean_a"), mean("s_b", "n_b").as("mean_b"),
        (mean("s_a", "n_a") - mean("s_b", "n_b")).as("diff"),
        when(col("n_a") >= 2 && col("n_b") >= 2, z).as("z"))
      .withColumn("significant", abs(col("z")) > lit(1.96))
      .orderBy(col("event_type"))
  }

  val qAbTestSql: String =
    """WITH e AS (
      |  SELECT event_type, user_id % 2 AS cohort,
      |         CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events
      |), g AS (
      |  SELECT event_type,
      |    count(*) FILTER (cohort = 0) AS n_a,
      |    count(*) FILTER (cohort = 1) AS n_b,
      |    sum(c) FILTER (cohort = 0) AS s_a,
      |    sum(c) FILTER (cohort = 1) AS s_b,
      |    sum(CAST(c AS HUGEINT) * c) FILTER (cohort = 0) AS q_a,
      |    sum(CAST(c AS HUGEINT) * c) FILTER (cohort = 1) AS q_b
      |  FROM e GROUP BY 1
      |), t AS (
      |  SELECT event_type, n_a, n_b,
      |    CAST(s_a AS DOUBLE) / n_a / 100.0 AS mean_a,
      |    CAST(s_b AS DOUBLE) / n_b / 100.0 AS mean_b,
      |    CASE WHEN n_a >= 2 AND n_b >= 2 THEN
      |      (CAST(s_a AS DOUBLE) / n_a / 100.0 - CAST(s_b AS DOUBLE) / n_b / 100.0) /
      |      sqrt(CAST(n_a * q_a - CAST(s_a AS HUGEINT) * s_a AS DOUBLE) /
      |             (CAST(n_a AS DOUBLE) * n_a * (n_a - 1) * 10000.0)
      |         + CAST(n_b * q_b - CAST(s_b AS HUGEINT) * s_b AS DOUBLE) /
      |             (CAST(n_b AS DOUBLE) * n_b * (n_b - 1) * 10000.0))
      |    END AS z
      |  FROM g
      |)
      |SELECT event_type, n_a, n_b, mean_a, mean_b,
      |  mean_a - mean_b AS diff, z, abs(z) > 1.96 AS significant
      |FROM t ORDER BY event_type""".stripMargin

  // -------------------------------------------- Chi-squared independence
  /** Pearson chi-squared test of independence between event type and
    * assignment cohort (user-id parity, [[qAbTest]]'s cohorts) at CELL
    * grain: observed count, expected-under-independence count, the
    * cell's chi-squared contribution, and its standardized residual
    * (O−E)/√E — the categorical twin of the Welch readout, and the
    * standard sample-ratio-mismatch / guardrail check run before
    * trusting any experiment: a skewed assignment hash shows up as a
    * large |std_resid| long before it biases the metric deltas. Cell
    * grain (not one global statistic) is deliberate — it exposes WHICH
    * cell drives dependence, and it keeps every emitted double a
    * per-row terminal expression (a global χ² would sum
    * order-sensitive doubles across cells; consumers fold the bounded
    * cell frame however they like).
    *
    * Scale shape: ONE corpus-proportional partial-aggregable groupBy
    * to (event_type, cohort) counts; the margin windows and emits run
    * on the |types|×2 cell frame — bounded by type cardinality, never
    * by |events| (the no-partition total window spans ~10 rows).
    *
    * Floats (class-1 integer-exact): counts and margins are exact
    * integers; the deviation `N·O − R·C` and product `R·C` are carried
    * in DECIMAL(38,0)/HUGEINT (N·O ≈ 10^20 at the 100 TB tier
    * outgrows longs), and every emitted double is one fixed terminal
    * IEEE tree over those exact integers — casts, one division per
    * column, one sqrt — identical on both engines, no rounding
    * needed. */
  def qChi2Independence(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.events(s, d)
      .groupBy(col("event_type"), (col("user_id") % 2).as("cohort"))
      .agg(count(lit(1)).as("obs"))
    val m = o
      .withColumn("r_tot",
        sum(col("obs")).over(Window.partitionBy(col("event_type"))))
      .withColumn("c_tot",
        sum(col("obs")).over(Window.partitionBy(col("cohort"))))
      .withColumn("n", sum(col("obs")).over(Window.partitionBy()))
    val rc = col("r_tot").cast(dec) * col("c_tot")
    val dev = col("n").cast(dec) * col("obs") - rc
    m.select(col("event_type"), col("cohort"), col("obs"),
        (rc.cast("double") / col("n")).as("expected"),
        (dev.cast("double") * dev.cast("double") /
          (col("n").cast("double") * rc.cast("double"))).as("contrib"),
        (dev.cast("double") /
          (col("n").cast("double") * sqrt(rc.cast("double") / col("n"))))
          .as("std_resid"))
      .orderBy(col("event_type"), col("cohort"))
  }

  val qChi2IndependenceSql: String =
    """WITH o AS (
      |  SELECT event_type, user_id % 2 AS cohort, count(*) AS obs
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type, cohort, obs,
      |    sum(obs) OVER (PARTITION BY event_type) AS r_tot,
      |    sum(obs) OVER (PARTITION BY cohort) AS c_tot,
      |    sum(obs) OVER () AS n
      |  FROM o
      |)
      |SELECT event_type, cohort, obs,
      |  CAST(CAST(r_tot AS HUGEINT) * c_tot AS DOUBLE) / n AS expected,
      |  CAST(CAST(n AS HUGEINT) * obs - CAST(r_tot AS HUGEINT) * c_tot AS DOUBLE)
      |    * CAST(CAST(n AS HUGEINT) * obs - CAST(r_tot AS HUGEINT) * c_tot AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(CAST(r_tot AS HUGEINT) * c_tot AS DOUBLE))
      |    AS contrib,
      |  CAST(CAST(n AS HUGEINT) * obs - CAST(r_tot AS HUGEINT) * c_tot AS DOUBLE)
      |    / (CAST(n AS DOUBLE) *
      |       sqrt(CAST(CAST(r_tot AS HUGEINT) * c_tot AS DOUBLE) / n))
      |    AS std_resid
      |FROM m ORDER BY event_type, cohort""".stripMargin

  // ------------------------------------------------- PSI drift detection
  /** Population-stability-index drift readout — the monitoring staple
    * run on every feature of a deployed model/pipeline: the month's
    * first half is the reference distribution, the second half the
    * current one, and each (feature, bin) row carries both smoothed
    * shares and its PSI term `(p_cur − p_ref)·ln(p_cur/p_ref)`
    * (Σ > 0.2 is the conventional "investigate" line). Two features
    * demonstrate both axes: `value_bin` ($50 fixed-width cent bins,
    * clipped at bin 9) for the numeric case and `event_type` for the
    * categorical case. Laplace-smoothed shares `(k+1)/(n+B)` (B = the
    * feature's observed bin count) keep one-sided bins finite — the
    * standard convention, replayed by the twin.
    *
    * Cell grain, not a global Σ, on [[qChi2Independence]]'s doctrine:
    * a global PSI would sum order-sensitive doubles; consumers fold
    * the ≤ 15-row frame however they like.
    *
    * Scale shape: ONE events scan; the two features fan out IN-ROW
    * (explode over a 2-struct array — no second scan, no union of
    * scans) into one corpus-proportional partial-aggregable groupBy;
    * margins and emits run on the bounded (feature, bin) frame.
    *
    * Floats (class-2): counts are exact integers, shares are single
    * correctly-rounded IEEE divisions, and the only libm call is `ln`
    * on an exact-rational ratio — its output is irrational, so
    * rounding at 9 cannot sit on a decimal boundary the way r12's
    * rational frame-means did; the strict sweep covers it. */
  /** The (cohort, feature, bin) point stream of [[qPsiDrift]] — shared
    * with the streaming face ([[graft.streaming.Streaming.psiCounts]])
    * so batch and stream can never bin differently. Works on batch OR
    * streaming frames (pure projections). */
  private[graft] def psiPoints(events: DataFrame): DataFrame = {
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    events
      .withColumn("cur", when(col("ts") < cut, 0).otherwise(1))
      .withColumn("c", round(col("value") * lit(100)).cast("long"))
      .select(col("cur"), explode(array(
        struct(lit("value_bin").as("feature"),
          least(expr("c div 5000"), lit(9L)).cast("string").as("bin")),
        struct(lit("event_type").as("feature"),
          col("event_type").as("bin")))).as("f"))
      .select(col("cur"), col("f.feature").as("feature"), col("f.bin").as("bin"))
  }

  /** [[qPsiDrift]]'s finalize: margins + smoothed shares + terms over a
    * `(feature, bin, n_ref, n_cur)` counts frame — bounded by bin
    * cardinality, so it runs identically on the batch aggregate and on
    * a streaming sink's accumulated counts (the replay-equivalence
    * hinge: stream == batch iff the COUNTS agree, because everything
    * after is this one deterministic function). */
  private[graft] def psiFinalize(counts: DataFrame): DataFrame = {
    val wf = Window.partitionBy(col("feature"))
    val m = counts
      .withColumn("tot_ref", sum(col("n_ref")).over(wf))
      .withColumn("tot_cur", sum(col("n_cur")).over(wf))
      .withColumn("b", count(lit(1)).over(wf))
    val pRef = (col("n_ref") + lit(1L)).cast("double") / (col("tot_ref") + col("b"))
    val pCur = (col("n_cur") + lit(1L)).cast("double") / (col("tot_cur") + col("b"))
    m.select(col("feature"), col("bin"), col("n_ref"), col("n_cur"),
        pRef.as("p_ref"), pCur.as("p_cur"),
        round((pCur - pRef) * log(pCur / pRef), 9).as("psi_term"))
      .orderBy(col("feature"), col("bin"))
  }

  def qPsiDrift(s: SparkSession, d: String): DataFrame =
    psiFinalize(psiPoints(Tables.events(s, d))
      .groupBy(col("feature"), col("bin"))
      .agg(count(when(col("cur") === 0, 1)).as("n_ref"),
        count(when(col("cur") === 1, 1)).as("n_cur")))

  val qPsiDriftSql: String =
    """WITH pts AS (
      |  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS cur,
      |         'value_bin' AS feature,
      |         CAST(least(CAST(round(value*100) AS BIGINT) // 5000, 9)
      |              AS VARCHAR) AS bin
      |  FROM events
      |  UNION ALL
      |  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END,
      |         'event_type', event_type FROM events
      |), o AS (
      |  SELECT feature, bin,
      |    count(*) FILTER (cur = 0) AS n_ref,
      |    count(*) FILTER (cur = 1) AS n_cur
      |  FROM pts GROUP BY 1, 2
      |), m AS (
      |  SELECT feature, bin, n_ref, n_cur,
      |    sum(n_ref) OVER (PARTITION BY feature) AS tot_ref,
      |    sum(n_cur) OVER (PARTITION BY feature) AS tot_cur,
      |    count(*) OVER (PARTITION BY feature) AS b
      |  FROM o
      |)
      |SELECT feature, bin, n_ref, n_cur,
      |  CAST(n_ref + 1 AS DOUBLE) / (tot_ref + b) AS p_ref,
      |  CAST(n_cur + 1 AS DOUBLE) / (tot_cur + b) AS p_cur,
      |  round((CAST(n_cur + 1 AS DOUBLE) / (tot_cur + b)
      |       - CAST(n_ref + 1 AS DOUBLE) / (tot_ref + b))
      |      * ln((CAST(n_cur + 1 AS DOUBLE) / (tot_cur + b))
      |         / (CAST(n_ref + 1 AS DOUBLE) / (tot_ref + b))), 9) AS psi_term
      |FROM m ORDER BY feature, bin""".stripMargin

  // -------------------------------------------------- Seasonal outliers
  /** Seasonal-adjusted robust outlier scan — the composition the
    * decomposition EXISTS for: hours whose residual (observed −
    * trend − daily rhythm, [[seasonalFrame]]) deviates from the median
    * residual by more than 3× the median absolute deviation. MAD, not
    * stddev, so a single extreme hour cannot inflate its own
    * admission threshold (same robustness doctrine as
    * q_mad_outliers, applied post-decomposition).
    *
    * Scale shape: the corpus-proportional stage is seasonalFrame's one
    * partial-aggregable groupBy; everything after runs on the
    * calendar-BOUNDED hourly residual frame, localCheckpoint'ed ONCE
    * and reused across the median/MAD/emit branches (three plan
    * branches would otherwise re-run the corpus scan).
    *
    * Floats: residuals are the decompose's bit-exact doubles. Medians
    * are spelled as EXPLICIT rank picks — row_number over (value,
    * hour_ts), midpoint `(lo + hi)/2` of the two middle ranks — not
    * engine percentile builtins, whose interpolation spelling is
    * engine-internal; the 3·MAD admission compare is then a
    * deterministic predicate over bit-exact doubles on both engines. */
  def qSeasonalOutliers(s: SparkSession, d: String): DataFrame = {
    val resid = (seasonalY - seasonalTrend - col("seasonal")).as("resid")
    val r = seasonalFrame(s, d)
      .select(col("hour_ts"), seasonalY.as("y"), resid)
      .where(col("resid").isNotNull)
      .localCheckpoint() // bounded hourly frame, reused by 3 branches
    def medianOf(df: DataFrame, value: Column, out: String): DataFrame = {
      val ranked = df
        .withColumn("v", value)
        .withColumn("rk", row_number().over(Window.orderBy(col("v"), col("hour_ts"))))
        .withColumn("n", count(lit(1)).over(
          Window.orderBy(col("v"), col("hour_ts"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      ranked
        .where(col("rk") === expr("(n + 1) div 2") || col("rk") === expr("n div 2 + 1"))
        .agg(((min(col("v")) + max(col("v"))) / lit(2.0)).as(out))
    }
    val med = medianOf(r, col("resid"), "med")
    val withMed = r.crossJoin(broadcast(med))
    val mad = medianOf(withMed, abs(col("resid") - col("med")), "mad")
    withMed.crossJoin(broadcast(mad))
      .where(abs(col("resid") - col("med")) > lit(3.0) * col("mad"))
      .select(col("hour_ts"), col("y"), col("resid"), col("med"), col("mad"))
      .orderBy(col("hour_ts"))
  }

  val qSeasonalOutliersSql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts,
      |         sum(CAST(round(value * 100) AS BIGINT)) AS y_cents
      |  FROM events GROUP BY 1
      |), t AS (
      |  SELECT hour_ts, y_cents,
      |    sum(y_cents) OVER w AS trend_sum,
      |    count(*) OVER w AS trend_n,
      |    hour(hour_ts) AS hod
      |  FROM hourly
      |  WINDOW w AS (ORDER BY hour_ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
      |), s AS (
      |  SELECT hod,
      |    CAST(sum(25 * y_cents - trend_sum) AS DOUBLE) /
      |      (2500.0 * count(*)) AS seasonal
      |  FROM t WHERE trend_n = 25 GROUP BY hod
      |), r AS (
      |  SELECT t.hour_ts,
      |    CAST(y_cents AS DOUBLE) / 100.0 AS y,
      |    CAST(y_cents AS DOUBLE) / 100.0
      |      - CAST(trend_sum AS DOUBLE) / (100.0 * trend_n)
      |      - s.seasonal AS resid
      |  FROM t LEFT JOIN s USING (hod)
      |  WHERE s.seasonal IS NOT NULL
      |), rn AS (
      |  SELECT *, row_number() OVER (ORDER BY resid, hour_ts) AS rk,
      |            count(*) OVER () AS n
      |  FROM r
      |), med AS (
      |  SELECT (min(v) + max(v)) / 2.0 AS med
      |  FROM (SELECT resid AS v, rk, n FROM rn)
      |  WHERE rk = (n + 1) // 2 OR rk = n // 2 + 1
      |), dn AS (
      |  SELECT rn.*, med.med, abs(resid - med.med) AS dev
      |  FROM rn CROSS JOIN med
      |), drn AS (
      |  SELECT *, row_number() OVER (ORDER BY dev, hour_ts) AS drk FROM dn
      |), mad AS (
      |  SELECT (min(dev) + max(dev)) / 2.0 AS mad FROM drn
      |  WHERE drk = (n + 1) // 2 OR drk = n // 2 + 1
      |)
      |SELECT hour_ts, y, resid, med, mad.mad
      |FROM dn CROSS JOIN mad
      |WHERE dev > 3.0 * mad.mad
      |ORDER BY hour_ts""".stripMargin

  // ------------------------------------------------------------ Resample + ffill
  /** Time-series regularization — the resample → aggregate → gap-fill
    * pass every sensor/telemetry training pipeline runs: each sampled
    * user's events averaged into 10-minute buckets on a DENSE per-user
    * grid (min..max bucket), empty buckets forward-filled from the
    * last observed bucket (`last(_, ignoreNulls)` over the per-user
    * bucket order). The first grid bucket is the user's first event's
    * bucket, so forward fill never sees a leading null.
    *
    * Scale shape: bucket aggregation is a partial-aggregable
    * groupBy(user, bin); the grid is generated per user from its
    * (min, max) span — `sequence` + explode, no driver loop, no cross
    * join against a global calendar — and the fill is one per-user
    * window. Grid size is bounded by span/bucket per user. The
    * deterministic 1%-of-users sample (user_id % 100) keeps the
    * materialized oracle output proportionate; the operator itself has
    * no sample dependence. */
  def qResampleFfill(s: SparkSession, d: String): DataFrame = {
    val binUs = 600000000L // 10 minutes in microseconds
    val ev = Tables.events(s, d)
      .filter(col("user_id") % 100 === 0)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
    val buckets = ev
      .withColumn("bin", expr(s"us div ${binUs}L"))
      .groupBy(col("user_id"), col("bin"))
      .agg(avg(col("value")).as("bin_avg"))
    val grid = ev.groupBy(col("user_id"))
      .agg(expr(s"min(us) div ${binUs}L").as("bin_lo"),
        expr(s"max(us) div ${binUs}L").as("bin_hi"))
      .select(col("user_id"),
        explode(sequence(col("bin_lo"), col("bin_hi"))).as("bin"))
    grid.join(buckets, Seq("user_id", "bin"), "left")
      .withColumn("value_ffill", last(col("bin_avg"), ignoreNulls = true)
        .over(Window.partitionBy(col("user_id")).orderBy(col("bin"))))
      .select(col("user_id"),
        timestamp_micros(col("bin") * binUs).as("bucket_ts"),
        col("bin_avg"), col("value_ffill"))
      .orderBy(col("user_id"), col("bucket_ts"))
  }

  val qResampleFfillSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us, value FROM events
      |  WHERE user_id % 100 = 0
      |), b AS (
      |  SELECT user_id, us // 600000000 AS bin, avg(value) AS bin_avg
      |  FROM ev GROUP BY 1, 2
      |), spans AS (
      |  SELECT user_id, min(us) // 600000000 AS lo, max(us) // 600000000 AS hi
      |  FROM ev GROUP BY 1
      |), grid AS (
      |  SELECT user_id, unnest(range(lo, hi + 1)) AS bin FROM spans
      |)
      |SELECT g.user_id,
      |  make_timestamp(g.bin * 600000000) AS bucket_ts,
      |  b.bin_avg,
      |  last_value(b.bin_avg IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.bin) AS value_ffill
      |FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.bin = b.bin
      |ORDER BY g.user_id, bucket_ts""".stripMargin

  // ------------------------------------------------------------ Interpolation
  /** Linear interpolation — the gap-fill tier between ffill
    * (qResampleFfill) and the GSOD median imputers: masked values are
    * reconstructed from the nearest non-null neighbors in per-user
    * event-time order, weighted by time distance; boundary gaps take
    * the nearest side. The harness events carry no nulls, so a
    * deterministic mask (event_id % 7 == 0) plants them — the oracle
    * replays mask and fill alike.
    *
    * Scale shape: four ignore-nulls running extremes over ONE per-user
    * window ordering (Spark evaluates the two frames in two passes of
    * the same sort — no extra shuffle), arithmetic is pure projection.
    * The equal-timestamp guard (next_us == prev_us → take prev) exists
    * because Spark IEEE-divides doubles by zero while DuckDB returns
    * NULL — the guard keeps the expression inside the portable
    * algebra. */
  def qInterpolate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        when(pmod(col("event_id"), lit(7)) === 0, lit(null))
          .otherwise(col("value")).as("value_masked"))
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val before = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = byTs.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col("value_masked")
    ev
      .withColumn("pv", last(v, ignoreNulls = true).over(before))
      .withColumn("pu", last(when(v.isNotNull, col("us")), ignoreNulls = true).over(before))
      .withColumn("nv", first(v, ignoreNulls = true).over(after))
      .withColumn("nu", first(when(v.isNotNull, col("us")), ignoreNulls = true).over(after))
      .withColumn("value_interp",
        when(v.isNotNull, v)
          .when(col("pv").isNotNull && col("nv").isNotNull && col("nu") > col("pu"),
            col("pv") + (col("nv") - col("pv")) *
              ((col("us") - col("pu")).cast("double")
                / (col("nu") - col("pu")).cast("double")))
          .otherwise(coalesce(col("pv"), col("nv"))))
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"), v, col("value_interp"))
      .orderBy(col("event_id"))
  }

  val qInterpolateSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_masked
      |  FROM events
      |), f AS (
      |  SELECT *,
      |    last_value(value_masked IGNORE NULLS) OVER wb AS pv,
      |    last_value(CASE WHEN value_masked IS NOT NULL THEN us END IGNORE NULLS) OVER wb AS pu,
      |    first_value(value_masked IGNORE NULLS) OVER wa AS nv,
      |    first_value(CASE WHEN value_masked IS NOT NULL THEN us END IGNORE NULLS) OVER wa AS nu
      |  FROM ev
      |  WINDOW
      |    wb AS (PARTITION BY user_id ORDER BY us, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wa AS (PARTITION BY user_id ORDER BY us, event_id
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT event_id, user_id, make_timestamp(us) AS ts, value_masked,
      |  CASE
      |    WHEN value_masked IS NOT NULL THEN value_masked
      |    WHEN pv IS NOT NULL AND nv IS NOT NULL AND nu > pu
      |      THEN pv + (nv - pv) * (CAST(us - pu AS DOUBLE) / CAST(nu - pu AS DOUBLE))
      |    ELSE coalesce(pv, nv)
      |  END AS value_interp
      |FROM f
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------ Attribution
  /** Per-purchase click attribution: how many of the SAME user's clicks
    * fall in the 30 minutes before each purchase (zero-click purchases
    * kept with 0). The pair generation is
    * [[graft.streaming.Streaming.attributionPairs]] — the identical
    * transform runs as a watermarked stream-stream join on live data
    * (StreamingSpec proves pair-set equality), making this the batch
    * tier of the two-stream pattern.
    *
    * Scale shape: two selective pushed-down scans, ONE hash equi-join
    * on user_id with the time bound as a post-filter (never a
    * nested-loop time join — contrast q_range_join, which has no
    * equi-key and must bin), then a partial-aggregable count and a
    * left join back onto purchases. Skewed users fan out the join
    * output but AQE's skew-join split handles the residue. */
  def qAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val pairs = graft.streaming.Streaming.attributionPairs(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
    val counts = pairs.groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"))
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"))
      .join(counts.withColumnRenamed("purchase_id", "event_id"), Seq("event_id"), "left")
      .select(col("event_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
      .orderBy(col("event_id"))
  }

  val qAttributionSql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS p_us FROM events
      |  WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT user_id, epoch_us(ts) AS c_us FROM events
      |  WHERE event_type = 'click'
      |)
      |SELECT p.event_id,
      |  count(c.c_us) AS n_clicks
      |FROM p LEFT JOIN c ON p.user_id = c.user_id
      |  AND c.c_us >= p.p_us - 1800000000 AND c.c_us <= p.p_us
      |GROUP BY p.event_id
      |ORDER BY p.event_id""".stripMargin

  // ------------------------------------ Position-based (U) attribution
  /** Position-based ("U-shaped") multi-touch attribution — the third
    * standard model next to last-touch ([[qAttribution]]) and
    * data-driven removal effect (q_attribution_removal): per
    * purchase, the ordered touches in the 30-minute lookback split
    * 100 credit points 40/20/40 — first touch 40, last 40, middles
    * sharing 20 — rolled up to credit per touch type.
    *
    * Exactness spelling: credit is quantized to INTEGER basis points
    * with largest-remainder apportionment among the middles (base =
    * 20 div (n−2), the first 20 mod (n−2) middles in touch order get
    * +1; n = 1 → 100, n = 2 → 50/50), so every purchase distributes
    * EXACTLY 100 points, corpus rollups are exact integer sums
    * (partial-agg order-exact — a float 0.2/(n−2) weight would be the
    * r12 rational-mean class), and the released share is ONE terminal
    * division by the exact total. The apportionment tie rule is part
    * of the operator's definition, replayed verbatim by the twin.
    *
    * Scale shape: touches meet purchases in the per-user equi-join
    * with the time bound as a residual predicate (the q_attribution
    * shape); the position window partitions by PURCHASE — frames
    * bounded by one user's 30-minute activity, never a hub hazard;
    * the rollup is a partial-aggregable groupBy over ≤ |types| rows
    * plus a 1-row broadcast total. */
  def qAttributionPosition(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("p_us"))
    val touches = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id"), col("event_type"),
        col("event_id").as("touch_id"), col("us").as("t_us"))
    val pairs = touches.join(purchases, Seq("user_id"))
      .filter(col("t_us") >= col("p_us") - lit(1800000000L) &&
        col("t_us") <= col("p_us"))
    val w = Window.partitionBy(col("purchase_id"))
      .orderBy(col("t_us"), col("touch_id"))
    // credited feeds BOTH the total and the per-type rollup — cut once
    // (the scan gate caught the un-checkpointed draft at 4 events
    // scans); the frame is pairs-sized, bounded by touches × lookback
    val credited = pairs
      .withColumn("pos", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("purchase_id"))))
      .withColumn("credit",
        when(col("n") === 1, lit(100))
          .when(col("n") === 2, lit(50))
          .when(col("pos") === 1 || col("pos") === col("n"), lit(40))
          .otherwise(expr("20 div (n - 2)") +
            when(col("pos") - 1 <= pmod(lit(20), col("n") - 2), 1)
              .otherwise(0)))
      .localCheckpoint(true)
    val total = credited.agg(
      (countDistinct(col("purchase_id")) * lit(100L)).as("total_points"))
    credited.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).cast("long").as("credit_points"))
      .crossJoin(broadcast(total))
      .select(col("event_type"), col("n_touches"), col("credit_points"),
        (col("credit_points").cast("double") / col("total_points"))
          .as("credit_share"))
      .orderBy(col("event_type"))
  }

  val qAttributionPositionSql: String =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase'
      |), t AS (
      |  SELECT user_id, event_type, event_id AS touch_id,
      |    epoch_us(ts) AS t_us
      |  FROM events WHERE event_type IN ('view', 'click', 'signup')
      |), pairs AS (
      |  SELECT t.*, p.purchase_id FROM t JOIN p USING (user_id)
      |  WHERE t.t_us >= p.p_us - 1800000000 AND t.t_us <= p.p_us
      |), pos AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY purchase_id
      |                       ORDER BY t_us, touch_id) AS pos,
      |    count(*) OVER (PARTITION BY purchase_id) AS n
      |  FROM pairs
      |), credited AS (
      |  SELECT event_type, purchase_id,
      |    CASE WHEN n = 1 THEN 100 WHEN n = 2 THEN 50
      |         WHEN pos = 1 OR pos = n THEN 40
      |         ELSE 20 // (n - 2) +
      |           CASE WHEN pos - 1 <= 20 % (n - 2) THEN 1 ELSE 0 END
      |    END AS credit
      |  FROM pos
      |), tot AS (
      |  SELECT count(DISTINCT purchase_id) * 100 AS total_points
      |  FROM credited
      |)
      |SELECT event_type, count(*) AS n_touches,
      |  CAST(sum(credit) AS BIGINT) AS credit_points,
      |  CAST(sum(credit) AS DOUBLE) / (SELECT total_points FROM tot)
      |    AS credit_share
      |FROM credited GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ Retention
  /** Weekly cohort retention: users grouped by the ISO week of their
    * first event; for each (cohort_week, week_offset), how many of the
    * cohort's users were active that week.
    *
    * Scale shape: distinct (user, week) activity is a partial-agg
    * shuffle on user_id; the cohort frame (one row per user) joins on
    * the same key — AQE can co-locate both sides on user_id so the
    * final count is the only extra exchange. Both engines truncate
    * weeks to Monday 00:00, so offsets are exact integer weeks. */
  def qRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    active.join(cohort, "user_id")
      .withColumn("week_offset", expr("datediff(week, cohort_week) div 7").cast("long"))
      .groupBy(col("cohort_week").cast("date").as("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val qRetentionSql: String =
    """WITH cohort AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events GROUP BY user_id
      |), active AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
      |)
      |SELECT CAST(cohort.cohort_week AS DATE) AS cohort_week,
      |  CAST(date_diff('day', cohort.cohort_week, active.week) / 7 AS BIGINT) AS week_offset,
      |  count(*) AS n_users
      |FROM active JOIN cohort ON active.user_id = cohort.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Unigram-LM perplexity scoring — the CCNet-style statistical
    * quality signal of a curation pipeline: documents whose token
    * distribution diverges from the corpus LM (gibberish, boilerplate,
    * wrong-language) score a high perplexity and can be threshold-
    * filtered. Model = add-one-smoothed unigram LM fit on the corpus
    * itself: P(w) = (c(w)+1) / (T+V).
    *
    * Scale shape, same discipline as [[qTfidf]]: one (doc, term)
    * partial agg, the model is the |vocab|-bounded term-count table
    * joined back (AQE broadcasts when it fits, degrades to a shuffle
    * join when it doesn't — never a per-term window), T and V ride a
    * 1-row broadcast cross join. Scoring is a per-doc partial agg.
    * avg_nll/ppl are rounded (9/6) on both engines: ln() is libm-
    * dependent and the per-doc sum is order-sensitive in the last bits
    * (float-determinism policy, COVERAGE.md). */
  def qLmScore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val tf = docs
      .select(col("doc_id"), explode(graft.text.TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val totals = vocab.agg(sum(col("cnt")).as("t_tokens"), count(lit(1)).as("v_size"))
    tf.join(vocab, "term")
      .crossJoin(broadcast(totals))
      .withColumn("lp", col("tf") *
        log((col("cnt") + 1).cast("double") / (col("t_tokens") + col("v_size"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("sum_lp") / col("n_tokens"), 9).as("avg_nll"),
        round(exp(-col("sum_lp") / col("n_tokens")), 6).as("ppl"))
      .orderBy(col("doc_id"))
  }

  val qLmScoreSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term
      |), vocab AS (
      |  SELECT term, sum(tf) AS cnt FROM tf GROUP BY term
      |), tot AS (
      |  SELECT sum(cnt) AS t_tokens, count(*) AS v_size FROM vocab
      |), sc AS (
      |  SELECT f.doc_id, f.tf,
      |    f.tf * ln(CAST(v.cnt + 1 AS DOUBLE) / (t.t_tokens + t.v_size)) AS lp
      |  FROM tf f JOIN vocab v USING (term) CROSS JOIN tot t
      |)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  round(-sum(lp) / sum(tf), 9) AS avg_nll,
      |  round(exp(-sum(lp) / sum(tf)), 6) AS ppl
      |FROM sc GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ Market-basket pairs
  /** Per-basket item cap for [[basketPairs]]: pair volume per basket is
    * bounded by C(cap, 2) = 496 regardless of basket size. 32 covers
    * every real basket in the harness data (max ≈ 7 parts/order) with
    * 4× headroom — the cap exists for the pathological tail, not the
    * typical case. */
  val BasketCap = 32

  /** Capped market-basket pair counting over `baskets(ok, pk)` —
    * the ENFORCED form of the mega-basket discipline: each basket is
    * first cut to its `cap` smallest part keys via the skew-proof
    * two-level ranking ([[graft.ops.SaltedWindow.groupedRank]] — no
    * per-basket sort task, so even the degenerate basket that holds
    * half the catalog never lands its rows in one window partition),
    * and only the capped baskets enter the C(basket, 2) self-join.
    * The cut is deterministic (rank by part key ascending, part keys
    * distinct within a basket) so an oracle can replay it, and the
    * number of baskets that actually lost parts is surfaced as
    * `n_capped_baskets` on every output row — truncation is visible
    * in the result, never silent (q_skew_diagnostics' discipline).
    * AnalyticsQueriesSpec plants a mega-basket and pins the bounded
    * pair volume + agreement with the uncapped join on small
    * baskets. */
  /** The shared cap stage of [[basketPairs]] / [[qBasketRules]]: each
    * basket cut to its `cap` smallest part keys via the skew-proof
    * two-level ranking, plus the 1-row truncation counter. The kept
    * frame is localCheckpointed (it feeds multiple plan branches in
    * every consumer); keeping ONE derivation means the two consumers
    * can never drift on cap semantics. */
  private def cappedBaskets(baskets: DataFrame,
      cap: Int): (DataFrame, DataFrame) = {
    // the two-level ranking introduces 'rank'/'group_n' working columns
    // — refuse inputs that would silently collide (SaltedJoin's guard)
    require(baskets.columns.toSet == Set("ok", "pk"),
      s"basketPairs expects exactly (ok, pk), got ${baskets.columns.mkString(",")}")
    // materialized once (localCheckpoint, lifecycle-tied): the ranking
    // feeds both the cap count and the kept rows — one two-level pass,
    // not two
    val capped = graft.ops.SaltedWindow
      .groupedRankWithTotal(baskets, "ok", "pk", "pk", ascending = true)
      .localCheckpoint(true)
    val nCapped = capped.filter(col("rank") === 1 && col("group_n") > cap)
      .select(count(lit(1)).as("n_capped_baskets"))
    val kept = capped.filter(col("rank") <= cap).select(col("ok"), col("pk"))
    (kept, nCapped)
  }

  /** C(cap, 2)-bounded pair counting over a capped kept frame —
    * [[cappedBaskets]]' other half, shared by both consumers. */
  private def pairCounts(kept: DataFrame): DataFrame =
    kept.as("a").join(kept.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))

  def basketPairs(baskets: DataFrame, cap: Int = BasketCap): DataFrame = {
    val (kept, nCapped) = cappedBaskets(baskets, cap)
    pairCounts(kept).crossJoin(broadcast(nCapped))
  }

  /** Top-20 co-purchased part pairs (market-basket support counting —
    * the candidate-generation stage of association-rule mining; the
    * same shape counts co-occurring tags, co-cited documents,
    * co-accessed files). Pair universe = distinct parts per order,
    * canonically ordered part_a < part_b, with [[basketPairs]]'
    * ENFORCED per-basket cap.
    *
    * Scale shape: the self-join fans out per order as C(basket, 2) —
    * after the cap, bounded by C(32, 2) per basket no matter what the
    * data does, so the pair stream is linear in orders even under a
    * degenerate mega-basket (one order holding half the catalog);
    * one equi-shuffle on the order key, partial-aggregable pair
    * counts, TakeOrdered top-20 with full tie-break. On the harness
    * data the cap is far above every basket (n_capped_baskets = 0 on
    * all rows — the oracle replays the same cap, so that too is
    * hash-checked). */
  def qBasketPairs(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    basketPairs(li)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val qBasketPairsSql: String =
    s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), ranked AS (
      |  SELECT ok, pk,
      |    row_number() OVER (PARTITION BY ok ORDER BY pk) AS rnk,
      |    count(*) OVER (PARTITION BY ok) AS basket_n
      |  FROM li
      |), capped_count AS (
      |  SELECT count(DISTINCT ok) AS n_capped_baskets
      |  FROM ranked WHERE basket_n > $BasketCap
      |), kept AS (
      |  SELECT ok, pk FROM ranked WHERE rnk <= $BasketCap
      |)
      |SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders,
      |  c.n_capped_baskets
      |FROM kept a JOIN kept b ON a.ok = b.ok AND a.pk < b.pk
      |CROSS JOIN capped_count c
      |GROUP BY a.pk, b.pk, c.n_capped_baskets
      |ORDER BY n_orders DESC, part_a, part_b
      |LIMIT 20""".stripMargin

  // --------------------------------------------- Association rules
  /** Association rules over the top co-purchased pairs — the step
    * after [[qBasketPairs]]' support counting (Agrawal & Srikant
    * VLDB'94): for each of the 20 highest-support pairs, both
    * directed confidences `P(j|i) = n_ij/n_i` and the symmetric lift
    * `N·n_ij/(n_i·n_j)` (> 1 = bought together more than chance).
    * The recommender/co-occurrence readout; pipeline-side the same
    * statistic ranks co-occurring tags or co-cited documents.
    *
    * Scale shape: the cap stage and pair counting are
    * [[cappedBaskets]]/[[pairCounts]] — the SAME derivation
    * [[basketPairs]] uses, so the two consumers cannot drift, and the
    * truncation counter stays surfaced here too (n_capped_baskets on
    * every row — no silent mega-basket cut). The 20-row pair frame is
    * the BROADCAST side of both support joins (the item-support
    * aggregate is distinct-part-proportional — billions of rows at
    * 100 TB — and streams); the 1-row totals broadcast.
    *
    * Floats (class-1): supports are exact longs, products < 2^53 at
    * the capped-basket volume; confidence and lift are each ONE
    * terminal division of exact integers — no rounding. */
  def qBasketRules(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val (kept, nCapped) = cappedBaskets(li, BasketCap)
    val itemSupport = kept.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val nBaskets = kept.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val pairs = pairCounts(kept)
      .withColumnRenamed("n_orders", "n_pair")
      .orderBy(col("n_pair").desc, col("part_a"), col("part_b"))
      .limit(20)
    val withA = itemSupport
      .withColumnRenamed("pk", "part_a").withColumnRenamed("n_item", "n_a")
      .join(broadcast(pairs), "part_a")
    val withB = itemSupport
      .withColumnRenamed("pk", "part_b").withColumnRenamed("n_item", "n_b")
      .join(broadcast(withA), "part_b")
    withB
      .crossJoin(broadcast(nBaskets))
      .crossJoin(broadcast(nCapped))
      .select(col("part_a"), col("part_b"), col("n_pair"),
        col("n_a"), col("n_b"),
        (col("n_pair").cast("double") / col("n_a")).as("conf_a_to_b"),
        (col("n_pair").cast("double") / col("n_b")).as("conf_b_to_a"),
        ((col("n_baskets") * col("n_pair")).cast("double") /
          (col("n_a") * col("n_b"))).as("lift"),
        col("n_capped_baskets"))
      .orderBy(col("n_pair").desc, col("part_a"), col("part_b"))
  }

  val qBasketRulesSql: String =
    s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), ranked AS (
      |  SELECT ok, pk,
      |    row_number() OVER (PARTITION BY ok ORDER BY pk) AS rnk
      |  FROM li
      |), kept AS (
      |  SELECT ok, pk FROM ranked WHERE rnk <= $BasketCap
      |), item AS (
      |  SELECT pk, count(*) AS n_item FROM kept GROUP BY pk
      |), nb AS (
      |  SELECT count(DISTINCT ok) AS n_baskets FROM kept
      |), nc AS (
      |  SELECT count(DISTINCT ok) AS n_capped_baskets
      |  FROM (SELECT ok, count(*) AS basket_n FROM li GROUP BY ok)
      |  WHERE basket_n > $BasketCap
      |), pairs AS (
      |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_pair
      |  FROM kept a JOIN kept b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2
      |  ORDER BY n_pair DESC, part_a, part_b
      |  LIMIT 20
      |)
      |SELECT part_a, part_b, n_pair, ia.n_item AS n_a, ib.n_item AS n_b,
      |  CAST(n_pair AS DOUBLE) / ia.n_item AS conf_a_to_b,
      |  CAST(n_pair AS DOUBLE) / ib.n_item AS conf_b_to_a,
      |  CAST(nb.n_baskets * n_pair AS DOUBLE)
      |    / (ia.n_item * ib.n_item) AS lift,
      |  nc.n_capped_baskets
      |FROM pairs
      |JOIN item ia ON ia.pk = part_a
      |JOIN item ib ON ib.pk = part_b
      |CROSS JOIN nb CROSS JOIN nc
      |ORDER BY n_pair DESC, part_a, part_b""".stripMargin

  // --------------------------------------------- Markov transitions
  /** First-order Markov transition matrix of event types — for each
    * (current, next) pair within a user's event-time-ordered stream,
    * the transition count and conditional probability
    * `P(next | current)`: the behavioral sequence model behind
    * next-action prediction and anomalous-flow detection (a spike in
    * an improbable transition is a bot/regression signal), and the
    * aggregate face of [[qEventPaths]]' raw path counts. Pipeline-side
    * the same shape estimates token/section transition priors.
    *
    * Scale shape: one shuffle on user_id for the lead window (per-user
    * partitions, no hub hazard), one partial-aggregable groupBy to the
    * |types|²-bounded matrix frame, margins via a window over that
    * bounded frame.
    *
    * Floats (class-1): counts exact, each probability ONE terminal
    * division — rows of the matrix sum to 1 exactly in rational terms
    * (spec-pinned at 1e-12 after the float divisions). */
  def qEventMarkov(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("row_tot",
        sum(col("n")).over(Window.partitionBy(col("cur"))))
      .select(col("cur"), col("nxt"), col("n"),
        (col("n").cast("double") / col("row_tot")).as("p"))
      .orderBy(col("cur"), col("nxt"))
  }

  val qEventMarkovSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS cur,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS nxt
      |  FROM events
      |), c AS (
      |  SELECT cur, nxt, count(*) AS n FROM pairs
      |  WHERE nxt IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT cur, nxt, n,
      |  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cur) AS p
      |FROM c ORDER BY cur, nxt""".stripMargin

  // ------------------------------------ Markov removal-effect attribution
  /** Journey transition counts for the removal-effect model: every
    * user's event stream, truncated at their FIRST purchase (the
    * conversion absorbs — later events are a new journey's concern),
    * yields `start → first type`, `type → next type`, and
    * `last type → null` (no conversion) transitions. One shuffle on
    * user_id for the windows; the output frame is
    * (|types|+1)²-bounded. */
  private[queries] def journeyTransitions(s: SparkSession,
      d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
    val firstPurch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("pr"))
    val trunc = ev.join(firstPurch, Seq("user_id"), "left")
      .filter(col("pr").isNull || col("rn") <= col("pr"))
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("rn"))
    val withNext = trunc.withColumn("nxt", lead(col("event_type"), 1).over(w2))
    val startT = withNext.filter(col("rn") === 1)
      .select(lit("start").as("src"), col("event_type").as("dst"))
    val midT = withNext.filter(col("nxt").isNotNull)
      .select(col("event_type").as("src"), col("nxt").as("dst"))
    val endT = withNext
      .filter(col("nxt").isNull && col("event_type") =!= "purchase")
      .select(col("event_type").as("src"), lit("null").as("dst"))
    startT.union(midT).union(endT)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
  }

  /** Markov removal-effect attribution (Anderl et al. IJRM'16 — the
    * data-driven alternative to last-touch): model user journeys as a
    * first-order absorbing Markov chain (channels = non-conversion
    * event types; absorbing states = purchase and null), compute the
    * baseline start→conversion absorption probability, then for each
    * channel re-solve with that channel removed (its mass absorbed
    * into null); the channel's credit is the RELATIVE drop in
    * conversion. The causal-flavored attribution readout next to
    * [[qEventMarkov]]'s raw matrix and q_attribution's last-touch
    * pairing.
    *
    * Scale shape: the corpus-proportional work is
    * [[journeyTransitions]] (one user-window shuffle, one groupBy to
    * the (|types|+1)²-bounded matrix); the absorbing-chain solves run
    * DRIVER-SIDE on that ≤ ~30-row frame (a documented bounded
    * collect budget — the BPE/IVF discipline; value iteration over a
    * ≤ 6-state chain is microseconds, and |types| is a dictionary,
    * not data volume). Deterministic: transition maps iterate in
    * sorted key order, so the fixed-point sums are order-fixed.
    *
    * Rows-only (driver-side float iteration); gated day-one by
    * [[qAttributionRemovalBounds]]. Harness reading: every user's
    * dense month of events contains a purchase, so no journey absorbs
    * in null and the baseline is exactly 1.0 — the honest value, with
    * the removal effects (0.39–0.70 at sf0.001) still discriminating
    * channels by how much absorption mass routes through them. */
  def qAttributionRemoval(s: SparkSession, d: String): DataFrame = {
    val r = removalSolve(s, d)
    import s.implicits._
    r.effects.toSeq.sortBy(_._1)
      .map { case (ch, eff) =>
        (ch, math.rint(eff * 1e9) / 1e9, math.rint(r.baseline * 1e9) / 1e9)
      }
      .toDF("channel", "removal_effect", "baseline_conversion")
  }

  private[queries] final case class Removal(baseline: Double,
      effects: Map[String, Double], residual: Double, nTrans: Long)

  private def removalSolve(s: SparkSession, d: String): Removal =
    graft.BuildTimes.once("attribution_removal_solve", d) {
      val rows = journeyTransitions(s, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val bySrc = rows.groupBy(_._1).map { case (src, ts) =>
        val tot = ts.map(_._3).sum.toDouble
        // sorted dst order: the fixed-point sums must not depend on
        // Map iteration order
        src -> ts.sortBy(_._2).map(t => (t._2, t._3 / tot)).toSeq
      }
      def solve(drop: Option[String]): (Double, Double) = {
        val states = bySrc.keys.toSeq.sorted
        var p = states.map(_ -> 0.0).toMap
        var resid = 1.0
        var it = 0
        while (it < 200 && resid > 1e-14) {
          val next = states.map { st =>
            st -> (if (drop.contains(st)) 0.0
            else bySrc(st).map { case (dst, pr) =>
              val v =
                if (dst == "purchase") 1.0
                else if (dst == "null") 0.0
                else if (drop.contains(dst)) 0.0
                else p.getOrElse(dst, 0.0)
              pr * v
            }.sum)
          }.toMap
          resid = states.map(st => math.abs(next(st) - p(st))).max
          p = next
          it += 1
        }
        (p.getOrElse("start", 0.0), resid)
      }
      val (base, resid) = solve(None)
      val channels = rows.map(_._1).filter(c => c != "start").distinct.sorted
      val effects = channels.map { c =>
        val (b, _) = solve(Some(c))
        c -> (if (base > 0) (base - b) / base else 0.0)
      }.toMap
      Removal(base, effects, resid, rows.map(_._3).sum)
    }

  /** Hash-green gate for [[qAttributionRemoval]] (fail-closed): the
    * chain saw transitions, value iteration converged to the fixed
    * point, the baseline conversion is a probability, and every
    * removal effect sits in [0, 1] — removing a channel can only
    * REDUCE absorption mass (forcing p(c) = 0 is monotone-decreasing
    * in the fixed-point map), so a negative effect means the solver
    * and the matrix disagree. */
  def qAttributionRemovalBounds(s: SparkSession, d: String): DataFrame = {
    val r = removalSolve(s, d)
    import s.implicits._
    val ok = r.nTrans > 0
    Seq(
      ("baseline_is_probability", ok && r.baseline > 0.0 && r.baseline <= 1.0),
      ("chain_nonempty", ok),
      ("effects_in_unit_interval",
        ok && r.effects.nonEmpty &&
          r.effects.values.forall(e => e >= 0.0 && e <= 1.0)),
      ("iteration_converged", ok && r.residual <= 1e-12))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qAttributionRemovalBoundsSql: String =
    """SELECT * FROM (VALUES ('baseline_is_probability', true),
      |  ('chain_nonempty', true), ('effects_in_unit_interval', true),
      |  ('iteration_converged', true)) t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  // ------------------------------------------------- Survival hazard
  /** Discrete-time survival/hazard table for signup→purchase
    * conversion — the Kaplan–Meier ingredient frame (Kaplan & Meier
    * JASA'58) at day grain: each signup enters at its first signup
    * event, converts at its first LATER purchase, or is right-censored
    * at the corpus horizon; each output row carries the at-risk count,
    * events, censorings, and the discrete hazard `d_t/n_t` for that
    * day. The time-to-event readout behind churn/conversion analysis
    * (and, pipeline-side, time-to-first-duplicate or time-to-staleness
    * curves over crawl snapshots). Cell grain — the survival PRODUCT
    * `Π(1−h_t)` is deliberately not emitted (an ordered float product
    * is the χ² no-global-Σ doctrine's multiplicative twin; consumers
    * fold the bounded frame).
    *
    * Scale shape: two corpus-proportional partial-aggregable firsts
    * (per-user min signup, min later purchase — an equi-join on
    * user_id, no window over events); everything after runs on the
    * day-grain frame, bounded by the calendar span, where the at-risk
    * ladder is one running sum over an ordered ≤|days| window.
    *
    * Floats (class-1): day indices and counts are exact integers
    * (datediff of date-truncated micros agrees across engines);
    * hazard is ONE terminal division — no rounding. */
  def qSurvivalHazard(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // shared by the firstConv join AND the obs left-join — without the
    // cut the two plan branches each re-run the corpus filter+agg (the
    // r12 shared-subframe lesson; cohort-sized frame, cheap to pin)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      .localCheckpoint(true)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val firstConv = signups.join(purchases,
        col("user_id") === col("p_user") && col("p_ts") > col("t0"))
      .groupBy(col("user_id")).agg(min(col("p_ts")).as("tp"))
    val horizon = ev.agg(max(col("ts")).as("tmax"))
    val obs = signups
      .join(firstConv, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select(
        when(col("tp").isNotNull, datediff(col("tp"), col("t0")))
          .otherwise(datediff(col("tmax"), col("t0"))).as("t_days"),
        col("tp").isNotNull.as("converted"))
    val grid = obs.groupBy(col("t_days"))
      .agg(count(when(col("converted"), 1)).as("n_events"),
        count(when(!col("converted"), 1)).as("n_censored"))
    // at-risk = everyone who exits on this day or later: ONE reverse
    // running sum over the bounded day frame (total-minus-preceding
    // spells the same number with two windows and a dead total)
    val w = Window.orderBy(col("t_days"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid
      .withColumn("n_risk", sum(col("n_events") + col("n_censored")).over(w))
      .select(col("t_days"), col("n_risk"), col("n_events"), col("n_censored"),
        (col("n_events").cast("double") / col("n_risk")).as("hazard"))
      .orderBy(col("t_days"))
  }

  val qSurvivalHazardSql: String =
    """WITH s AS (
      |  SELECT user_id, min(ts) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY 1
      |), p AS (
      |  SELECT s.user_id, min(e.ts) AS tp
      |  FROM s JOIN events e ON e.user_id = s.user_id
      |    AND e.event_type = 'purchase' AND e.ts > s.t0
      |  GROUP BY 1
      |), horizon AS (SELECT max(ts) AS tmax FROM events),
      |obs AS (
      |  SELECT CASE WHEN p.tp IS NOT NULL
      |              THEN datediff('day', CAST(s.t0 AS DATE), CAST(p.tp AS DATE))
      |              ELSE datediff('day', CAST(s.t0 AS DATE), CAST(h.tmax AS DATE))
      |         END AS t_days,
      |         p.tp IS NOT NULL AS converted
      |  FROM s LEFT JOIN p ON s.user_id = p.user_id CROSS JOIN horizon h
      |), grid AS (
      |  SELECT t_days,
      |    count(*) FILTER (converted) AS n_events,
      |    count(*) FILTER (NOT converted) AS n_censored
      |  FROM obs GROUP BY 1
      |), risk AS (
      |  SELECT t_days, n_events, n_censored,
      |    CAST(sum(n_events + n_censored) OVER (ORDER BY t_days
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |      AS BIGINT) AS n_risk
      |  FROM grid
      |)
      |SELECT t_days, n_risk, n_events, n_censored,
      |  CAST(n_events AS DOUBLE) / n_risk AS hazard
      |FROM risk ORDER BY t_days""".stripMargin

  // -------------------------------------------- Rolling active users
  /** 7-day rolling active users (WAU) per day — THE product-analytics
    * engagement series, and pipeline-side the same shape tracks
    * rolling distinct contributors/sources in a crawl. Exact distinct
    * (the HLL sketch tier is the approximate face for wider windows).
    *
    * Scale shape: one corpus-proportional distinct to the (day, user)
    * activity frame — materialized ONCE (localCheckpoint: it feeds
    * both the span bounds and the fan-out; without the cut the two
    * plan branches re-run the events scan + distinct, the r12
    * shared-subframe lesson) — then an IN-ROW ≤ 7× date fan-out and
    * one distinct-count groupBy per target day. A (day,user) pair
    * contributes to exactly the 7 windows that contain it, so no
    * window ever rescans history; the sliding-window-countDistinct
    * that Spark windows can't express becomes a bounded explode +
    * equi-shuffle (q_range_join's binning discipline applied to
    * time-windowed distinct).
    *
    * Floats: none — dates and counts only. The output is the DENSE
    * calendar series over the observed [min, max] span: days whose
    * trailing window is empty emit wau = 0 via a left join onto the
    * generated day grid (a per-day readout with silent holes would
    * misrepresent an outage as no-row rather than zero — the
    * q_resample_ffill dense-grid discipline), and days beyond the
    * span are clipped (a trailing window must not invent future
    * calendar days). */
  def qRollingActiveUsers(s: SparkSession, d: String): DataFrame = {
    val du = Tables.events(s, d)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      .localCheckpoint()
    val bounds = du.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
    val grid = bounds
      .select(explode(sequence(col("dmin"), col("dmax"))).as("day"))
    val counts = du
      .withColumn("day", explode(sequence(col("d"), date_add(col("d"), 6))))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    grid.join(counts, Seq("day"), "left")
      .select(col("day"), coalesce(col("wau"), lit(0L)).as("wau"))
      .orderBy(col("day"))
  }

  val qRollingActiveUsersSql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
      |), bounds AS (
      |  SELECT min(d) AS dmin, max(d) AS dmax FROM du
      |), grid AS (
      |  SELECT CAST(unnest(generate_series(dmin, dmax,
      |                                     INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds
      |), ex AS (
      |  SELECT du.d + CAST(i AS INTEGER) AS day, du.user_id
      |  FROM du, LATERAL (SELECT unnest(range(0, 7)) AS i)
      |), counts AS (
      |  SELECT day, count(DISTINCT user_id) AS wau FROM ex GROUP BY 1
      |)
      |SELECT g.day, coalesce(c.wau, 0) AS wau
      |FROM grid g LEFT JOIN counts c ON g.day = c.day
      |ORDER BY g.day""".stripMargin

  // ------------------------------------------------- RFM segmentation
  /** RFM customer segmentation — recency (days since last order),
    * frequency (order count), monetary (lifetime spend), each scored
    * into quintiles, concatenated into the classic 3-digit segment
    * code. The warehouse-side cohorting op behind lifecycle marketing
    * (and, pipeline-side, the same shape scores data SOURCES by
    * freshness/volume/quality for curation budgets).
    *
    * Scale shape: one partial-aggregable groupBy(customer) collapses
    * orders to |customers| rows; the reference date is a 1-row
    * broadcast. The three ntile windows run over the CUSTOMER frame —
    * this is the exact/oracle tier (the global sort is of the
    * aggregate, not the fact table); at 100 TB the approx-percentile
    * cut-point path (q_ntile_approx's contract) replaces the windows
    * verbatim. Ties break on c_custkey in every window so quintile
    * boundaries are deterministic on both engines; monetary rounds at
    * 4 (2-decimal inputs, sum ≈ 2e6 — class-2 magnitude rule). */
  def qRfm(s: SparkSession, d: String): DataFrame = {
    val per = Tables.orders(s, d).groupBy(col("o_custkey").as("c_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_order"),
        count(lit(1)).as("frequency"),
        round(sum(col("o_totalprice")), 4).as("monetary"))
    val ref = per.agg(max(col("last_order")).as("ref_date"))
    def score(order: Column) =
      ntile(5).over(Window.orderBy(order, col("c_custkey")))
    per.crossJoin(broadcast(ref))
      .withColumn("recency_days", datediff(col("ref_date"), col("last_order")))
      .withColumn("r_score", score(col("recency_days").asc))
      .withColumn("f_score", score(col("frequency").desc))
      .withColumn("m_score", score(col("monetary").desc))
      .select(col("c_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
      .orderBy(col("c_custkey"))
  }

  val qRfmSql: String =
    """WITH per AS (
      |  SELECT o_custkey AS c_custkey,
      |    max(CAST(o_orderdate AS DATE)) AS last_order,
      |    count(*) AS frequency,
      |    round(sum(o_totalprice), 4) AS monetary
      |  FROM orders GROUP BY o_custkey
      |), r AS (SELECT max(last_order) AS ref_date FROM per),
      |sc AS (
      |  SELECT per.c_custkey,
      |    date_diff('day', per.last_order, r.ref_date) AS recency_days,
      |    per.frequency, per.monetary,
      |    ntile(5) OVER (ORDER BY date_diff('day', per.last_order, r.ref_date),
      |                   per.c_custkey) AS r_score,
      |    ntile(5) OVER (ORDER BY per.frequency DESC, per.c_custkey) AS f_score,
      |    ntile(5) OVER (ORDER BY per.monetary DESC, per.c_custkey) AS m_score
      |  FROM per CROSS JOIN r
      |)
      |SELECT c_custkey, CAST(recency_days AS INT) AS recency_days,
      |  frequency, monetary,
      |  CAST(r_score AS VARCHAR) || f_score || m_score AS segment
      |FROM sc ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------- Session-level funnel
  /** The three-step funnel of [[qFunnel]] evaluated WITHIN sessions
    * (30-min gap rule, q_sessionize's exact composition): of all
    * sessions, how many contained a view, a click strictly after
    * their first view, and a purchase strictly after that first
    * qualifying click. Per-session conversion is the metric product
    * teams actually steer by — user-level funnels smear intent across
    * days.
    *
    * Scale shape: session ids derive from the lag + running-count
    * windows per user (small per-user partitions); each funnel step
    * is then a partial-aggregable conditional min per (user, session)
    * and an equi-join back on the composite session key — the
    * shrinking-frame join chain of q_funnel, keyed one level finer.
    * The final four counts reduce to one row. */
  def qSessionFunnel(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    // the sessionized frame feeds FIVE plan branches (views, clicks,
    // purchases, total, and the click/purchase joins back onto it) —
    // localCheckpoint once so the corpus scan + session window run
    // once, not per branch (the r12 shared-subframe discipline;
    // pre-fix this plan held 7 events scans)
    val sessions = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("session_id", count(
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 30L * 60L, 1)).over(w))
      .localCheckpoint(true)
    val views = sessions.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("session_id")).agg(min(col("ts")).as("v_ts"))
    val clicks = sessions.filter(col("event_type") === "click")
      .join(views, Seq("user_id", "session_id"))
      .filter(col("ts") > col("v_ts"))
      .groupBy(col("user_id"), col("session_id")).agg(min(col("ts")).as("c_ts"))
    val purchases = sessions.filter(col("event_type") === "purchase")
      .join(clicks, Seq("user_id", "session_id"))
      .filter(col("ts") > col("c_ts"))
      .groupBy(col("user_id"), col("session_id")).agg(min(col("ts")).as("p_ts"))
    val total = sessions.select(col("user_id"), col("session_id")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    total
      .crossJoin(broadcast(views.agg(count(lit(1)).as("n_view_sessions"))))
      .crossJoin(broadcast(clicks.agg(count(lit(1)).as("n_click_sessions"))))
      .crossJoin(broadcast(purchases.agg(count(lit(1)).as("n_purchase_sessions"))))
  }

  val qSessionFunnelSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_type,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |  FROM events
      |), se AS (
      |  SELECT user_id, ts, event_type,
      |    count(CASE WHEN prev_ts IS NULL
      |               OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 END)
      |      OVER (PARTITION BY user_id ORDER BY ts) AS session_id
      |  FROM g
      |), v AS (
      |  SELECT user_id, session_id, min(ts) AS v_ts FROM se
      |  WHERE event_type = 'view' GROUP BY user_id, session_id
      |), c AS (
      |  SELECT se.user_id, se.session_id, min(se.ts) AS c_ts
      |  FROM se JOIN v USING (user_id, session_id)
      |  WHERE se.event_type = 'click' AND se.ts > v.v_ts
      |  GROUP BY se.user_id, se.session_id
      |), p AS (
      |  SELECT se.user_id, se.session_id, min(se.ts) AS p_ts
      |  FROM se JOIN c USING (user_id, session_id)
      |  WHERE se.event_type = 'purchase' AND se.ts > c.c_ts
      |  GROUP BY se.user_id, se.session_id
      |)
      |SELECT
      |  (SELECT count(*) FROM (SELECT DISTINCT user_id, session_id FROM se)) AS n_sessions,
      |  (SELECT count(*) FROM v) AS n_view_sessions,
      |  (SELECT count(*) FROM c) AS n_click_sessions,
      |  (SELECT count(*) FROM p) AS n_purchase_sessions""".stripMargin

  // ------------------------------------------- Corpus drift divergence
  /** Jensen–Shannon divergence between two corpus slices' unigram
    * distributions (even- vs odd-id docs — production compares
    * yesterday's crawl vs today's, or train vs serving). JSD =
    * ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q): symmetric, bounded by ln 2,
    * zero iff identical — the drift alarm a data pipeline pages on.
    * Output: one row (vocab sizes, token totals, jsd, plus each
    * slice's mass share of terms ABSENT from the other — the
    * vocabulary-turnover component of the drift).
    *
    * Scale shape: one corpus scan → per-(slice, term) counts
    * (partial-aggregable), pivoted to a vocab-bounded two-column
    * frame by a second tiny aggregate, totals on a 1-row broadcast.
    * The JSD sum is a single partial-aggregable reduce over the vocab
    * frame — no joins beyond the 1-row cross. KL terms with p=0 or
    * q=0 contribute p·ln(2) exactly (M=p/2), handled branchlessly on
    * both engines; the final sum rounds at 9 (vocab-sized float sum,
    * class-2 policy). */
  def qCorpusDivergence(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select((col("doc_id") % 2 === 0).as("even"),
        explode(graft.text.TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(sum(when(col("even"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("even"), 1L).otherwise(0L)).as("cq"))
    val totals = counts.agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
    val terms = counts.crossJoin(broadcast(totals))
      .withColumn("p", col("cp").cast("double") / col("np"))
      .withColumn("q", col("cq").cast("double") / col("nq"))
      .withColumn("m", (col("p") + col("q")) / 2.0)
      .withColumn("contrib",
        when(col("p") > 0, col("p") * log(col("p") / col("m")) / 2.0).otherwise(0.0) +
        when(col("q") > 0, col("q") * log(col("q") / col("m")) / 2.0).otherwise(0.0))
    terms.agg(
        sum(when(col("cp") > 0, 1L).otherwise(0L)).as("vocab_p"),
        sum(when(col("cq") > 0, 1L).otherwise(0L)).as("vocab_q"),
        max(col("np")).as("tokens_p"), max(col("nq")).as("tokens_q"),
        round(sum(col("contrib")), 9).as("jsd"),
        round(sum(when(col("cq") === 0, col("p")).otherwise(0.0)), 9).as("p_only_mass"),
        round(sum(when(col("cp") === 0, col("q")).otherwise(0.0)), 9).as("q_only_mass"))
  }

  val qCorpusDivergenceSql: String =
    """WITH tok AS (
      |  SELECT doc_id % 2 = 0 AS even,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents
      |), c AS (
      |  SELECT term,
      |    sum(CASE WHEN even THEN 1 ELSE 0 END) AS cp,
      |    sum(CASE WHEN even THEN 0 ELSE 1 END) AS cq
      |  FROM tok WHERE term <> '' GROUP BY term
      |), t AS (SELECT sum(cp) AS np, sum(cq) AS nq FROM c),
      |x AS (
      |  SELECT c.cp, c.cq,
      |    CAST(c.cp AS DOUBLE) / t.np AS p,
      |    CAST(c.cq AS DOUBLE) / t.nq AS q,
      |    (CAST(c.cp AS DOUBLE) / t.np + CAST(c.cq AS DOUBLE) / t.nq) / 2 AS m,
      |    t.np, t.nq
      |  FROM c CROSS JOIN t
      |)
      |SELECT
      |  CAST(sum(CASE WHEN cp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_p,
      |  CAST(sum(CASE WHEN cq > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_q,
      |  CAST(max(np) AS BIGINT) AS tokens_p, CAST(max(nq) AS BIGINT) AS tokens_q,
      |  round(sum(
      |    CASE WHEN p > 0 THEN p * ln(p / m) / 2 ELSE 0 END +
      |    CASE WHEN q > 0 THEN q * ln(q / m) / 2 ELSE 0 END), 9) AS jsd,
      |  round(sum(CASE WHEN cq = 0 THEN p ELSE 0.0 END), 9) AS p_only_mass,
      |  round(sum(CASE WHEN cp = 0 THEN q ELSE 0.0 END), 9) AS q_only_mass
      |FROM x""".stripMargin

  // ------------------------------------------------ Bigram LM scoring
  /** Add-1-smoothed BIGRAM LM negative log-likelihood + perplexity per
    * document — the second-order companion of [[qLmScore]] (CCNet
    * trains 5-gram KenLM models for exactly this signal; bigrams are
    * the smallest order that catches scrambled-word salads a unigram
    * model scores as fluent). p(cur|prev) = (c(prev,cur)+1) /
    * (c(prev·)+V), with c(prev·) the bigram-left marginal and V the
    * unigram vocabulary.
    *
    * Scale shape: ONE corpus scan explodes adjacent token pairs into a
    * per-doc bigram tf frame (partial-aggregable; shuffle carries ≤
    * |doc bigram vocab| pre-combined rows). Every model table derives
    * from that frame by re-aggregation — corpus bigram counts
    * (vocab²-bounded, in practice ≪), left-marginals (vocab-bounded),
    * and the 1-row V frame (computed from the bigram frame's two
    * columns, no second corpus scan) — joined back on (prev, cur) with
    * no hints (AQE broadcasts what fits). Per-doc reduce is one
    * partial-aggregable groupBy; ln-sums round at 9 (≈50 terms per
    * doc, reorder error ~1e-13 — class-2 policy). */
  def qLmBigram(s: SparkSession, d: String): DataFrame = {
    val docs = graft.ops.Spread.perRow(
      Tables.documents(s, d).select(col("doc_id"), col("text")), col("doc_id"))
    val bigrams = docs
      .select(col("doc_id"), graft.text.TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(when(size(col("toks")) >= 2,
        expr("transform(sequence(1, size(toks)-1), i -> struct(toks[i-1] AS prev, toks[i] AS cur))"))
        .otherwise(expr("cast(array() as array<struct<prev:string,cur:string>>)"))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .filter(col("prev") =!= "" && col("cur") =!= "")
    val tf = bigrams.groupBy(col("doc_id"), col("prev"), col("cur"))
      .agg(count(lit(1)).as("tf"))
    val bc = tf.groupBy(col("prev"), col("cur")).agg(sum(col("tf")).as("bc"))
    val pm = bc.groupBy(col("prev")).agg(sum(col("bc")).as("pc"))
    val v = bc.select(col("prev").as("t")).union(bc.select(col("cur")))
      .distinct().agg(count(lit(1)).as("v_size"))
    tf.join(bc, Seq("prev", "cur")).join(pm, Seq("prev"))
      .crossJoin(broadcast(v))
      .withColumn("lp", col("tf") *
        log((col("bc") + 1).cast("double") / (col("pc") + col("v_size"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("sum_lp") / col("n_bigrams"), 9).as("avg_nll"),
        round(exp(-col("sum_lp") / col("n_bigrams")), 6).as("ppl"))
      .orderBy(col("doc_id"))
  }

  val qLmBigramSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents
      |), bg AS (
      |  SELECT doc_id, toks[i] AS prev, toks[i+1] AS cur
      |  FROM d, unnest(generate_series(1, len(toks) - 1)) t(i)
      |  WHERE len(toks) >= 2 AND toks[i] <> '' AND toks[i+1] <> ''
      |), tf AS (
      |  SELECT doc_id, prev, cur, count(*) AS tf FROM bg GROUP BY ALL
      |), bc AS (
      |  SELECT prev, cur, sum(tf) AS bc FROM tf GROUP BY prev, cur
      |), pm AS (
      |  SELECT prev, sum(bc) AS pc FROM bc GROUP BY prev
      |), v AS (
      |  SELECT count(*) AS v_size FROM (
      |    SELECT prev AS t FROM bc UNION SELECT cur FROM bc
      |  )
      |), sc AS (
      |  SELECT f.doc_id, f.tf,
      |    f.tf * ln(CAST(b.bc + 1 AS DOUBLE) / (p.pc + v.v_size)) AS lp
      |  FROM tf f
      |  JOIN bc b USING (prev, cur)
      |  JOIN pm p USING (prev)
      |  CROSS JOIN v
      |)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
      |  round(-sum(lp) / sum(tf), 9) AS avg_nll,
      |  round(exp(-sum(lp) / sum(tf)), 6) AS ppl
      |FROM sc GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Importance-resampling target: the corpus slice whose
    * distribution selection should move toward. `lang` is the one
    * trusted label on the harness corpus; a production run feeds a
    * curated seed corpus instead. */
  val DsirTargetLang = "en"

  // ----------------------------------- DSIR importance resampling
  /** Targeted data selection by importance weighting — the DSIR recipe
    * (Xie et al., NeurIPS 2023): fit two add-1-smoothed unigram LMs
    * over the SAME vocabulary (a target slice vs the raw corpus), and
    * weight every document by its mean per-token log-likelihood RATIO;
    * docs that look more target-like than corpus-like (`avg_llr > 0`)
    * are kept. Shares [[qLmScore]]'s scale shape: tf and the two
    * vocab-bounded count tables partial-aggregate map-side, the 1-row
    * totals frame broadcasts, and the doc-level reduce is one
    * partial-aggregable groupBy. The target model rides the SAME tf
    * frame (a filtered re-aggregation, not a second corpus scan).
    * `keep` derives from the ROUNDED weight on both engines, so the
    * boundary boolean can never disagree while the value matches. */
  def qImportanceWeights(s: SparkSession, d: String): DataFrame = {
    val tok = graft.text.TextAnalysis.tokens(col("text"))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tok).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("term")).agg(
      sum(col("tf")).as("cnt_r"),
      sum(when(col("lang") === DsirTargetLang, col("tf")).otherwise(0L))
        .as("cnt_t"))
    val totals = vocab.agg(sum(col("cnt_r")).as("t_r"),
      sum(col("cnt_t")).as("t_t"), count(lit(1)).as("v"))
    tf.join(vocab, "term")
      .crossJoin(broadcast(totals))
      .withColumn("lr", col("tf") *
        (log((col("cnt_t") + 1).cast("double") / (col("t_t") + col("v")))
          - log((col("cnt_r") + 1).cast("double") / (col("t_r") + col("v")))))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("lr")).as("sum_lr"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_lr") / col("n_tokens"), 9).as("avg_llr"))
      .withColumn("keep", col("avg_llr") > 0.0)
      .orderBy(col("doc_id"))
  }

  val qImportanceWeightsSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, lang, term, count(*) AS tf
       |  FROM tok WHERE term <> '' GROUP BY doc_id, lang, term
       |), vocab AS (
       |  SELECT term, sum(tf) AS cnt_r,
       |    sum(CASE WHEN lang = '$DsirTargetLang' THEN tf ELSE 0 END) AS cnt_t
       |  FROM tf GROUP BY term
       |), tot AS (
       |  SELECT sum(cnt_r) AS t_r, sum(cnt_t) AS t_t, count(*) AS v FROM vocab
       |), sc AS (
       |  SELECT f.doc_id, f.tf,
       |    f.tf * (ln(CAST(v.cnt_t + 1 AS DOUBLE) / (t.t_t + t.v))
       |          - ln(CAST(v.cnt_r + 1 AS DOUBLE) / (t.t_r + t.v))) AS lr
       |  FROM tf f JOIN vocab v USING (term) CROSS JOIN tot t
       |)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  round(sum(lr) / sum(tf), 9) AS avg_llr,
       |  round(sum(lr) / sum(tf), 9) > 0.0 AS keep
       |FROM sc GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Perplexity keep-gate threshold: the corpus LM's median doc ppl
    * sits at ≈30.0 on the harness corpus, so 30.0 exercises both
    * branches. A production pipeline derives this per-corpus from a
    * quantile; the report below is what that derivation reads. */
  val PplKeepThreshold = 30.0

  /** Perplexity-filtered curation report — the CCNet-style gate that
    * consumes [[qLmScore]]: documents above the LM perplexity
    * threshold are dropped, reported as per-source keep rates (the
    * actionable artifact: which sources are gibberish-heavy). Scale
    * shape: the LM scoring pipeline unchanged, one join back to the
    * (doc, source) projection, one partial-aggregable groupBy(source)
    * — nothing new shuffles more than ~#sources groups. keep_rate is
    * an avg over exact 0/1 doubles of per-doc flags (dyadic sum,
    * class-1 exact); n_keep CASTs in the oracle per the integer-typing
    * rule. */
  def qPerplexityFilter(s: SparkSession, d: String): DataFrame = {
    val scored = qLmScore(s, d).select(col("doc_id"), col("ppl"))
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    scored.join(src, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ppl") <= PplKeepThreshold, 1L).otherwise(0L)).as("n_keep"),
        round(avg(when(col("ppl") <= PplKeepThreshold, 1.0).otherwise(0.0)), 9)
          .as("keep_rate"))
      .orderBy(col("source"))
  }

  val qPerplexityFilterSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term
       |), vocab AS (
       |  SELECT term, sum(tf) AS cnt FROM tf GROUP BY term
       |), tot AS (
       |  SELECT sum(cnt) AS t_tokens, count(*) AS v_size FROM vocab
       |), sc AS (
       |  SELECT f.doc_id, f.tf,
       |    f.tf * ln(CAST(v.cnt + 1 AS DOUBLE) / (t.t_tokens + t.v_size)) AS lp
       |  FROM tf f JOIN vocab v USING (term) CROSS JOIN tot t
       |), ppl AS (
       |  SELECT doc_id, round(exp(-sum(lp) / sum(tf)), 6) AS ppl
       |  FROM sc GROUP BY doc_id
       |)
       |SELECT d.source,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN p.ppl <= $PplKeepThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  round(avg(CASE WHEN p.ppl <= $PplKeepThreshold THEN 1.0 ELSE 0.0 END), 9) AS keep_rate
       |FROM ppl p JOIN documents d ON p.doc_id = d.doc_id
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  // ------------------------------------------ Domain-graph PageRank
  /** Damped PageRank over the planted domain link graph — the
    * link-graph quality prior crawl curation attaches to every
    * document's host (the web-scale sibling of [[qPerplexityFilter]]'s
    * content prior). The corpus has no real links, so each document
    * contributes one deterministic edge from its own host to the host
    * whose sorted-source index is `(idx + 1 + doc_id % (n-1)) % n` —
    * a rotation spread by doc_id, so the oracle can rebuild the exact
    * multigraph from `(source, doc_id)` alone and any defect in edge
    * extraction, out-degree normalization, or the iteration itself
    * moves the ranks.
    *
    * Scale shape: the only corpus-proportional stage is the
    * per-document edge derivation + groupBy(src,dst) weight count
    * (map-side combinable to |domains|² rows max); the 5 power
    * iterations in [[graft.graph.PageRank]] then run on the reduced
    * graph. Host-index maps are broadcast. Ranks round to 9 decimals
    * on both engines (COVERAGE.md float policy — per-dst contribution
    * sums are order-sensitive in the last bits). */
  /** Planted rotation link graph over a documents frame — shared by the
    * cold, incremental, and triangle tiers. */
  private[graft] def rotationEdges(docs: DataFrame): DataFrame = {
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("idx",
        row_number().over(Window.orderBy(col("source"))).cast("long") - 1L)
    val n = srcIdx.count()
    val host = (src: Column) => concat(src, lit(".example.com"))
    docs.join(broadcast(srcIdx), "source")
      .select(host(col("source")).as("src"),
        ((col("idx") + 1L + col("doc_id") % lit(math.max(1L, n - 1L)))
          % lit(n)).as("di"))
      .join(broadcast(srcIdx.select(col("idx").as("di"),
        host(col("source")).as("dst"))), "di")
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("weight"))
  }

  def qDomainPagerank(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    graft.graph.PageRank.pageRank(rotationEdges(docs), iters = 5, damping = 0.85)
      .select(col("node").as("host"), round(col("pr"), 9).as("pr"))
      .orderBy(col("host"))
  }

  /** Incremental PageRank ([[graft.graph.PageRank.pageRankFrom]]): the
    * "yesterday" snapshot (90% of the corpus) is ranked cold, then
    * today's full graph warm-starts from those ranks for 3 rounds
    * instead of the cold tier's 5 — the graph member of the
    * incremental-contract family (dedup digests, minhash bands, IVF
    * cells): a crawl delta never pays the full-history iteration count.
    * Rows-only (the two-phase replay has no SQL value); PageRankSpec
    * measures that a warm start beats a cold start at equal rounds and
    * that new nodes enter at the floor. */
  // The prior snapshot's ranks ARE persisted state in the incremental
  // contract (yesterday's crawl already ranked) — written to parquet
  // once per (process, dir) like every other prebuilt artifact.
  private def priorRanks(s: SparkSession, docs: DataFrame, d: String): DataFrame =
    s.read.parquet(graft.BuildTimes.onceDir("pagerank_prior_build", d) { p =>
      graft.graph.PageRank.pageRank(
          rotationEdges(docs.filter(col("doc_id") % 10 =!= 0)),
          iters = 5, damping = 0.85)
        .write.mode("overwrite").parquet(p)
      p
    })

  def qDomainPagerankIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    graft.graph.PageRank.pageRankFrom(rotationEdges(docs),
      priorRanks(s, docs, d), iters = 3, damping = 0.85)
      .select(col("node").as("host"), round(col("pr"), 9).as("pr"))
      .orderBy(col("host"))
  }

  /** Equivalence-bounds oracle row for [[qDomainPagerankIncremental]]
    * — incremental == from-scratch, measured as convergence: the warm
    * start from yesterday's persisted ranks (the 90% snapshot) must
    * land, after its 3 rounds on today's full graph, within 1e-3 (L1)
    * of the CONVERGED from-scratch ranks (25 cold rounds — the
    * fixpoint to ~1e-12 on this fast-mixing graph; measured warm
    * distance ≈ 2e-5, 50× headroom), while
    * contracting the prior's own distance (≈ 0.2 — the 3 rounds must
    * actually refine yesterday's answer, not coast on it). Plus: the
    * warm ranks cover exactly the converged run's node set (new nodes
    * enter, none are lost) and still form a distribution (Σpr ≈ 1,
    * the invariant the damped iteration preserves).
    *
    * Deliberately NOT gated here: "warm beats cold at equal rounds".
    * The planted rotation graph is dense (every host links ~all
    * others near-uniformly), so its spectral gap makes a cold start
    * converge in ≤ 3 rounds too — at equal rounds the two sit within
    * float noise (≈ 1e-5) of each other and of the fixpoint, and
    * their ordering is not a stable property of this corpus.
    * PageRankSpec pins warm-beats-cold on a crafted slow-mixing graph
    * where the claim is real. Comparisons run on unrounded ranks;
    * only the verdicts cross to the driver. Fail-closed via
    * `graph_nonempty`. Like every *_inc_bounds row, the converged
    * reference is the oracle tier's price — the registered
    * incremental query alone is the 100 TB path. */
  def qPagerankIncBounds(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val today = rotationEdges(docs).localCheckpoint(true)
    val prior = priorRanks(s, docs, d)
    // 25 rounds ≈ the fixpoint to ~1e-12 on this fast-mixing graph
    // (each materialized round is a driver-visible job — 50 would just
    // double the gate's cost for digits the 1e-3 band can't see).
    // The warm and reference runs are independent iterations over the
    // same checkpointed edges — their eager in-loop materializations
    // run concurrently per guide §2.6.
    val Seq(warm, ref) = graft.ops.Par.eagerly(
      () => graft.graph.PageRank.pageRankFrom(today, prior,
        iters = 3, damping = 0.85),
      () => graft.graph.PageRank.pageRank(today, iters = 25, damping = 0.85))
    val j = ref.select(col("node"), col("pr").as("ref_pr"))
      .join(warm.select(col("node"), col("pr").as("warm_pr")), Seq("node"), "full_outer")
      .join(prior.select(col("node"), col("pr").as("prior_pr")), Seq("node"), "left")
    val a = j.agg(count(lit(1)).as("n"),
      sum(when(col("ref_pr").isNull || col("warm_pr").isNull, 1L)
        .otherwise(0L)).as("n_uncovered"),
      sum(abs(col("warm_pr") - col("ref_pr"))).as("dist_warm"),
      sum(abs(coalesce(col("prior_pr"), lit(0.0)) - col("ref_pr"))).as("dist_prior"),
      sum(col("warm_pr")).as("sum_warm")).head()
    // sums over zero rows are NULL — read NaN so an empty graph yields
    // the documented fail-closed all-false row, never an NPE
    def dbl(i: Int): Double = if (a.isNullAt(i)) Double.NaN else a.getDouble(i)
    import s.implicits._
    Seq(("pagerank_inc", a.getLong(0) > 0 && a.getLong(1) == 0L,
        dbl(2) <= 1e-3,
        dbl(2) <= dbl(3),
        math.abs(dbl(4) - 1.0) < 1e-6))
      .toDF("tier", "graph_nonempty", "warm_converged_to_scratch",
        "warm_refines_prior", "ranks_form_distribution")
  }

  val qPagerankIncBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('pagerank_inc', true, true, true, true))
      |  t(tier, graph_nonempty, warm_converged_to_scratch,
      |    warm_refines_prior, ranks_form_distribution)""".stripMargin

  val qDomainPagerankSql: String = {
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
    s"""WITH srcs AS (
       |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS idx
       |  FROM (SELECT DISTINCT source FROM documents)
       |), nn AS (SELECT count(*) AS n FROM srcs),
       |edges AS (
       |  SELECT a.source || '.example.com' AS src,
       |         b.source || '.example.com' AS dst,
       |         count(*) AS w
       |  FROM documents d
       |  JOIN srcs a ON d.source = a.source
       |  CROSS JOIN nn
       |  JOIN srcs b
       |    ON b.idx = (a.idx + 1 + d.doc_id % greatest(1, nn.n - 1)) % nn.n
       |  GROUP BY 1, 2
       |), out_w AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
       |p AS (
       |  SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS p
       |  FROM edges e JOIN out_w o ON e.src = o.src
       |), nodes AS (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
       |), nc AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, 1.0 / nc.n AS pr FROM nodes CROSS JOIN nc),
       |$iters
       |SELECT node AS host, round(pr, 9) AS pr FROM r5 ORDER BY host""".stripMargin
  }

  // ------------------------------------------------------------ BM25
  /** Okapi BM25 ranking of the corpus against a fixed keyword query —
    * the retrieval scorer behind query-targeted data selection (pull
    * the documents most relevant to an eval domain). Extends
    * [[qTfidf]] with document-length normalization (k1 = 1.2,
    * b = 0.75) and the +0.5-smoothed idf of Robertson & Zaragoza 2009.
    *
    * Scale shape, same discipline as [[qTfidf]]: one explode +
    * groupBy(doc, term) partial aggregate; df and avgdl are
    * |vocab|-sized / 1-row aggregates that broadcast back (never a
    * per-term window — a stop word would pin a reducer at 100 TB).
    * Scores round to 9 decimals BEFORE the top-k rank so libm `ln`
    * ulps cannot flip near-ties across engines; doc_id breaks exact
    * ties. Top-10 via window row_number → TakeOrdered shape, not a
    * global sort of the corpus. */
  def qBm25(s: SparkSession, d: String): DataFrame = {
    val scored = bm25Scores(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      Seq("spark", "query", "join"))
    // TakeOrderedAndProject for the global top-10 (never a full sort or
    // an unpartitioned window over the scored corpus); the rank column
    // is attached by a window over the 10 surviving rows only.
    scored
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("score"), col("n_terms"), col("rk"))
      .orderBy(col("rk"))
  }

  /** BM25-scored corpus frame (doc_id, score, n_terms) for `qTerms` —
    * the reusable scorer behind [[qBm25]] and the lexical leg of
    * hybrid retrieval ([[SimilarityQueries.qHybridRrf]]). Score is
    * rounded to 9 decimals here, BEFORE any consumer ranks on it. */
  def bm25Scores(docs: DataFrame, qTerms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // 1-row corpus stats: N and avgdl (sum/count of ints — exact IEEE).
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfT, "term").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 9).as("score"), count(lit(1)).as("n_terms"))
    scored
  }

  val qBm25Sql: String =
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
      |    ), 9) AS score,
      |    count(*) AS n_terms
      |  FROM tf t JOIN dft f ON t.term = f.term
      |  JOIN dl l ON t.doc_id = l.doc_id
      |  CROSS JOIN stats s
      |  GROUP BY t.doc_id
      |), rk AS (
      |  SELECT doc_id, score, n_terms,
      |    row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      |  FROM sc
      |)
      |SELECT doc_id, score, n_terms, rk FROM rk WHERE rk <= 10
      |ORDER BY rk""".stripMargin

  // ------------------------------------------- Robust outliers (MAD)
  /** Per-source robust outlier detection on document length: median +
    * median-absolute-deviation, flagging |x − med| > 3·1.4826·MAD —
    * the scale-free anomaly gate a curation pipeline runs per corpus
    * slice (a source whose length distribution grows a heavy tail is a
    * scraper bug). Two grouped exact medians (ints → interpolated
    * doubles, exact by construction — float policy class 1), so no
    * rounding is needed anywhere.
    *
    * Scale shape: two shuffles on `source` (bounded group count), with
    * the |sources|-sized median frames broadcast back onto the 100 TB
    * document scan; the flag itself is a per-row expression. */
  def qMadOutliers(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
    val med = docs.groupBy(col("source"))
      .agg(median(col("n_chars")).as("med"))
    val dev = docs.join(broadcast(med), "source")
      .withColumn("adev", abs(col("n_chars") - col("med")))
    val mad = dev.groupBy(col("source"))
      .agg(median(col("adev")).as("mad"))
    dev.join(broadcast(mad), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0 * 1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy(col("source"))
  }

  val qMadOutliersSql: String =
    """WITH med AS (
      |  SELECT source, median(n_chars) AS med FROM documents GROUP BY source
      |), dev AS (
      |  SELECT d.source, abs(d.n_chars - m.med) AS adev, m.med
      |  FROM documents d JOIN med m ON d.source = m.source
      |), mad AS (
      |  SELECT source, median(adev) AS mad FROM dev GROUP BY source
      |)
      |SELECT dev.source, count(*) AS n_docs,
      |  any_value(dev.med) AS med, any_value(mad.mad) AS mad,
      |  CAST(sum(CASE WHEN dev.adev > 3.0 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev JOIN mad ON dev.source = mad.source
      |GROUP BY dev.source
      |ORDER BY dev.source""".stripMargin

  // ------------------------------------------------- Winsorization
  /** Per-source winsorized length profile — [[qMadOutliers]]' companion
    * that CORRECTS rather than flags: values clipped to the exact
    * per-source [p05, p95] band before the mean, so a scraper bug's
    * length tail shifts the robust mean by at most the clip bound (the
    * robust-statistics tier a per-slice quality dashboard reads).
    * Exact interpolated percentiles (Spark `percentile` == DuckDB
    * `quantile_cont`); two shuffles on `source` with the tiny
    * percentile frame broadcast back — same shape as MAD. */
  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"), col("n_chars"))
    val pcts = docs.groupBy(col("source")).agg(
      expr("percentile(n_chars, 0.05D)").as("p05"),
      expr("percentile(n_chars, 0.95D)").as("p95"))
    docs.join(broadcast(pcts), "source")
      .withColumn("w",
        least(greatest(col("n_chars").cast("double"), col("p05")), col("p95")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("p05")).as("p05"),
        first(col("p95")).as("p95"),
        // clipped values are non-dyadic doubles (interpolated percentiles),
        // so the sum is partial-agg-order sensitive — round to 9 decimals
        // on both engines to keep the hash gate order-independent
        round(avg(col("w")), 9).as("mean_winsorized"),
        avg(col("n_chars")).as("mean_raw"))
      .orderBy(col("source"))
  }

  val qWinsorizeSql: String =
    """WITH p AS (
      |  SELECT source, quantile_cont(n_chars, 0.05) AS p05,
      |         quantile_cont(n_chars, 0.95) AS p95
      |  FROM documents GROUP BY source
      |)
      |SELECT d.source, count(*) AS n_docs,
      |  any_value(p.p05) AS p05, any_value(p.p95) AS p95,
      |  round(avg(least(greatest(CAST(d.n_chars AS DOUBLE), p.p05), p.p95)), 9) AS mean_winsorized,
      |  avg(d.n_chars) AS mean_raw
      |FROM documents d JOIN p USING (source)
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  // --------------------------------------------- Triangle counting
  /** Global triangle census of the planted domain link graph (same
    * deterministic multigraph as [[qDomainPagerank]], de-weighted to a
    * simple undirected graph): node/edge/triangle counts and the
    * global clustering coefficient — the graph-shape diagnostic that
    * tells a crawl pipeline whether its link structure looks organic
    * (high closure) or spammy (star farms, closure ≈ 0).
    *
    * Scale shape — the standard oriented two-path join (Suri & Vassilvitskii
    * WWW'11 "Counting Triangles and the Curse of the Last Reducer",
    * degree-ordered orientation): orient every edge low→high endpoint,
    * self-join oriented edges on the middle vertex to enumerate wedges,
    * then semi-join wedge closures against the edge set. Orientation
    * bounds each join key's fan-out by out-degree ≤ √(2|E|) on any
    * graph, so no "last reducer" hot key; wedge volume — not |V|² — is
    * the working set. Clustering = 3·T / Σ deg·(deg−1)/2, a single
    * exact integer division (float policy class 1). */
  /** Undirected canonical edge set of the planted domain graph (each
    * edge kept once as a < b) — same rotation edges as
    * [[qDomainPagerank]], de-weighted. Un-checkpointed so ExplainDump
    * can print the corpus-proportional derivation. */
  private[graft] def triangleEdges(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("idx",
        row_number().over(Window.orderBy(col("source"))).cast("long") - 1L)
    val n = srcIdx.count()
    val host = (src: Column) => concat(src, lit(".example.com"))
    docs.join(broadcast(srcIdx), "source")
      .select(host(col("source")).as("src"),
        ((col("idx") + 1L + col("doc_id") % lit(math.max(1L, n - 1L)))
          % lit(n)).as("di"))
      .join(broadcast(srcIdx.select(col("idx").as("di"),
        host(col("source")).as("dst"))), "di")
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Per-vertex undirected degree of a canonical (a < b) edge frame. */
  private[graft] def triangleDegrees(edges: DataFrame): DataFrame =
    edges.select(col("a").as("v"))
      .union(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))

  /** Degree orientation (the Suri–Vassilvitskii guarantee the r9
    * lexicographic canonicalization lacked): re-orient every edge from
    * its lower-(degree, name) endpoint to its higher one. Out-degree is
    * then ≤ √(2|E|) on ANY graph — a hub's Σdeg² wedge explosion
    * becomes Σ indeg·outdeg ≤ |E|·√(2|E|), so no "last reducer" even on
    * crawl graphs where one domain touches everything. The vertex-side
    * degree table is |domains|-sized; AQE broadcasts it. */
  private[graft] def orientByDegree(edges: DataFrame, degrees: DataFrame): DataFrame = {
    val lower = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("a") < col("b"))
    edges
      .join(degrees.select(col("v").as("a"), col("deg").as("dega")), "a")
      .join(degrees.select(col("v").as("b"), col("deg").as("degb")), "b")
      .select(when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("w"))
  }

  /** Wedge (x→y→z) with x ≺ y ≺ z in (degree, name) order; the triangle
    * closes iff the oriented edge x→z exists — each triangle counted
    * exactly once from its lowest-precedence vertex. */
  private[graft] def closedWedges(oriented: DataFrame): DataFrame = {
    val wedges = oriented.alias("e1")
      .join(oriented.alias("e2"), col("e1.w") === col("e2.u"))
      .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
    wedges.join(oriented,
      wedges("x") === oriented("u") && wedges("z") === oriented("w"), "left_semi")
  }

  def qGraphTriangles(s: SparkSession, d: String): DataFrame = {
    val edges = triangleEdges(s, d)
      .localCheckpoint() // referenced 3× below; cut the corpus-scan lineage
    val degrees = triangleDegrees(edges)
    val oriented = orientByDegree(edges, degrees)
      .localCheckpoint() // referenced 3× (e1, e2, closure probe)
    val triangles = closedWedges(oriented)
    val wedgeTotal = degrees
      .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
        count(lit(1)).as("n_nodes"))
    triangles.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(wedgeTotal)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        (lit(3.0) * col("n_triangles") / col("n_wedges")).as("clustering"))
  }

  val qGraphTrianglesSql: String =
    """WITH srcs AS (
      |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS idx
      |  FROM (SELECT DISTINCT source FROM documents)
      |), nn AS (SELECT count(*) AS n FROM srcs),
      |raw AS (
      |  SELECT a.source || '.example.com' AS src,
      |         b.source || '.example.com' AS dst
      |  FROM documents d
      |  JOIN srcs a ON d.source = a.source
      |  CROSS JOIN nn
      |  JOIN srcs b
      |    ON b.idx = (a.idx + 1 + d.doc_id % greatest(1, nn.n - 1)) % nn.n
      |), edges AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM raw WHERE src <> dst
      |), tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM edges e1
      |  JOIN edges e2 ON e1.b = e2.a
      |  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.a = e1.a AND e3.b = e2.b)
      |), deg AS (
      |  SELECT v, count(*) AS deg FROM (
      |    SELECT a AS v FROM edges UNION ALL SELECT b FROM edges
      |  ) GROUP BY v
      |), wt AS (
      |  SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
      |    count(*) AS n_nodes FROM deg
      |)
      |SELECT wt.n_nodes, (SELECT count(*) FROM edges) AS n_edges,
      |  tri.n_triangles,
      |  3.0 * tri.n_triangles / wt.n_wedges AS clustering
      |FROM tri CROSS JOIN wt""".stripMargin

  // ------------------------------------------------ Bounded-hop BFS
  /** Sparse planted ring-chord topology over the domain vertices (each
    * domain linked to its lexicographic successor, every 5th domain to
    * the domain n/3 around the ring) — the [[triangleEdges]] rotation
    * graph is near-complete at harness scale (diameter 1), useless for
    * exercising multi-hop traversal, so the BFS scaffold plants a
    * graph with real distance structure (O(n) edges, O(n) diameter).
    * Canonical a < b, deduped; |edges| is |domains|-sized. */
  /** Un-checkpointed domain-vertex derivation — the only corpus-
    * proportional stage of the ring-chord graph (distinct sources +
    * global row_number over the |domains|-bounded frame). Split out so
    * [[graft.bench.ExplainDump.bfsStages]] can dump the REAL corpus
    * pass; [[ringChordEdges]] materializes it once. */
  private[graft] def ringChordSources(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("source")).distinct()
      .select(concat(col("source"), lit(".example.com")).as("host"),
        (row_number().over(Window.orderBy(col("source"))).cast("long") - 1L)
          .as("idx"))

  private[graft] def ringChordEdges(s: SparkSession, d: String): DataFrame = {
    val srcs = ringChordSources(s, d)
      // |domains|-sized frame consumed FIVE times (count + both sides
      // of the ring and chord joins) — materialize once or each
      // reference re-plans the corpus scan + distinct + global
      // row_number (the shared-subframe rule)
      .localCheckpoint()
    // |domains|-sized action, same documented budget as triangleEdges
    val n = math.max(1L, srcs.count())
    val sA = srcs.select(col("host").as("ha"), col("idx").as("ia"))
    val sB = srcs.select(col("host").as("hb"), col("idx").as("ib"))
    val ring = sA.join(broadcast(sB), col("ib") === (col("ia") + 1L) % lit(n))
    val chord = sA.where(col("ia") % 5 === 0)
      .join(broadcast(sB), col("ib") === (col("ia") + lit(n / 3)) % lit(n))
    ring.unionByName(chord)
      .where(col("ha") =!= col("hb"))
      .select(least(col("ha"), col("hb")).as("a"),
        greatest(col("ha"), col("hb")).as("b"))
      .distinct()
  }

  /** Bounded-hop BFS: exact shortest-path hop distances from the
    * lexicographically smallest vertex, within 4 hops, over the
    * planted ring-chord domain graph — k-hop reachability is the
    * blast-radius / link-spam-neighborhood primitive a crawl pipeline
    * runs around a flagged domain. Vertices beyond 4 hops are absent
    * from the output (reachability semantics, not ∞-distance).
    *
    * Scale shape — frontier-expansion BFS (the iterative Pregel-lite
    * form): k bounded JOIN rounds, each `frontier ⋈ adjacency` keyed
    * on the vertex (shuffle on vertex id, no hub hazard beyond max
    * degree), new vertices separated by LEFT ANTI against the settled
    * distance set. Every per-round frame is ≤|V| rows and
    * localCheckpoint'ed, so lineage stays k-deep and the settled set
    * is never recomputed — the same iteration discipline as
    * [[graft.graph.PageRank]]. The oracle replays the traversal as a
    * DuckDB recursive CTE with min-hop aggregation; hop counts are
    * exact integers (float policy class 1, no float in the row). */
  def qGraphBfs(s: SparkSession, d: String): DataFrame = {
    val maxHops = 4
    val edges = ringChordEdges(s, d).localCheckpoint()
    val adj = edges.select(col("a").as("v"), col("b").as("w"))
      .unionAll(edges.select(col("b").as("v"), col("a").as("w")))
    var dist = edges.agg(min(col("a")).as("v"))
      .select(col("v"), lit(0).as("dist"))
      .localCheckpoint()
    var frontier = dist
    for (hop <- 1 to maxHops) {
      frontier = frontier.join(adj, "v")
        .select(col("w").as("v"))
        .join(dist, Seq("v"), "left_anti")
        .distinct()
        .select(col("v"), lit(hop).as("dist"))
        .localCheckpoint()
      dist = dist.unionAll(frontier).localCheckpoint()
    }
    dist.orderBy(col("v"))
  }

  val qGraphBfsSql: String =
    """WITH RECURSIVE srcs AS (
      |  SELECT source || '.example.com' AS host,
      |         row_number() OVER (ORDER BY source) - 1 AS idx
      |  FROM (SELECT DISTINCT source FROM documents)
      |), nn AS (SELECT count(*) AS n FROM srcs),
      |ring AS (
      |  SELECT i.host AS ha, j.host AS hb
      |  FROM srcs i CROSS JOIN nn JOIN srcs j ON j.idx = (i.idx + 1) % nn.n
      |  UNION ALL
      |  SELECT i.host, j.host
      |  FROM srcs i CROSS JOIN nn
      |  JOIN srcs j ON j.idx = (i.idx + nn.n // 3) % nn.n
      |  WHERE i.idx % 5 = 0
      |), edges AS (
      |  SELECT DISTINCT least(ha, hb) AS a, greatest(ha, hb) AS b
      |  FROM ring WHERE ha <> hb
      |), adj AS (
      |  SELECT a AS v, b AS w FROM edges UNION ALL SELECT b, a FROM edges
      |), seed AS (SELECT min(a) AS v FROM edges),
      |bfs(v, hop) AS (
      |  SELECT v, 0 FROM seed
      |  UNION
      |  SELECT adj.w, bfs.hop + 1 FROM bfs JOIN adj ON adj.v = bfs.v
      |  WHERE bfs.hop < 4
      |)
      |SELECT v, CAST(min(hop) AS INT) AS dist
      |FROM bfs GROUP BY v ORDER BY v""".stripMargin

  // ------------------------------------ Rolling-origin evaluation folds
  /** Expanding-window time-series cross-validation folds over events
    * (rolling-origin evaluation, Bergmeir & Benítez Inf.Sci.'12 — the
    * split discipline for any model trained on time-ordered data, where
    * a random split leaks the future into the train set). The time span
    * is cut at quarter points with pure integer arithmetic on epoch
    * micros; fold f ∈ {1,2,3} trains on [t_min, cut_f) and tests on
    * [cut_f, cut_{f+1}) — train windows expand, test windows roll.
    *
    * Scale shape: ONE corpus scan — each row fans out to the folds
    * whose horizon covers it via an array-filter explode (≤ 3×, then
    * immediately partial-aggregated), with the 1-row bounds frame
    * broadcast. No per-fold rescan, no window. */
  def qTimeFolds(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(unix_micros(col("ts")).as("us"), col("user_id"), col("value"))
    val bounds = ev.agg(min(col("us")).as("tmin"),
      (max(col("us")) + 1L).as("tend"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("fold", explode(expr(
        "filter(array(1, 2, 3), f -> us < tmin + (CAST(f AS BIGINT) + 1) * (tend - tmin) div 4)")))
      .withColumn("split", when(
        col("us") < expr("tmin + CAST(fold AS BIGINT) * (tend - tmin) div 4"),
        lit("train")).otherwise(lit("test")))
      .groupBy(col("fold"), col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        // thousands of 2-decimal (non-dyadic) doubles per group: the float
        // sum is partial-agg-order sensitive (class-2 policy) and its
        // magnitude (~4e5) puts reorder error near 1e-9 — the strict sweep
        // showed round(·,9) still flakes, so round at 4 (the true sum has
        // 2 decimals; 5e-5 budget vs ~1e-6 worst-case reorder error)
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("fold"), col("split"))
  }

  val qTimeFoldsSql: String =
    """WITH b AS (
      |  SELECT min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) + 1 AS tend
      |  FROM events
      |), e AS (SELECT epoch_us(ts) AS us, user_id, value FROM events),
      |x AS (
      |  SELECT f.f AS fold,
      |    CASE WHEN e.us < b.tmin + f.f * (b.tend - b.tmin) // 4
      |         THEN 'train' ELSE 'test' END AS split,
      |    e.user_id, e.value
      |  FROM e CROSS JOIN b CROSS JOIN (VALUES (1), (2), (3)) f(f)
      |  WHERE e.us < b.tmin + (f.f + 1) * (b.tend - b.tmin) // 4
      |)
      |SELECT fold, split, count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users, round(sum(value), 4) AS sum_value
      |FROM x GROUP BY fold, split
      |ORDER BY fold, split""".stripMargin

  // -------------------------------------------------- Event path mining
  /** Top-15 most-travelled 3-step event paths — for every user, each
    * consecutive (by event time, id tie-broken) triple of event types
    * becomes a `a>b>c` path; corpus-wide counts rank the dominant
    * flows. The product-analytics primitive behind "where do users
    * actually go" (and, in a training-data pipeline, the n-gram
    * statistic over action sequences that drives agent-trajectory
    * curation).
    *
    * Scale shape: the double-lead window partitions by user_id —
    * millions of small partitions, the shape windows are good at; no
    * hub risk (a user IS a bounded session stream; contrast the
    * event_type windows SaltedWindow exists for). Path counting is a
    * partial-aggregable groupBy over short strings, and the top-15 cut
    * is orderBy+limit — TakeOrderedAndProject per-partition heaps,
    * never a global sort. Tie-break on the path string keeps the cut
    * deterministic across engines. */
  def qEventPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(15)
  }

  val qEventPathsSql: String =
    """WITH t AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
      |FROM t WHERE e3 IS NOT NULL
      |GROUP BY 1
      |ORDER BY n DESC, path
      |LIMIT 15""".stripMargin

  // ------------------------------------------------------- 2-D skyline
  /** Pareto frontier of orders — earliest date (minimize) at highest
    * total price (maximize), strict dominance: the offers no later
    * order beats on price. Delegates to [[graft.ops.Skyline]] (per-
    * distinct-date pre-aggregate + bounded running-max frame + equi-
    * join filter); the DuckDB twin spells the SAME frontier as one
    * whole-relation RANGE window (strictly-before-by-value max), so
    * the hash gate is a plan-equivalence proof of the two-level
    * decomposition — SkylineSpec additionally replays the O(N²)
    * NOT EXISTS definition on the fixture. Stored doubles compare
    * bit-exact (no arithmetic), so no rounding is needed. */
  def qSkyline(s: SparkSession, d: String): DataFrame =
    graft.ops.Skyline.frontier2d(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
      "o_orderdate", "o_totalprice")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))

  val qSkylineSql: String =
    """WITH w AS (
      |  SELECT o_orderkey, o_orderdate, o_totalprice,
      |    max(o_totalprice) OVER (ORDER BY o_orderdate
      |      RANGE BETWEEN UNBOUNDED PRECEDING
      |            AND INTERVAL 1 MICROSECOND PRECEDING) AS dom
      |  FROM orders
      |)
      |SELECT o_orderkey, o_orderdate, o_totalprice FROM w
      |WHERE dom IS NULL OR o_totalprice >= dom
      |ORDER BY o_orderdate, o_orderkey""".stripMargin

  // --------------------------------------- Bradley–Terry preference fit
  /** The |items|²-bounded pairwise win matrix over planted preferences
    * — the CORPUS half of the Bradley–Terry fit, shared by the release
    * row and the bounds gate so the two cannot drift. Four "policy"
    * items with true strengths 2^idx (1, 2, 4, 8); every document row
    * fans out IN-ROW into 16 planted comparisons whose pair choice and
    * winner are pure functions of (doc_id, i): the winner indicator is
    * u < s_a/(s_a+s_b) with u the HOUSE PORTABLE multiplicative hash
    * (((doc_id·16+i) mod 1000003)·2654435761 mod 10⁶)/10⁶ — exactly
    * replayable in ANSI SQL, which makes the matrix itself a
    * hash-green driver row (q_preference_matrix) rather than a
    * spec-only artifact. The threshold compare cannot boundary-sit: u
    * is a 6-decimal rational and every s_a/(s_a+s_b) is ≥ 3.3e-7 away
    * from any such value. The preferences are EXACTLY BT-distributed
    * with the planted strengths, and (with ≥ 13σ separation on
    * adjacent pairs even at sf0.001's 8000 comparisons) the fitted
    * order must recover the planted one. One partial-aggregable
    * groupBy ends the corpus work: a 4×4 win matrix, nothing else
    * ever leaves the executors. */
  private def btWinMatrix(s: SparkSession, d: String): DataFrame = {
    val k = 4
    val comps = Tables.documents(s, d).select(col("doc_id"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(15))).as("i"))
      .withColumn("a", pmod(col("doc_id") + col("i"), lit(k)).cast("int"))
      .withColumn("b", pmod(col("a") + 1 +
        pmod(expr("doc_id div 4") + col("i"), lit(k - 1)), lit(k)).cast("int"))
      // u in [0, 1): the portable multiplicative hash of the comparison
      // id (q_corpus_shuffle's spelling — no engine-specific hash)
      .withColumn("u",
        pmod(pmod(col("doc_id") * 16 + col("i"), lit(1000003L)) * lit(2654435761L),
          lit(1000000L)).cast("double") / 1e6)
      // planted strengths 2^idx: P[a beats b] = s_a / (s_a + s_b)
      .withColumn("sa", pow(lit(2.0), col("a")))
      .withColumn("sb", pow(lit(2.0), col("b")))
      .withColumn("win_a", col("u") < col("sa") / (col("sa") + col("sb")))
    comps.select(
      when(col("win_a"), col("a")).otherwise(col("b")).as("winner"),
      when(col("win_a"), col("b")).otherwise(col("a")).as("loser"))
      .groupBy(col("winner"), col("loser"))
      .agg(count(lit(1)).as("w"))
  }

  /** The win matrix as a driver-visible HASH row — the corpus half of
    * the BT family released on its own ([[btWinMatrix]]'s scaladoc
    * promise, registered r17): 12 rows of exact integer counts whose
    * DuckDB twin replays the 16-way fan-out, the portable-hash
    * uniform, and the planted-strength threshold from scratch — so
    * the hash certifies the whole preference-synthesis pipeline; only
    * the ≤k²-bounded MM fixed point ([[qPreferenceBt]]) stays
    * rows-only. All integers, no float class (the u < s_a/(s_a+s_b)
    * compare is 3.3e-7 away from any representable u on both engines,
    * as [[btWinMatrix]] documents). */
  def qPreferenceMatrix(s: SparkSession, d: String): DataFrame =
    btWinMatrix(s, d).orderBy(col("winner"), col("loser"))

  val qPreferenceMatrixSql: String =
    """WITH c AS (
      |  SELECT doc_id, i,
      |    CAST((doc_id + i) % 4 AS INTEGER) AS a,
      |    CAST(((doc_id + i) % 4 + 1 + ((doc_id // 4) + i) % 3) % 4
      |      AS INTEGER) AS b,
      |    CAST(((doc_id * 16 + i) % 1000003) * 2654435761 % 1000000
      |      AS DOUBLE) / 1e6 AS u
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g
      |), wl AS (
      |  SELECT CASE WHEN u < power(2.0, a) / (power(2.0, a) + power(2.0, b))
      |              THEN a ELSE b END AS winner,
      |         CASE WHEN u < power(2.0, a) / (power(2.0, a) + power(2.0, b))
      |              THEN b ELSE a END AS loser
      |  FROM c
      |)
      |SELECT winner, loser, count(*) AS w
      |FROM wl GROUP BY winner, loser
      |ORDER BY winner, loser""".stripMargin

  /** Bradley–Terry strengths via Hunter's MM iteration over the
    * collected win matrix: s_i ← W_i / Σ_{j≠i} n_ij/(s_i+s_j),
    * normalized to Σs = 1 each round. The collect is ≤ k·(k−1) rows
    * (k = 4 items) — the Markov-removal bounded-collect budget — and
    * the fixed-point loop is driver CPU over an 4-vector; keys are
    * sorted before every driver-side sum (the house float-solve
    * discipline). Returns (item, strength, their fitted rank,
    * n_wins, n_comparisons). */
  private def btFit(s: SparkSession, d: String): (Array[(Int, Double, Long, Long)], Double) = {
    val rows = btWinMatrix(s, d).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
      .sortBy(_._1).toMap
    val items = rows.keysIterator.flatMap { case (a, b) => Iterator(a, b) }
      .toSeq.distinct.sorted.toArray
    val wTot = items.map(i =>
      i -> rows.collect { case ((a, _), w) if a == i => w }.sum).toMap
    // .toSeq BEFORE collect: a pair-valued collect on a Map rebuilds a
    // Map, silently collapsing the two orientations of every pair into
    // one key (the r13-documented trap — it cost this query its first
    // draft: half the comparison mass vanished from the denominators)
    val nTot = items.map(i => i -> rows.toSeq.collect {
      case ((a, b), w) if a == i || b == i => ((math.min(a, b), math.max(a, b)), w)
    }.groupBy(_._1).map { case (p, ws) => p -> ws.map(_._2).sum }).toMap
    var strength = items.map(_ => 1.0 / items.length)
    var delta = Double.MaxValue
    var iter = 0
    while (iter < 200 && delta > 1e-12) {
      val next = items.zipWithIndex.map { case (i, ix) =>
        val denom = items.zipWithIndex.collect {
          case (j, jx) if j != i =>
            val p = (math.min(i, j), math.max(i, j))
            nTot(i).getOrElse(p, 0L).toDouble / (strength(ix) + strength(jx))
        }.sorted.sum
        if (denom == 0.0) strength(ix) else wTot(i).toDouble / denom
      }
      val z = next.sorted.sum
      val normed = next.map(_ / z)
      delta = items.indices.map(ix => math.abs(normed(ix) - strength(ix))).max
      strength = normed
      iter += 1
    }
    val ranks = strength.zipWithIndex.sortBy(-_._1).zipWithIndex
      .map { case ((_, ix), r) => ix -> (r + 1L) }.toMap
    (items.zipWithIndex.map { case (i, ix) =>
      (i, strength(ix), ranks(ix), wTot(i))
    }.map { case (i, st, r, w) => (i, st, r, w) }, delta)
  }

  /** Bradley–Terry preference strengths (Bradley & Terry '52; Hunter
    * AoS'04 MM) — the reward-model data-curation statistic: given
    * pairwise preference labels, fit per-item strengths whose ratios
    * explain the win rates. Corpus work is ONE groupBy to the 4×4 win
    * matrix ([[btWinMatrix]]); the MM fixed point runs driver-side on
    * the ≤k² collected counts. Rows-only release (the fixed point is
    * a float solve — the LR/eigen/value-iteration precedent); the
    * driver-facing guarantees are [[qPreferenceBtBounds]]. */
  def qPreferenceBt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (fit, _) = btFit(s, d)
    fit.toSeq.map { case (i, st, r, w) =>
      (s"policy_$i", math.rint(st * 1e9) / 1e9, r, w)
    }.toDF("item", "strength", "fitted_rank", "n_wins")
      .orderBy(col("item"))
  }

  /** Fail-closed gate: the MM iteration CONVERGED (final sweep moved
    * no strength by > 1e-8), the fitted order recovers the planted
    * total order (strength strictly increasing in the planted 2^idx
    * index), strengths are a normalized distribution (Σ = 1 within
    * 1e-9), and every unordered pair was actually compared (the
    * fixture's fan-out covered the matrix — guards the planted-order
    * claim against a degenerate comparison graph, where BT is not
    * even identifiable). */
  def qPreferenceBtBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (fit, delta) = btFit(s, d)
    val strengths = fit.sortBy(_._1).map(_._2)
    val pairsSeen = btWinMatrix(s, d)
      .select(least(col("winner"), col("loser")).as("a"),
        greatest(col("winner"), col("loser")).as("b"))
      .distinct().count()
    val k = strengths.length
    val ok = k == 4 && fit.map(_._4).sum > 0
    Seq(
      ("all_pairs_compared", ok && pairsSeen == k.toLong * (k - 1) / 2),
      ("converged", ok && delta <= 1e-8),
      ("planted_order_recovered",
        ok && strengths.sliding(2).forall(p => p(0) < p(1))),
      ("strengths_normalized",
        ok && math.abs(strengths.sorted.sum - 1.0) <= 1e-9))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qPreferenceBtBoundsSql: String =
    """SELECT * FROM (VALUES ('all_pairs_compared', true),
      |  ('converged', true), ('planted_order_recovered', true),
      |  ('strengths_normalized', true)) t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  // --------------------------------------------- Best-of-N selection
  /** The candidate table for Best-of-N: every prompt (= document id)
    * fans out IN-ROW into N = 8 scored generations whose reward is the
    * HOUSE portable multiplicative hash of the candidate id — integer
    * reward units in [0, 10⁶), exactly replayable in ANSI SQL (the
    * [[btWinMatrix]] fixture discipline; BT models the comparison
    * labels, this models the scalar reward the other RLHF curation
    * path consumes). Shared by the selection row and the histogram so
    * the two cannot drift. */
  private def bestOfNCands(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id").as("prompt_id"))
      .select(col("prompt_id"),
        explode(sequence(lit(0L), lit(7L))).as("cand_id"))
      .withColumn("ru",
        pmod(pmod(col("prompt_id") * 8 + col("cand_id"), lit(1000003L)) *
          lit(2654435761L), lit(1000000L)))

  /** Best-of-N / rejection-sampling selection (Nakano et al. 2021
    * WebGPT §3.3; Touvron et al. 2023 Llama-2 §3.2.2's rejection
    * sampling): per prompt, keep the highest-reward candidate and emit
    * the selection CONFIDENCE — the reward margin top1 − top2 and its
    * decile band, the knob a curation pipeline thresholds on (a
    * near-zero margin means the reward model couldn't separate the
    * candidates and the pair belongs in preference-label collection
    * instead — the [[qPreferenceBt]] path; this op is the other half
    * of that story).
    *
    * Engine shape: ONE partial-aggregable groupBy via the house
    * bounded-heap `top_k_by` at k = 2 (map-side combine reduces each
    * partition's candidates to ≤ 2 pairs; only heaps shuffle — never
    * the candidate text at 100 TB), ties broken by smaller cand_id in
    * the heap's total order. All arithmetic in exact integer reward
    * units: margin_units is a long subtraction, the band an integer
    * division, and reward/margin are terminal /10⁶ divisions — no
    * float class. Oracle replays selection as a row_number window with
    * the identical tie-break. */
  def qBestOfN(s: SparkSession, d: String): DataFrame =
    bestOfNCands(s, d)
      .groupBy(col("prompt_id"))
      .agg(graft.functions.TopKBy
        .topKBy(col("ru").cast("double"), col("cand_id"), 2).as("top"))
      .select(col("prompt_id"),
        col("top")(0)("id").as("best_cand"),
        col("top")(0)("score").cast("long").as("ru1"),
        col("top")(1)("score").cast("long").as("ru2"))
      .select(col("prompt_id"), col("best_cand"),
        (col("ru1").cast("double") / 1e6).as("reward"),
        ((col("ru1") - col("ru2")).cast("double") / 1e6).as("margin"),
        expr("(ru1 - ru2) div 100000").as("margin_band"))
      .orderBy(col("prompt_id"))

  val qBestOfNSql: String =
    """WITH c AS (
      |  SELECT doc_id AS prompt_id, CAST(i AS BIGINT) AS cand_id,
      |    CAST((doc_id * 8 + i) % 1000003 * 2654435761 % 1000000
      |      AS BIGINT) AS ru
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 8)) AS i) g
      |), r AS (
      |  SELECT prompt_id, cand_id, ru,
      |    row_number() OVER (PARTITION BY prompt_id
      |                       ORDER BY ru DESC, cand_id ASC) AS rk
      |  FROM c
      |)
      |SELECT a.prompt_id, a.cand_id AS best_cand,
      |  CAST(a.ru AS DOUBLE) / 1e6 AS reward,
      |  CAST(a.ru - b.ru AS DOUBLE) / 1e6 AS margin,
      |  (a.ru - b.ru) // 100000 AS margin_band
      |FROM r a JOIN r b ON a.prompt_id = b.prompt_id
      |  AND a.rk = 1 AND b.rk = 2
      |ORDER BY a.prompt_id""".stripMargin

  /** The margin-band histogram over [[qBestOfN]] — the distributional
    * readout a curation run actually looks at (how much of the corpus
    * was selected confidently vs. by a coin flip): prompts per margin
    * decile. Bounded output (≤ 10 rows); the corpus work is the same
    * single groupBy, then a 10-key recount. */
  def qBestOfNHist(s: SparkSession, d: String): DataFrame =
    qBestOfN(s, d)
      .groupBy(col("margin_band"))
      .agg(count(lit(1)).as("n_prompts"))
      .orderBy(col("margin_band"))

  val qBestOfNHistSql: String =
    s"""WITH sel AS ($qBestOfNSql)
       |SELECT margin_band, count(*) AS n_prompts
       |FROM sel GROUP BY margin_band
       |ORDER BY margin_band""".stripMargin

  /** DPO preference-pair construction (Rafailov et al. NeurIPS'23
    * §4's (x, y_w, y_l) dataset) — the third leg of the RLHF data
    * story next to [[qPreferenceBt]] (pairwise labels) and
    * [[qBestOfN]] (top-1 selection): per prompt, the (chosen,
    * rejected) = (argmax, argmin) reward pair over the SAME candidate
    * fixture, with the reward gap and a `confident` verdict (gap ≥
    * 0.3 in reward units — low-gap pairs are the ones a curation run
    * routes to human labeling instead). One groupBy carrying TWO
    * bounded heaps (k = 1 each; the min heap rides the max heap's
    * machinery on the negated score, with −0.0 normalized so the
    * negation cannot split a tie class); all comparisons in exact
    * integer reward units. Oracle replays both extremes as two
    * row_number windows with the identical tie-breaks. A prompt whose
    * candidates ALL tie yields chosen == rejected — a semantically
    * invalid (y_w == y_l) preference pair — so degenerate pairs are
    * DROPPED, not emitted (r18 ADVICE): such a prompt carries no
    * preference signal and belongs in label collection, same routing
    * as the low-gap band `confident` already marks. */
  def qDpoPairs(s: SparkSession, d: String): DataFrame =
    bestOfNCands(s, d)
      .groupBy(col("prompt_id"))
      .agg(
        graft.functions.TopKBy
          .topKBy(col("ru").cast("double"), col("cand_id"), 1).as("hi"),
        graft.functions.TopKBy
          .topKBy((-col("ru")).cast("double"), col("cand_id"), 1).as("lo"))
      .select(col("prompt_id"),
        col("hi")(0)("id").as("chosen_cand"),
        col("lo")(0)("id").as("rejected_cand"),
        col("hi")(0)("score").cast("long").as("ruc"),
        (-col("lo")(0)("score")).cast("long").as("rur"))
      .select(col("prompt_id"), col("chosen_cand"), col("rejected_cand"),
        (col("ruc").cast("double") / 1e6).as("reward_chosen"),
        (col("rur").cast("double") / 1e6).as("reward_rejected"),
        ((col("ruc") - col("rur")).cast("double") / 1e6).as("reward_gap"),
        (col("ruc") - col("rur") >= 300000L).as("confident"))
      .filter(col("chosen_cand") =!= col("rejected_cand"))
      .orderBy(col("prompt_id"))

  val qDpoPairsSql: String =
    """WITH c AS (
      |  SELECT doc_id AS prompt_id, CAST(i AS BIGINT) AS cand_id,
      |    CAST((doc_id * 8 + i) % 1000003 * 2654435761 % 1000000
      |      AS BIGINT) AS ru
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 8)) AS i) g
      |), r AS (
      |  SELECT prompt_id, cand_id, ru,
      |    row_number() OVER (PARTITION BY prompt_id
      |                       ORDER BY ru DESC, cand_id ASC) AS rk_hi,
      |    row_number() OVER (PARTITION BY prompt_id
      |                       ORDER BY ru ASC, cand_id ASC) AS rk_lo
      |  FROM c
      |)
      |SELECT a.prompt_id, a.cand_id AS chosen_cand,
      |  b.cand_id AS rejected_cand,
      |  CAST(a.ru AS DOUBLE) / 1e6 AS reward_chosen,
      |  CAST(b.ru AS DOUBLE) / 1e6 AS reward_rejected,
      |  CAST(a.ru - b.ru AS DOUBLE) / 1e6 AS reward_gap,
      |  (a.ru - b.ru) >= 300000 AS confident
      |FROM r a JOIN r b ON a.prompt_id = b.prompt_id
      |  AND a.rk_hi = 1 AND b.rk_lo = 1
      |WHERE a.cand_id <> b.cand_id
      |ORDER BY a.prompt_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_preference_bt" -> (qPreferenceBt _),
    "q_preference_bt_bounds" -> (qPreferenceBtBounds _),
    "q_preference_matrix" -> (qPreferenceMatrix _),
    "q_best_of_n" -> (qBestOfN _),
    "q_best_of_n_hist" -> (qBestOfNHist _),
    "q_dpo_pairs" -> (qDpoPairs _),
    "q_skyline" -> (qSkyline _),
    "q_event_paths" -> (qEventPaths _),
    "q_time_folds" -> (qTimeFolds _),
    "q_bm25" -> (qBm25 _),
    "q_mad_outliers" -> (qMadOutliers _),
    "q_winsorize" -> (qWinsorize _),
    "q_graph_triangles" -> (qGraphTriangles _),
    "q_domain_pagerank" -> (qDomainPagerank _),
    "q_domain_pagerank_incremental" -> (qDomainPagerankIncremental _),
    "q_pagerank_inc_bounds" -> (qPagerankIncBounds _),
    "q_importance_weights" -> (qImportanceWeights _),
    "q_perplexity_filter" -> (qPerplexityFilter _),
    "q_lm_score" -> (qLmScore _),
    "q_lm_bigram" -> (qLmBigram _),
    "q_corpus_divergence" -> (qCorpusDivergence _),
    "q_basket_pairs" -> (qBasketPairs _),
    "q_basket_rules" -> (qBasketRules _),
    "q_rolling_active_users" -> (qRollingActiveUsers _),
    "q_survival_hazard" -> (qSurvivalHazard _),
    "q_event_markov" -> (qEventMarkov _),
    "q_rfm" -> (qRfm _),
    "q_session_funnel" -> (qSessionFunnel _),
    "q_tfidf" -> (qTfidf _),
    "q_funnel" -> (qFunnel _),
    "q_range_join" -> (qRangeJoin _),
    "q_group_quantiles" -> (qGroupQuantiles _),
    "q_attribution" -> (qAttribution _),
    "q_resample_ffill" -> (qResampleFfill _),
    "q_seasonal_decompose" -> (qSeasonalDecompose _),
    "q_rolling_anomaly" -> (qRollingAnomaly _),
    "q_ewma_smooth" -> (qEwmaSmooth _),
    "q_forecast_backtest" -> (qForecastBacktest _),
    "q_attribution_position" -> (qAttributionPosition _),
    "q_level_shift" -> (qLevelShift _),
    "q_acf" -> (qAcf _),
    "q_xcorr_lagged" -> (qXcorrLagged _),
    "q_grouped_ols" -> (qGroupedOls _),
    "q_ab_test" -> (qAbTest _),
    "q_trend_mannkendall" -> (qTrendMannKendall _),
    "q_sen_slope" -> (qSenSlope _),
    "q_attribution_removal" -> (qAttributionRemoval _),
    "q_attribution_removal_bounds" -> (qAttributionRemovalBounds _),
    "q_chi2_independence" -> (qChi2Independence _),
    "q_psi_drift" -> (qPsiDrift _),
    "q_seasonal_outliers" -> (qSeasonalOutliers _),
    "q_graph_bfs" -> (qGraphBfs _),
    "q_interpolate" -> (qInterpolate _),
    "q_retention" -> (qRetention _))

  val oracles: Map[String, String] = Map(
    "q_preference_bt_bounds" -> qPreferenceBtBoundsSql,
    "q_preference_matrix" -> qPreferenceMatrixSql,
    "q_best_of_n" -> qBestOfNSql,
    "q_best_of_n_hist" -> qBestOfNHistSql,
    "q_dpo_pairs" -> qDpoPairsSql,
    "q_skyline" -> qSkylineSql,
    "q_event_paths" -> qEventPathsSql,
    "q_time_folds" -> qTimeFoldsSql,
    "q_bm25" -> qBm25Sql,
    "q_mad_outliers" -> qMadOutliersSql,
    "q_winsorize" -> qWinsorizeSql,
    "q_graph_triangles" -> qGraphTrianglesSql,
    "q_domain_pagerank" -> qDomainPagerankSql,
    "q_pagerank_inc_bounds" -> qPagerankIncBoundsSql,
    "q_importance_weights" -> qImportanceWeightsSql,
    "q_perplexity_filter" -> qPerplexityFilterSql,
    "q_lm_score" -> qLmScoreSql,
    "q_lm_bigram" -> qLmBigramSql,
    "q_corpus_divergence" -> qCorpusDivergenceSql,
    "q_basket_pairs" -> qBasketPairsSql,
    "q_basket_rules" -> qBasketRulesSql,
    "q_rolling_active_users" -> qRollingActiveUsersSql,
    "q_survival_hazard" -> qSurvivalHazardSql,
    "q_event_markov" -> qEventMarkovSql,
    "q_rfm" -> qRfmSql,
    "q_session_funnel" -> qSessionFunnelSql,
    "q_tfidf" -> qTfidfSql,
    "q_funnel" -> qFunnelSql,
    "q_range_join" -> qRangeJoinSql,
    "q_group_quantiles" -> qGroupQuantilesSql,
    "q_attribution" -> qAttributionSql,
    "q_resample_ffill" -> qResampleFfillSql,
    "q_seasonal_decompose" -> qSeasonalDecomposeSql,
    "q_rolling_anomaly" -> qRollingAnomalySql,
    "q_ewma_smooth" -> qEwmaSmoothSql,
    "q_forecast_backtest" -> qForecastBacktestSql,
    "q_attribution_position" -> qAttributionPositionSql,
    "q_level_shift" -> qLevelShiftSql,
    "q_acf" -> qAcfSql,
    "q_xcorr_lagged" -> qXcorrLaggedSql,
    "q_grouped_ols" -> qGroupedOlsSql,
    "q_ab_test" -> qAbTestSql,
    "q_trend_mannkendall" -> qTrendMannKendallSql,
    "q_sen_slope" -> qSenSlopeSql,
    "q_attribution_removal_bounds" -> qAttributionRemovalBoundsSql,
    "q_chi2_independence" -> qChi2IndependenceSql,
    "q_psi_drift" -> qPsiDriftSql,
    "q_seasonal_outliers" -> qSeasonalOutliersSql,
    "q_graph_bfs" -> qGraphBfsSql,
    "q_interpolate" -> qInterpolateSql,
    "q_retention" -> qRetentionSql)
}

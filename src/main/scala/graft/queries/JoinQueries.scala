package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.IntervalJoin

/** Join operators (SURVEY.md §2.4) over the harness tables.
  *
  * Scale strategy: dimension tables (region/nation/customer/supplier/
  * part) are broadcast — at 100 TB lineitem is the only fact table that
  * shuffles, and only when joining orders (fact⋈fact, shuffled hash /
  * sort-merge on the join key with AQE free to re-plan). Derived
  * aggregate build sides (per-group medians) are tiny by construction
  * (bounded by group cardinality, not data volume) and broadcast too.
  */
object JoinQueries {

  // ---------------------------------------------------------------- §2.4 J1
  /** The reference's one join, re-expressed Spark-first (ipynb c16:138):
    * left-outer equi-join of the fact table against a derived
    * per-(key, month) median table with a computed second key, then
    * `when(isNull, median)` fill and qualified-duplicate drop.
    *
    * The build side is an aggregate of the probe side — at any scale its
    * cardinality is |suppliers|×12, so it is explicitly broadcast:
    * no shuffle on the ~100 TB probe side at all. Both sides are aliased
    * (SURVEY §7.4.4) to dodge Spark 4's self-join ambiguity trap. */
  def qJoinMedianFill(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).alias("li")
    val med = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey").as("m_suppkey"), month(col("l_shipdate")).as("m_mo"))
      .agg(median(col("l_extendedprice")).as("med_price"))
      .alias("med")
    li.join(broadcast(med),
        col("li.l_suppkey") === col("m_suppkey") &&
          month(col("li.l_shipdate")) === col("m_mo"),
        "left_outer")
      .select(col("li.l_orderkey").as("l_orderkey"),
        col("li.l_linenumber").as("l_linenumber"),
        col("li.l_suppkey").as("l_suppkey"),
        col("m_mo").as("mo"),
        col("med_price"),
        when(col("li.l_discount") > lit(0.05), col("med_price"))
          .otherwise(col("li.l_extendedprice")).as("price_capped"))
      // (l_orderkey, l_linenumber, l_suppkey) is not unique either —
      // total-order on ALL output columns for hash stability.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("mo"), col("med_price"), col("price_capped"))
  }

  val qJoinMedianFillSql: String =
    """SELECT li.l_orderkey, li.l_linenumber, li.l_suppkey,
      |  med.m_mo AS mo, med.med_price,
      |  CASE WHEN li.l_discount > 0.05 THEN med.med_price
      |       ELSE li.l_extendedprice END AS price_capped
      |FROM lineitem li
      |LEFT OUTER JOIN (
      |  SELECT l_suppkey AS m_suppkey, month(l_shipdate) AS m_mo,
      |         median(l_extendedprice) AS med_price
      |  FROM lineitem GROUP BY 1, 2
      |) med
      |ON li.l_suppkey = med.m_suppkey AND month(li.l_shipdate) = med.m_mo
      |ORDER BY li.l_orderkey, li.l_linenumber, li.l_suppkey, mo, med.med_price, price_capped""".stripMargin

  // ---------------------------------------------------------------- multi-join
  /** TPC-H Q5-shaped star join: revenue per nation. Dimension chain
    * (customer→nation→region) broadcasts; lineitem⋈orders is the only
    * shuffle (both sides partitioned on the order key). Revenue is the
    * exact integer `Σ ec·(100−dc)` (price cents × retained-discount
    * hundredths) with one terminal /10⁴ — bit-stable in any partial-agg
    * order (class-2 integer-exact spelling, r13; the raw double sum
    * was layout-lucky and flipped under DeterminismSpec's reordered
    * copy). The accumulator is DECIMAL(38,0) (DuckDB sum(BIGINT) is
    * already HUGEINT): per-row terms are ~10¹³, so a BIGINT carry
    * would wrap 2⁶³ near 10⁶ rows PER GROUP × worst-case terms —
    * reachable in a 100 TB nation-year group; 128-bit is exact to
    * ~10²⁵ rows. */
  def qJoinRevenueByNation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * lit(100)).cast("long").as("ec"),
        round(col("l_discount") * lit(100)).cast("long").as("dc"))
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        (sum((col("ec") * (lit(100L) - col("dc"))).cast("decimal(38,0)"))
          .cast("double") / lit(10000.0))
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Returned-item revenue ranking (the TPC-H Q10 shape): the top-20
    * customers by revenue lost to returns — lineitem filtered to
    * returnflag 'R' (predicate pushed to the scan), joined up the
    * star, grouped per customer, TakeOrdered cut.
    *
    * Scale shape: the selective flag filter reaches parquet; customer
    * and nation broadcast; the only shuffle is fact⋈fact on the order
    * key then the partial-aggregable customer rollup. Revenue rounds
    * at 6 BEFORE the rank (per-customer sums ≈ 5e5 carry ~4e-9
    * reorder error — round 9 would sit inside it, the class-2
    * magnitude rule), with c_custkey breaking exact-6-decimal ties so
    * the top-20 boundary is deterministic on both engines. */
  def qCustomerReturns(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val qCustomerReturnsSql: String =
    """SELECT c_custkey, c_name, n_name,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 6) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Order-priority counting (the TPC-H Q4 shape): orders with at
    * least one line shipped after a deep discount window — a grouped
    * count OVER a semi-join, the composition q_join_semi stops short
    * of. Scale shape: the EXISTS side reduces to a distinct-key
    * projection pushed through a left-semi hash join; the count is
    * partial-aggregable over ≤ |priorities| groups. */
  def qPriorityCount(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val flagged = Tables.lineitem(s, d)
      .filter(col("l_discount") >= lit(0.08))
      .select(col("l_orderkey"))
    o.join(flagged, o("o_orderkey") === flagged("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val qPriorityCountSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Cross-border shipping volume (the TPC-H Q7 shape): revenue
    * between distinct (supplier nation, customer nation) pairs by
    * order year — ONE fact row reached through TWO independent
    * dimension chains (lineitem→supplier→nation and
    * lineitem→orders→customer→nation), the same dimension table
    * broadcast twice under different aliases. The pattern every
    * "producer vs consumer geography" report uses.
    *
    * Scale shape: all four dimension hops broadcast; the only shuffle
    * is lineitem⋈orders on the order key, then a partial-aggregable
    * groupBy over ≤ |nations|²·|years| groups. Volume rounds at 4
    * (per-group sums ≈ 1e6 — magnitude rule). */
  def qNationVolume(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val sup = Tables.supplier(s, d)
    val sn = Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val cn = Tables.nation(s, d)
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(sn), sup("s_nationkey") === col("sn_key"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(cn), c("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("o_orderdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("volume"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val qNationVolumeSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  year(o_orderdate) AS l_year,
      |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS volume
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE sn.n_name <> cn.n_name
      |GROUP BY sn.n_name, cn.n_name, year(o_orderdate)
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Count-of-counts distribution (the TPC-H Q13 shape): how many
    * customers placed exactly k orders — the double aggregation
    * (per-key count, then histogram of the counts) behind "orders per
    * customer", "events per session", "duplicates per cluster"
    * distribution reporting. The left outer join keeps zero-order
    * customers (count of the null-keyed side reads 0).
    *
    * Scale shape: both aggregations are partial-aggregable; the
    * second runs over the |customers| frame and outputs ≤ max-count
    * rows. The join is the one fact⋈dimension shuffle (customer side
    * broadcast-eligible; AQE decides). */
  def qCustdist(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"))
    val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val qCustdistSql: String =
    """WITH per AS (
      |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |  FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
      |  GROUP BY c.c_custkey
      |)
      |SELECT c_count, count(*) AS custdist
      |FROM per GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Dormant high-balance accounts (the TPC-H Q22 shape): customers
    * above the positive-balance average with no HIGH-VALUE order
    * (every harness customer has some order, so plain no-order
    * dormancy is empty — the 300k cut keeps the anti side
    * non-degenerate, q_join_anti's discipline) — a scalar-subquery
    * threshold (1-row broadcast) composed with an anti-join, grouped
    * per market segment. The threshold ROUNDS at 6 on both engines
    * before the compare: the average of non-dyadic doubles differs by
    * ~1 ulp across engines, and an unrounded boundary would make
    * membership of a knife-edge customer engine-dependent (class-2
    * boundary discipline). Segment sums round at 4 (≈1e6 magnitude
    * rule). */
  def qDormantAccounts(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg(round(avg(col("c_acctbal")), 6).as("avg_bal"))
    val o = Tables.orders(s, d)
      .filter(col("o_totalprice") > 300000.0)
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(col("c_acctbal")), 4).as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }

  val qDormantAccountsSql: String =
    """WITH t AS (
      |  SELECT round(avg(c_acctbal), 6) AS avg_bal FROM customer
      |  WHERE c_acctbal > 0
      |)
      |SELECT c_mktsegment, count(*) AS n_custs,
      |  round(sum(c_acctbal), 4) AS total_bal
      |FROM customer c CROSS JOIN t
      |WHERE c.c_acctbal > t.avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_totalprice > 300000.0)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Conditional cross-class counting (the TPC-H Q12 shape): per
    * lineitem return flag, how many lines belong to urgent/high
    * orders vs the rest — the CASE-sum idiom that folds a pivot into
    * one aggregate pass. One fact⋈fact shuffle, then a
    * partial-aggregable groupBy with two conditional sums. */
  def qShipmodePriority(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  val qShipmodePrioritySql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Suppliers who kept others waiting (the TPC-H Q21 shape): count,
    * per supplier, the late line items (shipped > 60 days after the
    * order date) in finalized multi-supplier orders where that
    * supplier was the ONLY late one — the multi-EXISTS chain (semi +
    * anti over the same fact under two aliases) behind every "who is
    * the sole bottleneck" attribution report.
    *
    * Scale shape: the textbook spelling self-joins the 100 TB fact
    * TWICE (EXISTS l2 / NOT EXISTS l3); here both correlated
    * predicates collapse into ONE partial-aggregable pass — per
    * (order, supplier): late-line count — followed by a window over
    * the ORDER-GRAIN frame (bounded by |orders|·|supps per order|,
    * never line items; the partition key is the high-cardinality
    * order key, so no hub-partition hazard) carrying supplier count
    * and late-supplier count. "Another supplier exists" ⟺
    * n_supps ≥ 2; "no OTHER supplier was late" ⟺ (this supplier
    * late ∧ n_late_supps = 1). The fact table is scanned ONCE and
    * shuffles once (fact⋈fact on the order key); a join-based
    * per-order aggregate would plan a second full scan of the shared
    * subframe instead. Supplier/nation broadcast. The DuckDB oracle
    * replays the correlated EXISTS/NOT-EXISTS form, so the hash gate
    * proves the window rewrite IS the textbook chain. Counts only —
    * no float policy needed; s_name is unique, making the top-20
    * boundary total. */
  def qSupplierWait(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val perSupp = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1L).otherwise(0L))
        .as("n_late_lines"))
    val perOrder = Window.partitionBy(col("l_orderkey"))
    val sup = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    perSupp
      .withColumn("n_supps", count(lit(1)).over(perOrder))
      .withColumn("n_late_supps",
        sum(when(col("n_late_lines") > 0L, 1L).otherwise(0L)).over(perOrder))
      .filter(col("n_late_lines") > 0L &&
        col("n_supps") >= 2L && col("n_late_supps") === 1L)
      .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(sum(col("n_late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val qSupplierWaitSql: String =
    """SELECT s_name, n_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
      |JOIN supplier ON s_suppkey = l1.l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name, n_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** Large-volume orders (the TPC-H Q18 shape): orders whose total
    * line quantity clears a threshold, with customer context — the
    * groupBy-HAVING-join-back composition behind every "find the
    * whales, then show their detail" report. The textbook spelling
    * aggregates lineitem TWICE (once inside the IN subquery, once for
    * the output sum); here the single per-order aggregate serves as
    * both the filter and the output column, so the fact table is
    * scanned and shuffled ONCE. Orders join the (post-HAVING, tiny)
    * big-order frame — broadcast-eligible, AQE decides; customer
    * broadcasts. Quantities are integral doubles summed exactly
    * (< 2^53) — no float policy needed; the top-20 boundary
    * tie-breaks on the unique order key. The DuckDB oracle replays
    * the textbook double-aggregate IN form, so the hash gate proves
    * the single-pass rewrite. */
  def qBigOrders(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 120.0)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(big, o("o_orderkey") === big("l_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  val qBigOrdersSql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  sum(l_quantity) AS total_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 120)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 20""".stripMargin

  /** Top-revenue supplier (the TPC-H Q15 shape): the revenue view's
    * maximum row(s) recovered by equality against a scalar aggregate —
    * the argmax-of-an-aggregate join-back every "who won the quarter"
    * query uses. One partial-aggregable pass builds the per-supplier
    * quarterly revenue, materialized ONCE (localCheckpoint — the
    * shared-subframe discipline of basketPairs: without it the two
    * branches re-plan the fact scan twice, measured); the scalar max
    * is then a fully-PARALLEL partial aggregate over that view
    * crossed back as a 1-row broadcast — never a no-partition window,
    * which would single-task the |suppliers|-proportional frame (at
    * TPC-H scale suppliers grow with SF; the bounded-frame window
    * exemption is for calendar/distinct-value frames only). Supplier
    * broadcasts. Revenue ROUNDS at 6 on BOTH engines BEFORE the max
    * and the
    * equality compare (per-supplier sums ≈ 2e6 carry ~1e-9 reorder
    * error — an unrounded float-equality join would make max
    * membership engine-dependent; class-2 boundary discipline, same
    * as q_dormant_accounts' threshold). Ties after rounding emit all
    * winners on both engines. The quarter filter pushes to the
    * parquet scan. */
  def qTopSupplierRevenue(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 6)
        .as("total_rev"))
      .localCheckpoint(true)
    val m = rev.agg(max(col("total_rev")).as("max_rev"))
    val sup = Tables.supplier(s, d)
    rev.crossJoin(broadcast(m))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  val qTopSupplierRevenueSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    round(sum(l_extendedprice * (1.0 - l_discount)), 6) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey
      |), m AS (SELECT max(total_rev) AS max_rev FROM rev)
      |SELECT s_suppkey, s_name, total_rev
      |FROM rev JOIN m ON total_rev = max_rev
      |JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  /** Cheapest supplier per part (the TPC-H Q2 shape): per-group argmin
    * recovered by joining the per-(part, supplier) cost frame back to
    * the per-part minimum — the correlated-subquery composition
    * (`cost = (SELECT min ...)`) a procurement/routing query runs,
    * here over unit costs derived from the fact table. The per-part
    * minimum rides a window over the (part, supplier) AGGREGATE frame
    * — partitions are parts (high-cardinality, ≤ |suppliers per part|
    * rows each, no hub hazard), so the fact table is scanned and
    * shuffled ONCE; a separate groupBy-then-join-back spelling plans
    * a SECOND full fact scan (the shared cost subframe is not reused
    * across branches — measured, the q_supplier_wait lesson).
    * Supplier/nation broadcast. The unit cost is a single IEEE
    * division and the minima are picks (never sums) — bit-exact
    * across engines, so the equality compare needs no tolerance; the
    * display column rounds at 6. Ties (two suppliers at the exact
    * minimum) emit all winners on both engines, and (part, s_name)
    * makes the output order total. */
  def qCheapestSupplier(s: SparkSession, d: String): DataFrame = {
    val cost = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val perPart = Window.partitionBy(col("l_partkey"))
    val sup = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    cost.withColumn("min_cost", min(col("unit_cost")).over(perPart))
      .filter(col("unit_cost") === col("min_cost"))
      .join(broadcast(sup), col("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .select(col("l_partkey").as("p_key"), col("s_name"), col("n_name"),
        round(col("unit_cost"), 6).as("unit_cost"))
      .orderBy(col("p_key"), col("s_name"))
  }

  val qCheapestSupplierSql: String =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    min(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey
      |), best AS (
      |  SELECT l_partkey, min(unit_cost) AS min_cost FROM cost GROUP BY l_partkey
      |)
      |SELECT c.l_partkey AS p_key, s_name, n_name,
      |  round(c.unit_cost, 6) AS unit_cost
      |FROM cost c JOIN best b
      |  ON c.l_partkey = b.l_partkey AND c.unit_cost = b.min_cost
      |JOIN supplier ON c.l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY p_key, s_name""".stripMargin

  val qJoinRevenueByNationSql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
      |    / 10000.0 AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- semi/anti
  /** Left-semi join (EXISTS): orders having at least one deeply
    * discounted line item. */
  def qJoinSemi(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val disc = Tables.lineitem(s, d)
      .filter(col("l_discount") >= lit(0.08))
      .select(col("l_orderkey"))
    o.join(disc, o("o_orderkey") === disc("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val qJoinSemiSql: String =
    """SELECT o_orderkey, o_totalprice
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no high-value order.
    * (Every customer has some order in the harness data, so the anti
    * side is filtered to keep the result non-degenerate.) */
  def qJoinAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .filter(col("o_totalprice") > lit(300000.0))
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val qJoinAntiSql: String =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Bucketed co-located fact⋈fact join — THE 100 TB pattern for
    * repeated joins on one key: both sides written `bucketBy` the join
    * key, so the sort-merge join (and the groupBy on the same key)
    * runs with ZERO hash exchanges — each bucket pair joins where it
    * sits. The only exchange in the whole plan is the output orderBy
    * (IngestQueriesSpec asserts this). The `merge` hint pins SMJ so
    * bucketing, not a broadcast, is what eliminates the shuffle.
    * Oracle = the plain join off the unbucketed parquet. */
  def qBucketedJoin(s: SparkSession, d: String): DataFrame = {
    // ONE bucketed-table write per (process, scale dir) — table layout
    // is an artifact, like the IVF index; data lives in the scratch dir
    // (external tables), metadata in the session catalog
    val (liT, oT) = graft.BuildTimes.onceDir("bucketed_tables_write", d) { root =>
      // collision-resistant suffix: 32-bit String.hashCode could let
      // two scale dirs in one process overwrite each other's catalog
      // tables while the memo serves the stale name
      val suffix = java.security.MessageDigest.getInstance("SHA-256")
        .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      val liName = s"graft_li_bucketed_$suffix"
      val oName = s"graft_ord_bucketed_$suffix"
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$root/li").mode("overwrite").saveAsTable(liName)
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
        .write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$root/ord").mode("overwrite").saveAsTable(oName)
      (liName, oName)
    }
    val li = s.table(liT)
    val o = s.table(oT)
    li.join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_li"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy(col("l_orderkey"))
  }

  val qBucketedJoinSql: String =
    """SELECT l_orderkey, sum(l_quantity) AS sum_qty, count(*) AS n_li,
      |  max(o_totalprice) AS max_price
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey""".stripMargin

  // ---------------------------------------------------------------- §2.4 J+
  /** Full-outer join of two derived per-user aggregates: big-ticket
    * (value > 150) click spend vs big-ticket purchase spend. Users on
    * one side only survive with a NULL other side — the reconciliation
    * pattern behind coverage audits ("which users appear in stream A
    * but not B?"). The 150 threshold is what makes the harness data
    * actually exercise all three row classes (matched, left-only,
    * right-only) at sf0.001 and sf0.01 — unfiltered, every user has
    * every event type and a full outer degenerates to an inner.
    * Completes the join-type surface (inner / left / semi / anti /
    * as-of / bucketed already covered).
    *
    * Scale shape: both sides are partial-aggregated per-user frames
    * (map-side combine on the 100 TB event log), then one shuffle on
    * user_id for the full-outer merge — full outer cannot broadcast
    * (both sides must keep unmatched rows), so the co-partitioned SMJ
    * is the right 100 TB plan. Double sums round to 9 decimals on both
    * engines (COVERAGE.md float policy class 2). */
  def qJoinFullOuter(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("value"))
    def side(tpe: String, alias: String) =
      ev.filter(col("event_type") === tpe && col("value") > 150.0)
        .groupBy(col("user_id"))
        .agg(round(sum(col("value")), 9).as(alias), count(lit(1)).as(s"n_$alias"))
    val clicks = side("click", "click_value")
    val purchases = side("purchase", "purchase_value")
    clicks.join(purchases, Seq("user_id"), "full_outer")
      .orderBy(col("user_id"))
  }

  val qJoinFullOuterSql: String =
    """WITH c AS (
      |  SELECT user_id, round(sum(value), 9) AS click_value,
      |    count(*) AS n_click_value
      |  FROM events WHERE event_type = 'click' AND value > 150.0
      |  GROUP BY user_id
      |), p AS (
      |  SELECT user_id, round(sum(value), 9) AS purchase_value,
      |    count(*) AS n_purchase_value
      |  FROM events WHERE event_type = 'purchase' AND value > 150.0
      |  GROUP BY user_id
      |)
      |SELECT coalesce(c.user_id, p.user_id) AS user_id,
      |  c.click_value, c.n_click_value, p.purchase_value, p.n_purchase_value
      |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------ Q8 market share
  /** National market share (the TPC-H Q8 shape): within one region's
    * market for one part type, the share of revenue supplied by one
    * nation, per order year — the "who is winning this market"
    * competitive query, and the densest star in the suite (seven
    * tables).
    *
    * Scale shape: lineitem⋈orders is the only wide shuffle; part
    * (type-filtered), supplier, customer, and both nation/region
    * dimension chains broadcast. The share is a RATIO of two exact
    * integer revenue sums (cents × retained-discount hundredths,
    * conditional numerator via an integer CASE) accumulated in ONE
    * pass — one terminal division per year, bit-exact cross-engine
    * (class-2 integer-exact spelling; both moments carried in
    * DECIMAL(38,0)/HUGEINT so a 100 TB year-group cannot wrap the
    * 2⁶³ a BIGINT carry would hit near 10¹⁰ rows); no descale needed
    * since the 10⁴ factors cancel. A year with no focal-nation rows
    * reads share 0, not NULL. */
  def qMarketShare(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * lit(100)).cast("long") *
          (lit(100L) - round(col("l_discount") * lit(100)).cast("long")))
          .as("rev_i"))
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      year(col("o_orderdate")).as("o_year"))
    val p = Tables.part(s, d).filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
    val cn = Tables.nation(s, d)
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val r = Tables.region(s, d).filter(col("r_name") === "EUROPE")
      .select(col("r_regionkey"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    val sn = Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(cn), c("c_nationkey") === col("cn_key"))
      .join(broadcast(r), cn("n_regionkey") === r("r_regionkey"))
      .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(sn), sup("s_nationkey") === col("sn_key"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_19", col("rev_i"))
          .otherwise(lit(0L)).cast("decimal(38,0)")).as("num_i"),
        sum(col("rev_i").cast("decimal(38,0)")).as("den_i"))
      .select(col("o_year"),
        (col("num_i").cast("double") / col("den_i").cast("double"))
          .as("mkt_share"),
        (col("den_i").cast("double") / lit(10000.0)).as("volume"))
      .orderBy(col("o_year"))
  }

  val qMarketShareSql: String =
    """SELECT year(o_orderdate) AS o_year,
      |  CAST(sum(CASE WHEN sn.n_name = 'NATION_19' THEN rev_i ELSE 0 END)
      |       AS DOUBLE) / sum(rev_i) AS mkt_share,
      |  CAST(sum(rev_i) AS DOUBLE) / 10000.0 AS volume
      |FROM (SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT)
      |        * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_i
      |      FROM lineitem)
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |GROUP BY year(o_orderdate)
      |ORDER BY o_year""".stripMargin

  // ------------------------------------------------------ Q14 promo effect
  /** Promotion revenue share (the TPC-H Q14 shape) per ship year: the
    * percentage of revenue earned by promotional parts — the classic
    * conditional-aggregate-over-a-join KPI.
    *
    * Scale shape: ONE shuffle (lineitem⋈part is broadcast on the
    * dimension; the groupBy on the 7-value year key is partial-
    * aggregable). promo_pct is 100·(exact integer num)/(exact integer
    * den) — one multiply + one divide over exact inputs, bit-exact
    * cross-engine; both moments are DECIMAL(38,0)/HUGEINT so a ship
    * year holding >10¹⁰ fact rows (the 100 TB tier) cannot wrap a
    * 64-bit carry. */
  def qPromoShare(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), year(col("l_shipdate")).as("l_year"),
        (round(col("l_extendedprice") * lit(100)).cast("long") *
          (lit(100L) - round(col("l_discount") * lit(100)).cast("long")))
          .as("rev_i"))
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("l_year"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev_i")).otherwise(lit(0L))
          .cast("decimal(38,0)")).as("num_i"),
        sum(col("rev_i").cast("decimal(38,0)")).as("den_i"),
        count(lit(1)).as("n_items"))
      .select(col("l_year"),
        (lit(100.0) * col("num_i").cast("double") / col("den_i").cast("double"))
          .as("promo_pct"),
        col("n_items"))
      .orderBy(col("l_year"))
  }

  val qPromoShareSql: String =
    """SELECT year(l_shipdate) AS l_year,
      |  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_i ELSE 0 END)
      |              AS DOUBLE) / sum(rev_i) AS promo_pct,
      |  count(*) AS n_items
      |FROM (SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT)
      |        * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_i
      |      FROM lineitem)
      |JOIN part ON l_partkey = p_partkey
      |GROUP BY year(l_shipdate)
      |ORDER BY l_year""".stripMargin

  // ---------------------------------------------- Q17 small-quantity revenue
  /** Small-quantity-order revenue (the TPC-H Q17 shape): average
    * yearly revenue lost if orders under half a part's average
    * quantity were not taken — the correlated-scalar-subquery shape
    * (per-part average joined back against the same fact table).
    *
    * Scale shape: ONE fact scan (the Q21/Q18 discipline — the
    * textbook's correlated subquery would rescan lineitem for the
    * per-part profile): the brand's parts broadcast as a semi-filter,
    * then per-part exact integer (Σq, n) come from an unbounded
    * window over l_partkey — valid because the brand predicate is
    * PART-sided, so the filtered slice still contains every lineitem
    * of every surviving part, and the window partitions are bounded
    * by per-part lineitem multiplicity (~tens), no hub hazard. The
    * oracle replays the textbook two-pass CTE, so the hash gate is a
    * plan-equivalence proof. The threshold compare
    * `l_quantity < 0.5·(Σq/n)` is a double expression over exact
    * integers, deterministic cross-engine, so the qualifying ROW SET
    * is identical on both engines (the argmin/argmax IEEE-exactness
    * argument, Q2's discipline); the emitted sum is exact cents with
    * one terminal /700 (descale × 7-year horizon). */
  def qSmallQtyRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"),
        round(col("l_extendedprice") * lit(100)).cast("long").as("ec"))
    val p = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
      .select(col("p_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .withColumn("sq", sum(col("l_quantity").cast("long")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("l_quantity") <
        lit(0.5) * (col("sq").cast("double") / col("cnt")))
      .agg((sum(col("ec")).cast("double") / lit(700.0)).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  val qSmallQtyRevenueSql: String =
    """WITH pq AS (
      |  SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
      |    count(*) AS cnt
      |  FROM lineitem GROUP BY l_partkey
      |)
      |SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |    / 700.0 AS avg_yearly,
      |  count(*) AS n_small
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
      |JOIN pq USING (l_partkey)
      |WHERE l_quantity < 0.5 * (CAST(sq AS DOUBLE) / cnt)""".stripMargin

  // ------------------------------------------------- Q19 disjunctive filter
  /** Discounted revenue under a disjunction of brand/size/quantity
    * bands (the TPC-H Q19 shape): three OR'd conjunctive predicates
    * spanning both the fact and the dimension — the shape that
    * exercises an optimizer's disjunction handling (no single band is
    * pushable alone; the OR must evaluate post-join while each leg's
    * common prefix still prunes).
    *
    * Scale shape: part broadcasts (the only join); the predicate is
    * a pure row-local boolean over joined columns — no shuffle beyond
    * the single global aggregate. Revenue is the exact integer
    * `Σ ec·(100−dc)` carried in DECIMAL(38,0)/HUGEINT (a single
    * global group at 100 TB would wrap a BIGINT carry near 10¹⁰
    * rows) with one terminal /10⁴. */
  def qBandedRevenue(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"),
        (round(col("l_extendedprice") * lit(100)).cast("long") *
          (lit(100L) - round(col("l_discount") * lit(100)).cast("long")))
          .as("rev_i"))
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#11" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#21" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg((sum(col("rev_i").cast("decimal(38,0)")).cast("double")
          / lit(10000.0)).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val qBandedRevenueSql: String =
    """SELECT CAST(sum(rev_i) AS DOUBLE) / 10000.0 AS revenue,
      |  count(*) AS n_items
      |FROM (SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT)
      |        * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_i
      |      FROM lineitem)
      |JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ------------------------------------------------ Interval-overlap join
  /** Activity inside error-alert windows via [[graft.ops.IntervalJoin]]:
    * every `error` event opens a global half-open 10-minute window
    * `[ts, ts+10min)`; the join pairs EVERY event whose timestamp falls
    * inside a window with that window, then aggregates to one row per
    * incident (event count + cent-exact value total). The blast-radius
    * readout an on-call dashboard runs, and the canonical range-join
    * shape Spark plans as a BroadcastNestedLoopJoin when spelled
    * naively — which is exactly what the DuckDB oracle does (naive
    * theta join), so the hash gate is a plan-equivalence proof of the
    * bucketed rewrite.
    *
    * Scale shape: two scans of events, DELIBERATE — the incident side
    * reads (event_id, ts) with the `event_type = 'error'` filter pushed
    * to parquet, the probe side reads (ts, value); materializing one
    * shared frame would widen both scans to the union of their columns
    * and drop the pushed filter. The op replicates each interval into
    * ≤ 2 bucket copies (width = window length) and meets probe rows in
    * a shuffled equi-join on the time bucket; bucket cardinality grows
    * with the time span (4 320 at the harness month, millions at a
    * 100 TB year), so the shuffle spreads; a burst hour is an AQE
    * skew-join case, not a plan change. The post-join groupBy on
    * incident_id partial-aggregates map-side.
    *
    * Floats (class-1 integer-exact): window bounds and bucket indices
    * are exact epoch-micro longs; value totals are exact cent sums with
    * ONE terminal division, the [[qBandedRevenue]] discipline. */
  def qIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val probe = Tables.events(s, d)
      .select(unix_micros(col("ts")).as("t_us"),
        round(col("value") * lit(100)).cast("long").as("cents"))
    val inc = Tables.events(s, d)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"),
        unix_micros(col("ts")).as("start_us"),
        (unix_micros(col("ts")) + lit(600000000L)).as("end_us"))
    IntervalJoin.overlap(probe, "t_us", inc, "start_us", "end_us",
        keys = Nil, bucketWidth = 600000000L)
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("cents")).cast("double") / lit(100.0)).as("total_value"))
      .orderBy(col("incident_id"))
  }

  val qIntervalJoinSql: String =
    """WITH inc AS (
      |  SELECT event_id AS incident_id, epoch_us(ts) AS start_us,
      |    epoch_us(ts) + 600000000 AS end_us
      |  FROM events WHERE event_type = 'error'
      |)
      |SELECT i.incident_id, count(*) AS n_events,
      |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |    AS total_value
      |FROM inc i JOIN events e
      |  ON epoch_us(e.ts) >= i.start_us AND epoch_us(e.ts) < i.end_us
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interval_join" -> (qIntervalJoin _),
    "q_market_share" -> (qMarketShare _),
    "q_promo_share" -> (qPromoShare _),
    "q_small_qty_revenue" -> (qSmallQtyRevenue _),
    "q_banded_revenue" -> (qBandedRevenue _),
    "q_join_full_outer" -> (qJoinFullOuter _),
    "q_join_bucketed" -> (qBucketedJoin _),
    "q_join_median_fill" -> (qJoinMedianFill _),
    "q_join_revenue_by_nation" -> (qJoinRevenueByNation _),
    "q_customer_returns" -> (qCustomerReturns _),
    "q_supplier_wait" -> (qSupplierWait _),
    "q_big_orders" -> (qBigOrders _),
    "q_top_supplier_revenue" -> (qTopSupplierRevenue _),
    "q_cheapest_supplier" -> (qCheapestSupplier _),
    "q_priority_count" -> (qPriorityCount _),
    "q_custdist" -> (qCustdist _),
    "q_nation_volume" -> (qNationVolume _),
    "q_dormant_accounts" -> (qDormantAccounts _),
    "q_shipmode_priority" -> (qShipmodePriority _),
    "q_join_semi" -> (qJoinSemi _),
    "q_join_anti" -> (qJoinAnti _))

  val oracles: Map[String, String] = Map(
    "q_interval_join" -> qIntervalJoinSql,
    "q_market_share" -> qMarketShareSql,
    "q_promo_share" -> qPromoShareSql,
    "q_small_qty_revenue" -> qSmallQtyRevenueSql,
    "q_banded_revenue" -> qBandedRevenueSql,
    "q_join_full_outer" -> qJoinFullOuterSql,
    "q_join_bucketed" -> qBucketedJoinSql,
    "q_join_median_fill" -> qJoinMedianFillSql,
    "q_join_revenue_by_nation" -> qJoinRevenueByNationSql,
    "q_customer_returns" -> qCustomerReturnsSql,
    "q_supplier_wait" -> qSupplierWaitSql,
    "q_big_orders" -> qBigOrdersSql,
    "q_top_supplier_revenue" -> qTopSupplierRevenueSql,
    "q_cheapest_supplier" -> qCheapestSupplierSql,
    "q_priority_count" -> qPriorityCountSql,
    "q_custdist" -> qCustdistSql,
    "q_nation_volume" -> qNationVolumeSql,
    "q_dormant_accounts" -> qDormantAccountsSql,
    "q_shipmode_priority" -> qShipmodePrioritySql,
    "q_join_semi" -> qJoinSemiSql,
    "q_join_anti" -> qJoinAntiSql)
}

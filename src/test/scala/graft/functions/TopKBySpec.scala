package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class TopKBySpec extends SparkSpec {

  import spark.implicits._

  test("top_k_by == row_number window with the same tie-break") {
    val win = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expected = graft.Tables.orders(spark, sf001)
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
      .collect().toSeq
    val got = graft.queries.ExtraQueries.qTopkGrouped(spark, sf001)
      .collect().toSeq
    assert(got.nonEmpty && got == expected)
  }

  test("top_k_by plan: partial ObjectHashAggregate before the shuffle, no Window") {
    val plan = graft.queries.ExtraQueries.qTopkGrouped(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_top_k_by"), plan)
    assert(!plan.contains("Window"), s"must not fall back to a window sort:\n$plan")
  }

  test("ties break on smaller id regardless of input order") {
    val df = Seq(
      ("g", 5.0, 30L), ("g", 5.0, 10L), ("g", 5.0, 20L), ("g", 1.0, 1L))
      .toDF("g", "s", "id").repartition(7) // scramble partitioning
    val top = df.groupBy(col("g"))
      .agg(TopKBy.topKBy(col("s"), col("id"), 2).as("t"))
      .select(explode(col("t")).as("p"))
      .select(col("p.score"), col("p.id")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(top == Seq((5.0, 10L), (5.0, 20L)))
  }

  test("fewer rows than k, null scores/ids skipped, k=0") {
    val df = Seq(
      (Some(3.0), Some(7L)), (None, Some(8L)), (Some(4.0), None))
      .toDF("s", "id")
    val one = df.agg(TopKBy.topKBy(col("s"), col("id"), 5).as("t"))
      .select(explode(col("t")).as("p"))
      .select(col("p.score"), col("p.id")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(one == Seq((3.0, 7L)), s"null score/id rows must not rank: $one")
    val zero = df.agg(TopKBy.topKBy(col("s"), col("id"), 0).as("t"))
      .select(size(col("t"))).head().getInt(0)
    assert(zero == 0)
  }

  test("property: random inputs + arbitrary partition merges == sorted reference (30 seeded cases)") {
    val rnd = new scala.util.Random(11)
    (1 to 30).foreach { _ =>
      val k = 1 + rnd.nextInt(6)
      val n = rnd.nextInt(40)
      // small score space forces ties; ids unique
      val rows = (0 until n).map(i => (rnd.nextInt(5).toDouble, i.toLong))
      val expected = rows.sortBy { case (s, id) => (-s, id) }.take(k)
      // split into random partitions, heap each, merge in random order
      val parts = rows.grouped(1 + rnd.nextInt(5)).toSeq
      val bufs = parts.map { p =>
        val b = new TopKBuffer(k); p.foreach { case (s, id) => b.offer(s, id) }; b
      }
      val merged = rnd.shuffle(bufs).foldLeft(new TopKBuffer(k)) { (acc, b) =>
        (0 until b.size).foreach(i => acc.offer(b.scores(i), b.ids(i))); acc
      }
      assert(merged.sortedDesc.toSeq == expected,
        s"k=$k n=$n: ${merged.sortedDesc.toSeq} != $expected")
    }
  }

  test("NaN scores rank above every number, deterministically, matching the window form") {
    val df = Seq(
      ("g", Double.NaN, 1L), ("g", 5.0, 2L), ("g", 6.0, 3L), ("g", Double.NaN, 4L))
      .toDF("g", "s", "id").repartition(5)
    val top = df.groupBy(col("g"))
      .agg(TopKBy.topKBy(col("s"), col("id"), 3).as("t"))
      .select(explode(col("t")).as("p"))
      .select(col("p.score"), col("p.id")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSeq
    // Spark sorts NaN as greatest: window ORDER BY s DESC, id ASC gives
    // (NaN,1),(NaN,4),(6.0,3) — the heap must agree whatever the
    // partitioning/arrival order
    assert(top.map(_._2) == Seq(1L, 4L, 3L), s"got $top")
    assert(top(0)._1.isNaN && top(1)._1.isNaN && top(2)._1 == 6.0)
  }

  test("top_k_by is callable from spark.sql after registration") {
    Registry.registerAll(spark)
    graft.Tables.orders(spark, sf001).createOrReplaceTempView("orders_tk")
    val r = spark.sql(
      """SELECT o_orderpriority, top_k_by(o_totalprice, o_orderkey, 2) AS t
        |FROM orders_tk GROUP BY o_orderpriority""".stripMargin)
    assert(r.count() > 0)
    assert(r.select(explode(col("t"))).count() > 0)
  }
}

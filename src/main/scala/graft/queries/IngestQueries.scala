package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{BuildTimes, Tables}

/** Ingest-format operators (SURVEY.md §2.1 S1): the reference's ONLY
  * input path is a header'd CSV read with an explicit schema
  * (ipynb c5:1; `GsodPipeline.readCsv` is the GSOD-shaped twin). The
  * harness tables are parquet, so the CSV reader is exercised as a
  * round-trip: write a harness table to CSV, read it back with the
  * explicit schema — the oracle is the same projection off the parquet
  * original, so any quoting/parsing/type-coercion defect in either
  * direction breaks the hash match.
  */
object IngestQueries {

  /** CSV round-trip over `supplier` (bigint + string + int + double —
    * covers quoting and both numeric widths). Explicit schema on read:
    * no `inferSchema` double scan (SURVEY §4.3.4), exactly the
    * reference's discipline. At 100 TB the CSV scan parallelizes per
    * file split like any other source; schema-on-read keeps it one
    * pass. */
  def qCsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.supplier(s, d)
    // one staging write per (process, scale dir): the artifact under
    // test is the READ path
    val path = BuildTimes.onceDir("csv_staging_write", d) { p =>
      src.write.mode("overwrite").option("header", "true").csv(p)
      p
    }
    s.read.option("header", "true").schema(src.schema).csv(path)
      .orderBy(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
  }

  val qCsvRoundtripSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier
      |ORDER BY s_suppkey, s_name, s_nationkey, s_acctbal""".stripMargin

  /** Hive-style partitioned parquet: write lineitem partitioned by
    * return flag (the 100 TB table layout — one directory per key),
    * then aggregate one partition. The filter prunes at the DIRECTORY
    * level (`PartitionFilters` in the scan, asserted in
    * IngestQueriesSpec) — at scale the query reads 1/3 of the files
    * before a single row is decoded. Oracle = the same aggregate off
    * the unpartitioned original. */
  def qPartitionedScan(s: SparkSession, d: String): DataFrame = {
    val path = BuildTimes.onceDir("partitioned_lineitem_write", d) { dir =>
      val p = dir + "/lineitem"
      Tables.lineitem(s, d).write.partitionBy("l_returnflag").parquet(p)
      p
    }
    s.read.parquet(path)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_linestatus"))
  }

  val qPartitionedScanSql: String =
    """SELECT l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
      |FROM lineitem
      |WHERE l_returnflag = 'R'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** JSONL round-trip over `documents` — the interchange format LLM
    * corpora actually ship in (one JSON object per line). Write the
    * harness documents as JSON lines, read them back with an explicit
    * schema (same no-inference discipline as the CSV path: inference
    * would cost a second full pass at 100 TB), and hash against the
    * parquet original — any escaping/Unicode/quoting defect in either
    * direction breaks the match. JSONL splits per line like CSV, so
    * the scan parallelizes per file split. */
  def qJsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val path = BuildTimes.onceDir("jsonl_staging_write", d) { p =>
      src.write.mode("overwrite").json(p)
      p
    }
    s.read.schema(src.schema).json(path)
      .orderBy(col("doc_id"))
  }

  val qJsonlRoundtripSql: String =
    """SELECT doc_id, text, lang, source
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** ORC round-trip over `orders` — the other columnar format large
    * warehouses actually hold (Hive-era lakes are ORC; a 100 TB
    * migration reads ORC and writes parquet, so both directions must be
    * exact). Covers int64, double, string, AND timestamp — the type
    * whose epoch/zone conventions differ most across formats; the hash
    * against the parquet original catches any drift. ORC is a splittable
    * columnar source with predicate pushdown, so the scan parallelizes
    * per stripe like parquet. */
  def qOrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = Tables.orders(s, d)
    val path = BuildTimes.onceDir("orc_staging_write", d) { p =>
      src.write.mode("overwrite").orc(p)
      p
    }
    s.read.schema(src.schema).orc(path)
      .orderBy(col("o_orderkey"))
  }

  val qOrcRoundtripSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |       o_orderdate, o_orderpriority
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Schema evolution across table generations — the read-side reality
    * of a long-lived 100 TB table: files written before a column
    * existed sit next to files written after. Generation 1 (orders
    * with even keys) lacks `o_orderpriority`; generation 2 (odd keys)
    * carries it. `mergeSchema` reconciles the footers at planning time
    * — old files surface the missing column as NULL, no rewrite of
    * historical data. The generation directory doubles as a partition
    * column, so generation-targeted reads still prune. Oracle replays
    * the semantics directly off the source table (priority nulled for
    * gen-1 rows). */
  def qSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val src = Tables.orders(s, d)
    val path = BuildTimes.onceDir("schema_evolution_write", d) { dir =>
      val p = dir + "/orders"
      src.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.parquet(p + "/gen=1")
      src.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.parquet(p + "/gen=2")
      p
    }
    s.read.option("mergeSchema", "true").parquet(path)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"), col("gen").cast("int").as("gen"))
      .orderBy(col("o_orderkey"))
  }

  val qSchemaEvolutionSql: String =
    """SELECT o_orderkey, o_totalprice,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS gen
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_schema_evolution" -> (qSchemaEvolution _),
    "q_csv_roundtrip" -> (qCsvRoundtrip _),
    "q_jsonl_roundtrip" -> (qJsonlRoundtrip _),
    "q_orc_roundtrip" -> (qOrcRoundtrip _),
    "q_partitioned_scan" -> (qPartitionedScan _))

  val oracles: Map[String, String] = Map(
    "q_schema_evolution" -> qSchemaEvolutionSql,
    "q_csv_roundtrip" -> qCsvRoundtripSql,
    "q_jsonl_roundtrip" -> qJsonlRoundtripSql,
    "q_orc_roundtrip" -> qOrcRoundtripSql,
    "q_partitioned_scan" -> qPartitionedScanSql)
}

package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.storage.StorageLevel
import graft.gsod.{Clean, Features, GsodPipeline, GsodSchema, Train}

/** One workload: `inputs` makes a fresh seeded input set, `rep` is
  * one measured repetition over the latest set. Every repetition opens
  * the spans `cold`, `stage1` and `stage2`:
  *
  *   workload   cold                         stage1        stage2
  *   pipelines  GSOD pipeline + manifest     GSOD pipeline release manifest
  *   board      cold pass (builds)           warm serve    warm gates
  *
  * (board: `stage1` and `stage2` sum three warm passes.)
  */
trait Workload {
  def inputs(r: Run): Unit
  def rep(r: Run): Unit
}

/** graft's two real pipelines, each run once per repetition and cold:
  *
  *  - GSOD: `GsodPipeline.prepare`, the missing-value check,
  *    `Features.featurize`, the seeded split, a linear-regression fit
  *    and its evaluation, on a seeded GSOD-shaped frame;
  *  - release: the certified release manifest (`q_corpus_release`)
  *    from raw documents to shards, over a 2× `Soak.scaledDocs` corpus
  *    of the seeded documents written to a dir of its own, so the
  *    process-wide manifest memo keyed by dir cannot serve it. */
final class Pipelines(stations: Int, days: Int, docs: Int, scale: Int) extends Workload {
  private var raw: DataFrame = _
  private var dir: String = _

  /** Time a call into graft plus the materialization of the frame it
    * returns, split into build, plan and exec. */
  private def materialize(r: Run)(df: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val d = df
    val t1 = System.nanoTime()
    d.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val cut = d.persist(StorageLevel.MEMORY_AND_DISK)
    cut.count()
    val t3 = System.nanoTime()
    r.trace.foreach(_.addSplit(((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)))
    cut
  }

  /** A call into graft that runs its own jobs: all of it is build. */
  private def call[T](r: Run)(body: => T): T = {
    val t0 = System.nanoTime()
    val v = body
    r.trace.foreach(_.addSplit(((System.nanoTime() - t0) / 1e9, 0.0, 0.0)))
    v
  }

  private def step[T](r: Run, name: String)(body: => T): Option[T] =
    r.attempt(name) {
      val t0 = System.nanoTime()
      val v = r.span("stage1")(body)
      r.ops += (System.nanoTime() - t0) / 1e9
      v
    }

  private def gsod(r: Run, raw: DataFrame): Unit = {
    val frame = step(r, "gsod.prepare")(materialize(r)(GsodPipeline.prepare(raw)._1))
    frame.foreach { f =>
      step(r, "gsod.verify") {
        call(r)(Clean.missingCountMap(f, GsodSchema.numericColumns.filter(f.columns.contains)))
      }.foreach(m => r.check(m.nonEmpty && m.values.forall(_ == 0L), s"gsod missing after prepare: $m"))
      step(r, "gsod.featurize")(materialize(r)(Features.featurize(f)._1)).foreach { fz =>
        val (train, test) = Train.split(fz)
        step(r, "gsod.fit")(call(r)(Train.linearRegression(train))).foreach { lr =>
          step(r, "gsod.evaluate")(call(r)(Train.evaluateRegression(lr.transform(test))))
            .foreach(m => r.check(m.r2 >= 0.88 && m.r2 <= 0.98,
              s"gsod lr_r2=${m.r2} outside the reference band 0.88..0.98"))
        }
      }
    }
  }

  private def manifest(r: Run, q: String, dir: String): Unit =
    r.query(q, "stage2", dir, collect = true).foreach { case (t, rows) =>
      r.ops += t
      val stages = rows.map(x => x.getAs[String]("stage") -> x.getAs[Long]("docs_out")).toMap
      r.check(rows.length == 11, s"$q has ${rows.length} stage rows, want 11")
      r.check(stages.get("pack").exists(_ > 0), s"$q pack stage is empty: $stages")
    }

  def inputs(r: Run): Unit = {
    if (raw != null) raw.unpersist(blocking = true)
    val docsDir = r.freshDir("docs")
    Gen.documents(r.spark, docsDir, r.seed, docs)
    dir = r.freshDir("release")
    graft.bench.Soak.scaledDocs(r.spark, docsDir, scale)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    raw = Gen.gsod(r.spark, stations, days, r.seed).persist(StorageLevel.MEMORY_AND_DISK)
    raw.count()
  }

  def rep(r: Run): Unit = {
    val keep = r.persistentIds
    r.span("cold") {
      // the steps hand each other cached frames: no cache clearing in between
      r.leaks("stage1")(gsod(r, raw))
      manifest(r, "q_corpus_release", dir)
    }
    r.release(keep)
  }
}

/** A fixed query list run over a freshly written seeded table set: one
  * cold pass (it pays the artifact builds, whose memos are keyed by the
  * table dir), then three warm passes over the same dir (they read the
  * memos). The seed sets the query order. */
final class Board(names: Seq[String], scale: Gen.Scale) extends Workload {
  private var dir: String = _
  private var order: Seq[String] = names

  private def pass(r: Run, warm: Boolean): Unit =
    order.foreach { q =>
      val gate = Board.isGate(q)
      val span = if (!warm) "cold" else if (gate) "stage2" else "stage1"
      r.query(q, span, dir, collect = gate).foreach { case (t, rows) =>
        if (warm && !gate) r.ops += t
        if (gate) Board.checkGate(r, q, rows)
      }
    }

  def inputs(r: Run): Unit = {
    dir = r.freshDir("tables")
    Gen.tables(r.spark, dir, r.seed, scale)
    order = new scala.util.Random(r.seed).shuffle(names)
  }

  def rep(r: Run): Unit = {
    val keep = r.persistentIds
    pass(r, warm = false)
    // three warm passes: the warm queries are short, so one pass is too
    // few samples to hold their sums and median steady
    (1 to 3).foreach(_ => pass(r, warm = true))
    r.release(keep)
  }
}

object Board {
  def isGate(q: String): Boolean = q.endsWith("_bounds")

  /** A `_bounds` gate passes when it returns rows and every boolean
    * cell of every row (`within_bounds`, or one column per check) is
    * true. */
  def checkGate(r: Run, q: String, rows: Array[Row]): Unit = {
    def bad = rows.flatMap { row =>
      row.schema.fields.collect {
        case f if f.dataType == BooleanType && (row.isNullAt(row.fieldIndex(f.name)) ||
            !row.getAs[Boolean](f.name)) => s"${f.name} in $row"
      }
    }
    r.check(rows.nonEmpty && rows.head.schema.exists(_.dataType == BooleanType) && bad.isEmpty,
      s"$q: ${if (rows.isEmpty) "no rows" else bad.mkString(", ")}")
  }
}

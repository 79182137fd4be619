package graft.bench

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench

/** Unit coverage of Bench's contention-accounting math — no Spark. */
class BenchSpec extends AnyFunSuite {

  test("runSpread: two successful runs yield max/min") {
    assert(Bench.runSpread(Seq(2.0, 4.0)).contains(2.0))
    assert(Bench.runSpread(Seq(4.0, 2.0)).contains(2.0))
    assert(Bench.runSpread(Seq(3.0, 3.0)).contains(1.0))
  }

  test("runSpread: a lone successful run carries no contention signal") {
    assert(Bench.runSpread(Seq(3.0, -1.0)).isEmpty)
    assert(Bench.runSpread(Seq(-1.0, 3.0)).isEmpty)
    assert(Bench.runSpread(Seq(-1.0, -1.0)).isEmpty)
    assert(Bench.runSpread(Seq.empty).isEmpty)
  }

  test("runSpread: sub-millisecond floors are excluded, not inflated") {
    // the old math.max(min, 1e-9) floor turned a 0.5ms/10ms pair into a
    // 20× spread; such samples are scheduler noise and must be dropped
    assert(Bench.runSpread(Seq(0.0005, 0.010)).isEmpty)
    assert(Bench.runSpread(Seq(0.0, 5.0)).isEmpty)
    // at or above 1ms the ratio is admissible
    assert(Bench.runSpread(Seq(0.002, 0.004)).contains(2.0))
  }

  test("tally: a failed query is listed, never silently shrinks the total") {
    val (total, failed) =
      Bench.tally(Seq("q_b" -> 2.0, "q_z" -> -1.0, "q_a" -> 1.5, "q_c" -> -1.0))
    assert(total == 3.5)
    assert(failed == Seq("q_c", "q_z"))
    assert(Bench.tally(Seq("q_a" -> 1.0)) == ((1.0, Seq.empty)))
    assert(Bench.tally(Seq.empty) == ((0.0, Seq.empty)))
  }

  test("contentionHint: median of admissible spreads, ignoring excluded queries") {
    val spreads = Seq(Some(1.2), None, Some(1.0), Some(3.0), None)
    assert(Bench.contentionHint(spreads) == 1.2)
    assert(Bench.contentionHint(Seq(None, None)) == -1.0)
    assert(Bench.contentionHint(Seq.empty) == -1.0)
    assert(Bench.contentionHint(Seq(Some(1.5))) == 1.5)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{JaroWinklerAlgo, Registry, StringSimilarity}

/** Canonical Jaro–Winkler vectors (Winkler '90 / the census
  * comparator literature) + expression-level semantics. */
class StringSimilaritySpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    JaroWinklerAlgo.similarity(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("canonical literature vectors") {
    // MARTHA/MARHTA: m=6, t=1, jaro=(1+1+5/6)/3, l=3
    val jaroMartha = (1.0 + 1.0 + 5.0 / 6.0) / 3.0
    assert(jw("MARTHA", "MARHTA") == jaroMartha + 3 * 0.1 * (1 - jaroMartha))
    // DWAYNE/DUANE: m=4, t=0, jaro=(4/6+4/5+1)/3, l=1
    val jaroDwayne = (4.0 / 6 + 4.0 / 5 + 1.0) / 3.0
    assert(jw("DWAYNE", "DUANE") == jaroDwayne + 1 * 0.1 * (1 - jaroDwayne))
    // DIXON/DICKSONX: m=4, t=0, jaro=(4/5+4/8+1)/3, l=2
    val jaroDixon = (4.0 / 5 + 4.0 / 8 + 1.0) / 3.0
    assert(jw("DIXON", "DICKSONX") == jaroDixon + 2 * 0.1 * (1 - jaroDixon))
  }

  test("identity, disjoint, and empty edges") {
    assert(jw("hello", "hello") == 1.0)
    assert(jw("abc", "xyz") == 0.0)
    assert(jw("", "") == 1.0)
    assert(jw("abc", "") == 0.0)
    assert(jw("", "abc") == 0.0)
  }

  test("symmetry") {
    for ((a, b) <- Seq(("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"),
        ("large widget", "lagre widgt")))
      assert(jw(a, b) == jw(b, a), s"asymmetric for $a/$b")
  }

  test("ASCII byte path agrees with an independent char-loop reference") {
    // reference: the textbook char-array formulation, written fresh so
    // a bug in the kernel's byte path can't hide in shared code
    def ref(s: String, t: String): Double = {
      val (la, lb) = (s.length, t.length)
      if (la == 0 && lb == 0) return 1.0
      if (la == 0 || lb == 0) return 0.0
      val window = math.max(0, math.max(la, lb) / 2 - 1)
      val sm = Array.fill(la)(false); val tm = Array.fill(lb)(false)
      var m = 0
      for (i <- 0 until la) {
        var j = math.max(0, i - window)
        var found = false
        while (j <= math.min(lb - 1, i + window) && !found) {
          if (!tm(j) && s(i) == t(j)) { sm(i) = true; tm(j) = true; m += 1; found = true }
          j += 1
        }
      }
      if (m == 0) return 0.0
      var ht = 0; var k = 0
      for (i <- 0 until la if sm(i)) {
        while (!tm(k)) k += 1
        if (s(i) != t(k)) ht += 1
        k += 1
      }
      val jaro = (m.toDouble / la + m.toDouble / lb + (m - ht / 2.0) / m) / 3.0
      val p = (0 until math.min(4, math.min(la, lb)))
        .takeWhile(i => s(i) == t(i)).size
      jaro + p * 0.1 * (1.0 - jaro)
    }
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefgh "
    def word() = (0 to rnd.nextInt(12)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    for (_ <- 1 to 500) {
      val (a, b) = (word(), word())
      assert(jw(a, b) == ref(a, b), s"byte path diverged on '$a'/'$b'")
      // same pair pushed onto the non-ASCII fallback (é in both) must
      // track the reference on the extended strings too
      val (a2, b2) = (a + "é", b + "é")
      assert(jw(a2, b2) == ref(a2, b2), s"char path diverged on '$a2'/'$b2'")
    }
    // mixed-path pair (one side ASCII, one not) routes the fallback
    assert(jw("café", "cafe") == ref("café", "cafe"))
  }

  test("expression evaluates through codegen and SQL, null-safe") {
    import spark.implicits._
    Registry.registerAll(spark)
    val df = Seq(("MARTHA", "MARHTA"), (null, "x"), ("x", null))
      .toDF("a", "b")
      .select(StringSimilarity.jaroWinkler(col("a"), col("b")).as("s"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == jw("MARTHA", "MARHTA"))
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
    val viaSql = spark.sql(
      "SELECT jaro_winkler('DWAYNE', 'DUANE')").head().getDouble(0)
    assert(viaSql == jw("DWAYNE", "DUANE"))
  }
}

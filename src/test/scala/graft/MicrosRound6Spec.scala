package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Search

/** [[Search.micros6]] — the BigDecimal-free fast path for
  * `(round(x, 6) * 1e6 + 0.5).cast(long)` — must be VALUE-IDENTICAL
  * to that reference expression everywhere; negative inputs take the
  * BigDecimal branch, whose cast truncates toward zero where the fast
  * path's floor would not. The sweep concentrates on the only place
  * the fast path could diverge: the half-up tie neighborhood (x·1e6
  * near N + 0.5), including exact binary-fraction ties, the ±1e-3
  * guard-band edges, and the large-x region where the fast path must
  * defer to the BigDecimal branch (x·1e6 ≥ 1e10).
  */
class MicrosRound6Spec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(xs: Seq[Double], label: String): Unit = {
    val bad = xs.toDF("x")
      .select(col("x"), Search.micros6(col("x")).as("fast"),
        (round(col("x"), 6) * 1e6 + 0.5).cast("long").as("ref"))
      .filter(not(col("fast") <=> col("ref")))
      .collect()
    assert(bad.isEmpty,
      s"$label: micros6 != reference on ${bad.length} values, e.g. " +
        bad.take(5).map(r => s"x=${r.getDouble(0)} fast=${r.get(1)} " +
          s"ref=${r.get(2)}").mkString("; "))
  }

  test("tie neighborhood: dense offsets around every half-up boundary") {
    // offsets span: exact tie, inside the guard band, the band edges,
    // and far outside — for micro boundaries across the magnitude range
    val offs = Seq(0.0, 1e-12, 1e-9, 1e-7, 1e-5, 1e-4, 5e-4, 9e-4,
      1.1e-3, 2e-3, 0.01, 0.1, 0.49)
    val micros = Seq(0L, 1L, 7L, 999L, 7812L, 123456L, 999999L,
      1000000L, 987654321L, 9999999999L)
    val xs = for {
      n <- micros; o <- offs; s <- Seq(1.0, -1.0)
      v = (n + 0.5 + s * o) / 1e6 if v >= 0.0
    } yield v
    check(xs, "tie sweep")
  }

  test("exact binary-fraction ties (x*1e6 exactly N + 0.5)") {
    // x = m/128 has x*1e6 = m*7812.5 — an EXACT half-integer micro
    // value, the hardest case for any double shortcut
    check((1 to 200).map(m => m / 128.0), "binary ties")
    check((1 to 200).map(m => m / 2048.0), "binary ties 2^-11")
  }

  test("exact 6dp values and integers") {
    check((0 to 2000).map(n => n / 1e6), "exact 6dp")
    check((0 to 50).map(n => n.toDouble), "integers")
  }

  test("pseudorandom doubles across the domain, incl. the large-x fallback") {
    val rnd = new scala.util.Random(4242L)
    val xs = Seq.fill(20000)(rnd.nextDouble()) ++
      Seq.fill(20000)(rnd.nextDouble() * 1e3) ++
      Seq.fill(10000)(rnd.nextDouble() * 1e5) ++          // fast-path cap
      Seq.fill(10000)(1e4 + rnd.nextDouble() * 1e9) ++    // fallback region
      Seq.fill(5000)(-rnd.nextDouble() * 1e3)             // negatives
    check(xs, "random")
  }

  test("null propagates") {
    val r = Seq[Option[Double]](None, Some(1.25)).toDF("x")
      .select(Search.micros6(col("x")).as("m")).collect()
    assert(r.exists(_.isNullAt(0)) && r.exists(!_.isNullAt(0)))
  }

  test("score-mass canary: max per-(q,doc) micro sum far below 2^53") {
    // Search's long-micro accumulation is exact only while a group's
    // micro sum stays under 2^53 (the documented contract). The max
    // group sum in the whole corpus IS the max top-1 score, which the
    // ranker output carries — so this asserts the real margin and
    // fails loudly on a scale-up long before a silent wrap.
    Seq("q_bm25", "q_tfidf_cosine").foreach { q =>
      val mx = SparkEntry.queries(q)(spark, TestSpark.sfDir)
        .agg(max(col("score"))).head().getDouble(0)
      assert(mx * 1e6 < (1L << 53) / 1e3.toDouble,
        s"$q max score $mx leaves under 1000x headroom to 2^53 micros")
    }
  }
}

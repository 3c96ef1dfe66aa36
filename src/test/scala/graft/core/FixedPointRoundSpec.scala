package graft.core

import graft.SparkTestSession
import graft.queries.Queries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The q_q1 sum_charge rendering (r16 ADVICE fix): the exact e-10-dollar
  * fixed-point total must HALF_UP-round to cents exactly ONCE. The
  * formulation it replaces — `round(total(decimal(38,0)) * 1e-10, 2)` —
  * has product precision 49, so Spark's allowPrecisionLoss adjustment
  * coerces it to decimal(38,6), HALF_UP-rounding to 6 fractional digits
  * BEFORE round(_, 2): a data-dependent 1-cent divergence from the
  * oracle's single `ROUND(SUM(decimal(36,10)), 2)`.
  */
class FixedPointRoundSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val unitE10 = lit(new java.math.BigDecimal("0.0000000001"))

  /** The oracle's rounding: exact decimal, one scale-2 HALF_UP. */
  private def halfUp(e10: Long): Double =
    java.math.BigDecimal.valueOf(e10, 10).setScale(2, java.math.RoundingMode.HALF_UP).doubleValue

  private def rendered(totals: Seq[Long]): Seq[Double] =
    totals.toDF("e10").select(Queries.centsHalfUp(col("e10").cast("decimal(38,0)")))
      .collect().map(_.getDouble(0)).toSeq

  test("the q_q1 charge rendering rounds ONCE at scale 2, incl. the double-round boundary") {
    val cases = Seq(
      1000049999950L -> 100.00, // the ADVICE counterexample (old path: 100.01)
      1000050000000L -> 100.01, // exactly half a cent → HALF_UP bumps
      1000049999999L -> 100.00, // just under half a cent
      999999999999L -> 100.00, // 99.9999999999 → rounds UP across the integer
      1234560000000L -> 123.46,
      0L -> 0.0,
      49999999L -> 0.0, // 0.0049999999 → 0.00
      50000000L -> 0.01) // 0.0050000000 exactly → 0.01
    val got = rendered(cases.map(_._1))
    assert(got == cases.map(_._2), s"got $got")
    assert(got == cases.map(c => halfUp(c._1)))
  }

  test("negative totals round HALF_UP (away from zero) like the oracle, exact halves included") {
    val totals = Seq(
      -50000000L, // -0.0050000000 exactly → -0.01 (half toward +∞ would give 0.00)
      -49999999L, // → -0.00
      -50000001L, // → -0.01
      -1000050000000L, // -100.0050000000 → -100.01
      -1000049999999L, // → -100.00
      -1000049999950L, // → -100.00
      -999999999999L, // → -100.00
      -1234550000000L, // -123.455 → -123.46
      -150000000L, // -0.015 → -0.02
      -1L)
    val got = rendered(totals)
    assert(got == totals.map(halfUp), s"got $got")
    assert(got.take(4) == Seq(-0.01, 0.0, -0.01, -100.01))
  }

  test("the replaced round(total * 1e-10, 2) formulation really double-rounds at the boundary") {
    val df = Seq(1000049999950L).toDF("e10")
    val old = df.select(
      round(col("e10").cast("decimal(38,0)") * unitE10, 2).cast("double"))
      .head().getDouble(0)
    // exact total 100.0049999950: one scale-2 HALF_UP gives 100.00; the
    // decimal(38,6) coercion gives 100.005000 first, then 100.01 — the
    // divergence class the q_q1 lane must never reproduce
    assert(old == 100.01, s"expected the double-round artifact, got $old")
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 74: curvature + rate comparison — a
  * QUADRATIC TREND fit of the daily order series by closed-form
  * normal equations (is growth accelerating? m5/m121 fit lines,
  * m22 monotone steps; the t² coefficient is the question "linear or
  * bending?" answered exactly), and the POISSON RATE TEST (are
  * orders/day equal across the two calendar eras? the conditional
  * binomial form: given N total events, N₁ ~ Bin(N, d₁/(d₁+d₂))
  * under H₀ — the standard exact-family test for comparing event
  * rates). The 3×3 normal system is solved SYMBOLICALLY by Cramer's
  * rule over nine exact integer sums (Σt⁴ ≈ 8e16 stays far inside
  * BIGINT because the calendar is fixed); the rate test is integer
  * counts + one shared z formula.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.13 (statistics), siblings m5/m121/m146.
  */
object SurfaceR10bv extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- M157: quadratic trend ----

  private def det3(a: String, b: String, c: String,
      d: String, e: String, f: String,
      g: String, h: String, i: String): String =
    s"(CAST($a AS DOUBLE) * (CAST($e AS DOUBLE) * $i - CAST($f AS DOUBLE) * $h) - " +
      s"CAST($b AS DOUBLE) * (CAST($d AS DOUBLE) * $i - CAST($f AS DOUBLE) * $g) + " +
      s"CAST($c AS DOUBLE) * (CAST($d AS DOUBLE) * $h - CAST($e AS DOUBLE) * $g))"

  private val qD = det3("n", "st", "st2", "st", "st2", "st3", "st2", "st3", "st4")
  private val qA = det3("sy", "st", "st2", "sty", "st2", "st3", "st2y", "st3", "st4")
  private val qB = det3("n", "sy", "st2", "st", "sty", "st3", "st2", "st2y", "st4")
  private val qC = det3("n", "st", "sy", "st", "st2", "sty", "st2", "st3", "st2y")
  private val cA = s"($qA / $qD)"
  private val cB = s"($qB / $qD)"
  private val cC = s"($qC / $qD)"
  private val sseQ =
    s"(CAST(syy AS DOUBLE) - $cA * sy - $cB * sty - $cC * st2y)"
  private val sseL =
    "((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) - " +
      "(CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n) * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n) / (CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * st / n))"

  /** M157: QUADRATIC TREND — y = a + b·t + c·t² by exact normal
    * equations (nine BIGINT sums, symbolic Cramer solve), with the
    * SSE of the quadratic vs the straight line (how much does the
    * bend explain?). One hash agg over the bounded daily table. */
  val m157QuadraticTrend: Q = (s, d) =>
    daily(s, d).agg(
      count(lit(1)).as("n"),
      sum("t").as("st"),
      sum(expr("t * t")).as("st2"),
      sum(expr("t * t * t")).as("st3"),
      sum(expr("t * t * t * t")).as("st4"),
      sum("y").as("sy"),
      sum(expr("t * y")).as("sty"),
      sum(expr("t * t * y")).as("st2y"),
      sum(expr("y * y")).as("syy"))
      .select(col("n").as("n_days"),
        r4(expr(cA)).as("intercept"),
        r4(expr(cB)).as("slope"),
        expr(s"CAST(floor($cC * 1e7 + 5e-1) AS BIGINT)").as("curvature_e7"),
        r4(expr(sseQ)).as("sse_quad"),
        r4(expr(sseL)).as("sse_linear"),
        r4(expr(s"1e0 - $sseQ / $sseL")).as("r2_gain"))

  // ---- M158: Poisson rate test ----

  private val prP = "(CAST(d1 AS DOUBLE) / (d1 + d2))"
  private val prZ =
    s"((n1 - (n1 + n2) * $prP) / sqrt((n1 + n2) * $prP * (1e0 - $prP)))"
  private val prPv = s"(2e0 / (1e0 + exp(1702e-3 * abs($prZ))))"

  /** M158: POISSON RATE TEST — era 1 (days < 1277) vs era 2: given
    * the combined count, is era 1's share consistent with its share
    * of calendar days? Exact integer counts and day spans; z and the
    * logistic-Φ p (m125 precedent) in one shared formula. Day spans
    * are OBSERVED days with orders, so sparse fixtures stay honest. */
  val m158PoissonRateTest: Q = (s, d) =>
    daily(s, d)
      .select(col("y"), when(col("t") < 1277, 1L).otherwise(0L).as("e1"))
      .agg(
        sum(when(col("e1") === 1, col("y")).otherwise(0L)).as("n1"),
        sum(when(col("e1") === 0, col("y")).otherwise(0L)).as("n2"),
        sum(col("e1")).as("d1"),
        sum(lit(1L) - col("e1")).as("d2"))
      .select(col("n1"), col("n2"), col("d1"), col("d2"),
        r4(expr("CAST(n1 AS DOUBLE) / d1")).as("rate1"),
        r4(expr("CAST(n2 AS DOUBLE) / d2")).as("rate2"),
        r4(expr(prZ)).as("z"),
        r4(expr(prPv)).as("p_approx"))

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m157_quadratic_trend" -> m157QuadraticTrend,
    "m158_poisson_rate_test" -> m158PoissonRateTest)

  val oracleSql: Map[String, String] = Map(
    "m157_quadratic_trend" ->
      s"""WITH daily AS ($dailySql),
        |sums AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) AS st,
        |    CAST(sum(t * t) AS BIGINT) AS st2,
        |    CAST(sum(t * t * t) AS BIGINT) AS st3,
        |    CAST(sum(t * t * t * t) AS BIGINT) AS st4,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(t * y) AS BIGINT) AS sty,
        |    CAST(sum(t * t * y) AS BIGINT) AS st2y,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM daily)
        |SELECT n AS n_days,
        |  round($cA, 4) AS intercept,
        |  round($cB, 4) AS slope,
        |  CAST(floor($cC * 1e7 + 5e-1) AS BIGINT) AS curvature_e7,
        |  round($sseQ, 4) AS sse_quad,
        |  round($sseL, 4) AS sse_linear,
        |  round(1e0 - $sseQ / $sseL, 4) AS r2_gain
        |FROM sums""".stripMargin,
    "m158_poisson_rate_test" ->
      s"""WITH daily AS ($dailySql),
        |sums AS (
        |  SELECT
        |    CAST(sum(CASE WHEN t < 1277 THEN y ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN t >= 1277 THEN y ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN t < 1277 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN t >= 1277 THEN 1 ELSE 0 END) AS BIGINT) AS d2
        |  FROM daily)
        |SELECT n1, n2, d1, d2,
        |  round(CAST(n1 AS DOUBLE) / d1, 4) AS rate1,
        |  round(CAST(n2 AS DOUBLE) / d2, 4) AS rate2,
        |  round($prZ, 4) AS z,
        |  round($prPv, 4) AS p_approx
        |FROM sums""".stripMargin)
}

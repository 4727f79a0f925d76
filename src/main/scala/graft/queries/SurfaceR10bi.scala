package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables, Windows}

/** Round-10 surface batch 61: OLS diagnostics the m121/m97 regression
  * stack was missing — the BREUSCH–PAGAN heteroskedasticity test (does
  * residual variance drift with the regressor? the assumption every
  * OLS standard error rests on) and the CHOW structural-break test
  * (did the trend CHANGE at a known date? the F-test form of "did the
  * regime shift"). Both follow the m121 discipline: closed-form OLS
  * from exact integer sums, residuals quantized to integers before
  * squaring, and any sum whose addition order an engine could pick is
  * either exact BIGINT or an ORDERED nonnegative cumsum whose running
  * max is the total (order pinned on both engines).
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.13 (statistics), siblings m121/m97/lt36.
  */
object SurfaceR10bi extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // Closed-form OLS of y on t from five exact sums (m121 idiom).
  private val olsB =
    "((n * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy) / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st))"
  private val olsA = s"((CAST(sy AS DOUBLE) - $olsB * st) / n)"
  private val olsE = s"(CAST(y AS DOUBLE) - $olsA - $olsB * t)"
  private val olsEq = s"CAST(floor($olsE * 1e4 + 0.5) AS BIGINT)"

  // ---- M145: Breusch–Pagan ----

  private val bpR2 =
    "((n * stu - CAST(st AS DOUBLE) * su) * (n * stu - CAST(st AS DOUBLE) * su) / ((n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) * (n * suu - su * su)))"
  private val bpStat = s"(CAST(n AS DOUBLE) * $bpR2)"
  private val bpP = s"(2.0 / (1.0 + exp(1.702 * sqrt($bpStat))))"

  /** M145: BREUSCH–PAGAN (Koenker form) — regress the SQUARED OLS
    * residual u = e² on the day index; BP = n·R² ~ χ²(1) under
    * homoskedasticity. u is an exact integer (quantized residual
    * squared); Σu, Σt·u, Σu² are ordered nonnegative cumsums (max =
    * total, so the doubles are order-pinned even where u² would
    * overflow BIGINT at large SF); p via the shared logistic-Φ
    * closed form (m125 precedent, stated approximation). */
  val m145BreuschPagan: Q = (s, d) => {
    val dl = daily(s, d)
    val sums = dl.agg(count(lit(1)).as("n"), sum("t").as("st"),
      sum("y").as("sy"), sum(expr("t * t")).as("stt"),
      sum(expr("t * y")).as("sty"))
    val resid = dl.crossJoin(broadcast(sums))
      .select(col("t"), col("n"), col("st"), col("stt"),
        expr(s"$olsEq * $olsEq").as("u"))
    val wCum = Windows.bounded(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    resid
      .withColumn("csu", sum(col("u").cast("double")).over(wCum))
      .withColumn("cstu", sum((col("t") * col("u")).cast("double")).over(wCum))
      .withColumn("csuu",
        sum((col("u").cast("double") * col("u").cast("double"))).over(wCum))
      .groupBy("n", "st", "stt")
      .agg(max("csu").as("su"), max("cstu").as("stu"), max("csuu").as("suu"))
      .select(col("n").as("n_days"),
        r4(expr(bpR2)).as("r2_aux"),
        r4(expr(bpStat)).as("bp"),
        r4(expr(bpP)).as("p_approx"))
  }

  // ---- M146: Chow test ----

  /** Centered SSR of the per-segment closed-form OLS fit. */
  private def ssr(p: String): String =
    s"((CAST(syy$p AS DOUBLE) - CAST(sy$p AS DOUBLE) * sy$p / n$p) - " +
      s"(CAST(sty$p AS DOUBLE) - CAST(st$p AS DOUBLE) * sy$p / n$p) * (CAST(sty$p AS DOUBLE) - CAST(st$p AS DOUBLE) * sy$p / n$p) / (CAST(stt$p AS DOUBLE) - CAST(st$p AS DOUBLE) * st$p / n$p))"
  private def slope(p: String): String =
    s"((n$p * CAST(sty$p AS DOUBLE) - CAST(st$p AS DOUBLE) * sy$p) / (n$p * CAST(stt$p AS DOUBLE) - CAST(st$p AS DOUBLE) * st$p))"
  private val chowF =
    s"(((${ssr("0")} - ${ssr("1")} - ${ssr("2")}) / 2.0) / ((${ssr("1")} + ${ssr("2")}) / (n0 - 4.0)))"

  /** M146: CHOW TEST — is the daily order trend the same line before
    * and after 1995-07-01 (day 1277)? Pooled and per-segment SSRs are
    * closed forms over EXACT integer sums gathered in ONE conditional-
    * aggregate pass; F = ((SSR_p−SSR₁−SSR₂)/2)/((SSR₁+SSR₂)/(n−4)).
    * The break flag compares F to the asymptotic 5% critical value
    * 3.0 of F(2,∞). */
  val m146ChowTest: Q = (s, d) => {
    val dl = daily(s, d)
    def seg(pred: org.apache.spark.sql.Column, p: String) = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"n$p"),
      sum(when(pred, col("t")).otherwise(0L)).as(s"st$p"),
      sum(when(pred, col("y")).otherwise(0L)).as(s"sy$p"),
      sum(when(pred, col("t") * col("t")).otherwise(0L)).as(s"stt$p"),
      sum(when(pred, col("t") * col("y")).otherwise(0L)).as(s"sty$p"),
      sum(when(pred, col("y") * col("y")).otherwise(0L)).as(s"syy$p"))
    val aggs = seg(lit(true), "0") ++ seg(col("t") < 1277, "1") ++
      seg(col("t") >= 1277, "2")
    dl.agg(aggs.head, aggs.tail: _*)
      .select(col("n1"), col("n2"),
        r4(expr(slope("1"))).as("slope_pre"),
        r4(expr(slope("2"))).as("slope_post"),
        r4(expr(chowF)).as("f_stat"),
        expr(s"CAST(CASE WHEN $chowF > 3.0 THEN 1 ELSE 0 END AS BIGINT)")
          .as("break_flag"))
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m145_breusch_pagan" -> m145BreuschPagan,
    "m146_chow_test" -> m146ChowTest)

  val oracleSql: Map[String, String] = Map(
    "m145_breusch_pagan" ->
      s"""WITH daily AS ($dailySql),
        |sums AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(t) AS BIGINT) AS st,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(t * t) AS BIGINT) AS stt,
        |    CAST(sum(t * y) AS BIGINT) AS sty
        |  FROM daily),
        |resid AS (
        |  SELECT t, n, st, stt,
        |    CAST($olsEq * $olsEq AS BIGINT) AS u
        |  FROM daily CROSS JOIN sums),
        |cums AS (
        |  SELECT n, st, stt,
        |    sum(CAST(u AS DOUBLE)) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS csu,
        |    sum(CAST(t * u AS DOUBLE)) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cstu,
        |    sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS csuu
        |  FROM resid),
        |agg AS (
        |  SELECT n, st, stt, max(csu) AS su, max(cstu) AS stu, max(csuu) AS suu
        |  FROM cums GROUP BY 1, 2, 3)
        |SELECT n AS n_days,
        |  round($bpR2, 4) AS r2_aux,
        |  round($bpStat, 4) AS bp,
        |  round($bpP, 4) AS p_approx
        |FROM agg""".stripMargin,
    "m146_chow_test" -> {
      def segSql(pred: String, p: String) =
        s"""CAST(sum(CASE WHEN $pred THEN 1 ELSE 0 END) AS BIGINT) AS n$p,
          |    CAST(sum(CASE WHEN $pred THEN t ELSE 0 END) AS BIGINT) AS st$p,
          |    CAST(sum(CASE WHEN $pred THEN y ELSE 0 END) AS BIGINT) AS sy$p,
          |    CAST(sum(CASE WHEN $pred THEN t * t ELSE 0 END) AS BIGINT) AS stt$p,
          |    CAST(sum(CASE WHEN $pred THEN t * y ELSE 0 END) AS BIGINT) AS sty$p,
          |    CAST(sum(CASE WHEN $pred THEN y * y ELSE 0 END) AS BIGINT) AS syy$p""".stripMargin
      s"""WITH daily AS ($dailySql),
        |sums AS (
        |  SELECT ${segSql("TRUE", "0")},
        |    ${segSql("t < 1277", "1")},
        |    ${segSql("t >= 1277", "2")}
        |  FROM daily)
        |SELECT n1, n2,
        |  round(${slope("1")}, 4) AS slope_pre,
        |  round(${slope("2")}, 4) AS slope_post,
        |  round($chowF, 4) AS f_stat,
        |  CAST(CASE WHEN $chowF > 3.0 THEN 1 ELSE 0 END AS BIGINT) AS break_flag
        |FROM sums""".stripMargin
    })
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 112: the Atkinson inequality sweep and
  * partial autocorrelation.
  *
  * Contrast with near-siblings: a33 (Gini) is rank-geometric and
  * a36 (Theil) information-theoretic with an exact between/within
  * decomposition — neither carries a POLICY dial; a42 is the Atkinson
  * family A(ε) = 1 − (Σ(x/μ)^{1−ε}/n)^{1/(1−ε)}, whose inequality-
  * aversion parameter ε weights the bottom of the distribution more
  * as it grows (A(1) = 1 − geomean/μ). Sweeping ε ∈ {0.5, 1, 2} on
  * one scan shows WHERE the inequality lives — tails vs middle —
  * which a single Gini cannot. lt67 vs lt11: the raw ACF at lag k
  * carries pass-through from shorter lags (an AR(1) shows ρ₂ = ρ₁²
  * with NO genuine lag-2 structure); the PACF removes the
  * intermediate lags via Durbin–Levinson, so φkk cuts off at the true
  * AR order — the identification tool lt11 cannot provide.
  *
  * Float discipline: Atkinson quantizes each (x/μ)^{1−ε} term to 1e9
  * BIGINT before the corpus sum (quantize-before-sum; powers of the
  * same exact-integer-derived doubles on both engines); PACF builds
  * ρ₁..ρ₃ from exact n-scaled integer lag sums (the lt11 idiom:
  * u = n·x − S) and the Durbin–Levinson recursion is one shared
  * closing text over those three ratios.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * areas SURVEY.md §2.4 and §2.13; siblings a33/a36, lt11
  * (SurfaceR10-family), lt61/lt51 (unit root/stationarity).
  */
object SurfaceR10dh extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  /** One ε's quantized per-row term: ε=1 uses ln (geomean route),
    * else (x/μ)^(1−ε). μ arrives as the exact pair (st, n). */
  private def atkTermQ(eps: Double): String =
    if (eps == 1.0)
      "CAST(floor(ln(CAST(x AS DOUBLE) * n / st) * 1e9 + 0.5) AS BIGINT)"
    else
      s"CAST(floor(pow(CAST(x AS DOUBLE) * n / st, ${1 - eps}) * 1e9 + 0.5) " +
        "AS BIGINT)"
  private def atkClose(eps: Double, sq: String): String =
    if (eps == 1.0)
      s"(1e0 - exp(CAST($sq AS DOUBLE) / 1e9 / n))"
    else
      s"(1e0 - pow(CAST($sq AS DOUBLE) / 1e9 / n, ${1.0 / (1 - eps)}))"

  /** A42: ATKINSON SWEEP — inequality of whole-dollar order values at
    * ε ∈ {0.5, 1, 2} in one scan (three quantized term columns, one
    * agg). One row: n, mean, and the three indices; rising-with-ε
    * reads "the inequality sits in the lower tail".
    *
    * Scale shape: a first agg for (Σx, n), broadcast back, then one
    * map + hash agg over the scan — two passes total, map-side
    * combinable, no row-level window.
    */
  val a42Atkinson: Q = (s, d) => {
    val rows = orders(s, d).select(expr(dollarsSql).as("x"))
      .where(col("x") > 0)
    val tot = rows.agg(sum("x").as("st"), count(lit(1)).as("n"))
    rows.crossJoin(broadcast(tot))
      .select(col("n"), col("st"),
        expr(atkTermQ(0.5)).as("t05"),
        expr(atkTermQ(1.0)).as("t10"),
        expr(atkTermQ(2.0)).as("t20"))
      .groupBy("n", "st")
      .agg(sum("t05").as("s05"), sum("t10").as("s10"), sum("t20").as("s20"))
      .select(col("n"),
        r4(expr("CAST(st AS DOUBLE) / n")).as("mean_x"),
        r4(expr(atkClose(0.5, "s05"))).as("atkinson_e05"),
        r4(expr(atkClose(1.0, "s10"))).as("atkinson_e10"),
        r4(expr(atkClose(2.0, "s20"))).as("atkinson_e20"))
  }

  /** Durbin–Levinson closed forms over ρ₁..ρ₃ (shared text). */
  private val p22 = "((r2 - r1 * r1) / (1e0 - r1 * r1))"
  private val p21 = s"(r1 * (1e0 - $p22))"
  private val p33 =
    s"((r3 - $p21 * r2 - $p22 * r1) / (1e0 - $p21 * r1 - $p22 * r2))"

  /** LT67: PACF — per event_type over the daily count series: exact
    * integer lag sums (u = n·x − S) give ρ₁..ρ₃, then φ₁₁ = ρ₁,
    * φ₂₂, φ₃₃ via the Durbin–Levinson recursion. The AR-order
    * identification readout.
    *
    * Scale shape: three lead windows over the calendar-bounded daily
    * grid, one hash agg per type — corpus-scaled work is only the
    * daily agg.
    */
  val lt67Pacf: Q = (s, d) => {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("CAST(floor(unix_micros(ts) / 86400000000) AS BIGINT)").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("x"))
    val cells = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val u = daily.join(broadcast(cells), "event_type")
      .withColumn("u", expr("n * x - sx"))
      .withColumn("u1", lead(col("u"), 1).over(w))
      .withColumn("u2", lead(col("u"), 2).over(w))
      .withColumn("u3", lead(col("u"), 3).over(w))
    u.groupBy("event_type", "n")
      .agg(sum(expr("u * u")).as("c0"),
        sum(expr("u * u1")).as("c1"),
        sum(expr("u * u2")).as("c2"),
        sum(expr("u * u3")).as("c3"))
      .select(col("event_type"), col("n").as("n_days"),
        expr("CAST(c1 AS DOUBLE) / c0").as("r1"),
        expr("CAST(c2 AS DOUBLE) / c0").as("r2"),
        expr("CAST(c3 AS DOUBLE) / c0").as("r3"))
      .select(col("event_type"), col("n_days"),
        r4(col("r1")).as("rho1"), r4(col("r2")).as("rho2"),
        r4(col("r3")).as("rho3"),
        r4(col("r1")).as("pacf1"),
        r4(expr(p22)).as("pacf2"),
        r4(expr(p33)).as("pacf3"))
      .orderBy("event_type")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "a42_atkinson" -> a42Atkinson,
    "lt67_pacf" -> lt67Pacf)

  val oracleSql: Map[String, String] = Map(
    "a42_atkinson" ->
      s"""WITH r AS (
        |  SELECT $dollarsSql AS x FROM orders
        |  WHERE $dollarsSql > 0),
        |tot AS (
        |  SELECT CAST(sum(x) AS BIGINT) AS st, CAST(count(*) AS BIGINT) AS n
        |  FROM r),
        |terms AS (
        |  SELECT n, st,
        |    ${atkTermQ(0.5)} AS t05,
        |    ${atkTermQ(1.0)} AS t10,
        |    ${atkTermQ(2.0)} AS t20
        |  FROM r CROSS JOIN tot),
        |agg AS (
        |  SELECT n, st, CAST(sum(t05) AS BIGINT) AS s05,
        |    CAST(sum(t10) AS BIGINT) AS s10,
        |    CAST(sum(t20) AS BIGINT) AS s20
        |  FROM terms GROUP BY 1, 2)
        |SELECT n, round(CAST(st AS DOUBLE) / n, 4) AS mean_x,
        |  round(${atkClose(0.5, "s05")}, 4) AS atkinson_e05,
        |  round(${atkClose(1.0, "s10")}, 4) AS atkinson_e10,
        |  round(${atkClose(2.0, "s20")}, 4) AS atkinson_e20
        |FROM agg""".stripMargin,
    "lt67_pacf" ->
      s"""WITH daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |cells AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx
        |  FROM daily GROUP BY 1),
        |u AS (
        |  SELECT d.event_type, c.n, c.n * d.x - c.sx AS u,
        |    lead(c.n * d.x - c.sx, 1) OVER wd AS u1,
        |    lead(c.n * d.x - c.sx, 2) OVER wd AS u2,
        |    lead(c.n * d.x - c.sx, 3) OVER wd AS u3
        |  FROM daily d JOIN cells c USING (event_type)
        |  WINDOW wd AS (PARTITION BY d.event_type ORDER BY d.day)),
        |sums AS (
        |  SELECT event_type, n,
        |    CAST(sum(u * u) AS BIGINT) AS c0,
        |    CAST(sum(u * u1) AS BIGINT) AS c1,
        |    CAST(sum(u * u2) AS BIGINT) AS c2,
        |    CAST(sum(u * u3) AS BIGINT) AS c3
        |  FROM u GROUP BY 1, 2),
        |rho AS (
        |  SELECT event_type, n AS n_days,
        |    CAST(c1 AS DOUBLE) / c0 AS r1,
        |    CAST(c2 AS DOUBLE) / c0 AS r2,
        |    CAST(c3 AS DOUBLE) / c0 AS r3
        |  FROM sums)
        |SELECT event_type, n_days,
        |  round(r1, 4) AS rho1, round(r2, 4) AS rho2, round(r3, 4) AS rho3,
        |  round(r1, 4) AS pacf1,
        |  round($p22, 4) AS pacf2,
        |  round($p33, 4) AS pacf3
        |FROM rho ORDER BY event_type""".stripMargin)
}

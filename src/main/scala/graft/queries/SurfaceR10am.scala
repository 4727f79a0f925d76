package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 39: distribution diagnostics — Jarque–Bera
  * normality per group, Grubbs' maximum studentized deviate, and the
  * Brown–Forsythe (median-based Levene) homogeneity-of-variance test.
  *
  * House float discipline: money snaps to exact integer dollars/cents
  * first; every statistic is then ONE shared SQL formula text over
  * exact-integer power sums, so both engines execute the identical
  * IEEE op sequence (the a34/m86 pattern).
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract areas
  * SURVEY.md §2.5 (aggregation), §2.13 (statistics).
  */
object SurfaceR10am extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  /** Kilodollar buckets — bounded ≤ ~600 so the 4th power sum stays
    * far inside BIGINT even at sf1 (600⁴·1.5e6 ≈ 2e17). */
  private val kiloSql = "CAST(floor(o_totalprice / 1000.0) AS BIGINT)"

  // ---- M118: Jarque–Bera ----

  private val jbMean = "(CAST(s1 AS DOUBLE) / n)"
  private val jbM2 = s"(CAST(s2 AS DOUBLE) / n - $jbMean * $jbMean)"
  private val jbM3 =
    s"(CAST(s3 AS DOUBLE) / n - 3.0 * $jbMean * (CAST(s2 AS DOUBLE) / n) + 2.0 * $jbMean * $jbMean * $jbMean)"
  private val jbM4 =
    s"(CAST(s4 AS DOUBLE) / n - 4.0 * $jbMean * (CAST(s3 AS DOUBLE) / n) + 6.0 * $jbMean * $jbMean * (CAST(s2 AS DOUBLE) / n) - 3.0 * $jbMean * $jbMean * $jbMean * $jbMean)"
  private val jbG1 = s"($jbM3 / pow($jbM2, 1.5))"
  private val jbG2 = s"($jbM4 / ($jbM2 * $jbM2))"
  private val jbStat =
    s"((CAST(n AS DOUBLE) / 6.0) * ($jbG1 * $jbG1 + ($jbG2 - 3.0) * ($jbG2 - 3.0) / 4.0))"

  /** M118: JARQUE–BERA — per-priority normality test from exact
    * integer power sums s1..s4 of kilodollar order totals:
    * JB = n/6·(g1² + (g2−3)²/4). One narrow scan + 5-group hash agg
    * (map-side partials); the moments are closed forms over exact
    * sums, so the statistic is bit-deterministic — built-in skewness/
    * kurtosis differ in bias convention across engines, the closed
    * form doesn't (a34 precedent). Embarrassingly scale-stable. */
  val m118JarqueBera: Q = (s, d) =>
    orders(s, d)
      .select(col("o_orderpriority").as("grp"), expr(kiloSql).as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(expr("x * x")).as("s2"),
        sum(expr("x * x * x")).as("s3"),
        sum(expr("x * x * x * x")).as("s4"))
      .select(col("grp"), col("n"),
        r4(expr(jbG1)).as("skew"),
        r4(expr(s"$jbG2 - 3.0")).as("ex_kurt"),
        r4(expr(jbStat)).as("jb"))
      .orderBy("grp")

  // ---- M119: Grubbs' test ----

  private val gMaxDev = "(maxdev / CAST(n AS DOUBLE))"
  private val gSd =
    "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))"
  private val gStat = s"($gMaxDev / $gSd)"

  /** M119: GRUBBS' MAXIMUM STUDENTIZED DEVIATE — per priority, the
    * single most extreme order total measured in sample standard
    * deviations: G = max|x−x̄| / s. The deviation is computed EXACTLY
    * as max|n·x − s1| (integers — no float mean subtraction per row):
    * a 5-row aggregate broadcast back onto the fact scan, then a
    * second 5-group agg. Two passes, both all-partial; nothing
    * single-partition. Dollar resolution by construction. */
  val m119Grubbs: Q = (s, d) => {
    val rows = orders(s, d)
      .select(col("o_orderpriority").as("grp"), expr(dollarsSql).as("x"))
    val cells = rows.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(expr("x * x")).as("s2"))
    rows.join(broadcast(cells), "grp")
      .groupBy("grp", "n", "s1", "s2")
      .agg(max(abs(col("n") * col("x") - col("s1"))).as("maxdev"))
      .select(col("grp"), col("n"),
        r4(expr(gMaxDev)).as("max_abs_dev"),
        r4(expr(gStat)).as("g_stat"))
      .orderBy("grp")
  }

  // ---- M120: Brown–Forsythe (median-based Levene) ----

  private val bfBetween =
    "(n * (CAST(sz AS DOUBLE) / n - CAST(sz_tot AS DOUBLE) / n_tot) * (CAST(sz AS DOUBLE) / n - CAST(sz_tot AS DOUBLE) / n_tot))"
  private val bfWithin =
    "(CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz / n)"

  /** M120: BROWN–FORSYTHE — do the priority groups have equal spread?
    * The median-based Levene test: z = |x − med_grp| per row, then
    * W = ((N−k)/(k−1)) · Σnⱼ(z̄ⱼ−z̄)² / ΣΣ(z−z̄ⱼ)². Medians are exact
    * per-group percentiles; z is kept as the INTEGER |2x − med2|
    * (doubling makes the interpolated even-count median integral, and
    * W is scale-invariant so the ×2 cancels). Per-group (n, Σz, Σz²)
    * are exact integers; the k-row closing formula is one shared
    * text. 5-row broadcast join back onto the scan — no row-level
    * window, no extra shuffle beyond the two 5-group aggs. */
  val m120LeveneBf: Q = (s, d) => {
    val rows = orders(s, d)
      .select(col("o_orderpriority").as("grp"), expr(dollarsSql).as("x"))
    val meds = rows.groupBy("grp")
      .agg(expr("CAST(percentile(2 * x, 0.5) AS BIGINT)").as("med2"))
    val cells = rows.join(broadcast(meds), "grp")
      .select(col("grp"), abs(lit(2) * col("x") - col("med2")).as("z2"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("z2").as("sz"),
        sum(expr("z2 * z2")).as("szz"))
    val tot = cells.agg(sum("n").as("n_tot"), sum("sz").as("sz_tot"),
      count(lit(1)).as("k_tot"))
    cells.crossJoin(broadcast(tot))
      .groupBy("k_tot", "n_tot")
      .agg(sum(expr(bfBetween)).as("between_ss"),
        sum(expr(bfWithin)).as("within_ss"))
      .select(col("k_tot").as("k"), col("n_tot").as("n"),
        r4(expr(
          "((n_tot - k_tot) / CAST(k_tot - 1 AS DOUBLE)) * between_ss / within_ss"))
          .as("w_stat"))
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m118_jarque_bera" -> m118JarqueBera,
    "m119_grubbs" -> m119Grubbs,
    "m120_levene_bf" -> m120LeveneBf)

  val oracleSql: Map[String, String] = Map(
    "m118_jarque_bera" ->
      s"""WITH r AS (
        |  SELECT o_orderpriority AS grp, $kiloSql AS x FROM orders),
        |cells AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s1,
        |    CAST(sum(x * x) AS BIGINT) AS s2,
        |    CAST(sum(x * x * x) AS BIGINT) AS s3,
        |    CAST(sum(x * x * x * x) AS BIGINT) AS s4
        |  FROM r GROUP BY 1)
        |SELECT grp, n,
        |  round($jbG1, 4) AS skew,
        |  round($jbG2 - 3.0, 4) AS ex_kurt,
        |  round($jbStat, 4) AS jb
        |FROM cells ORDER BY grp""".stripMargin,
    "m119_grubbs" ->
      s"""WITH r AS (
        |  SELECT o_orderpriority AS grp, $dollarsSql AS x FROM orders),
        |cells AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s1,
        |    CAST(sum(x * x) AS BIGINT) AS s2
        |  FROM r GROUP BY 1),
        |dev AS (
        |  SELECT r.grp, c.n, c.s1, c.s2,
        |    CAST(max(abs(c.n * r.x - c.s1)) AS BIGINT) AS maxdev
        |  FROM r JOIN cells c ON c.grp = r.grp
        |  GROUP BY 1, 2, 3, 4)
        |SELECT grp, n,
        |  round($gMaxDev, 4) AS max_abs_dev,
        |  round($gStat, 4) AS g_stat
        |FROM dev ORDER BY grp""".stripMargin,
    "m120_levene_bf" ->
      s"""WITH r AS (
        |  SELECT o_orderpriority AS grp, $dollarsSql AS x FROM orders),
        |med AS (
        |  SELECT grp, CAST(quantile_cont(2 * x, 0.5) AS BIGINT) AS med2
        |  FROM r GROUP BY 1),
        |z AS (
        |  SELECT r.grp, abs(2 * r.x - m.med2) AS z2
        |  FROM r JOIN med m ON m.grp = r.grp),
        |cells AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(z2) AS BIGINT) AS sz,
        |    CAST(sum(z2 * z2) AS BIGINT) AS szz
        |  FROM z GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
        |    CAST(sum(sz) AS BIGINT) AS sz_tot,
        |    CAST(count(*) AS BIGINT) AS k_tot FROM cells),
        |agg AS (
        |  SELECT k_tot, n_tot,
        |    sum($bfBetween) AS between_ss,
        |    sum($bfWithin) AS within_ss
        |  FROM cells CROSS JOIN tot GROUP BY 1, 2)
        |SELECT k_tot AS k, n_tot AS n,
        |  round(((n_tot - k_tot) / CAST(k_tot - 1 AS DOUBLE)) * between_ss / within_ss, 4) AS w_stat
        |FROM agg""".stripMargin)
}

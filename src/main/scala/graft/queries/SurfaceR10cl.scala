package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 90: the Oaxaca–Blinder gap decomposition,
  * and the year-over-year customer segment-migration matrix.
  *
  * Contrast with near-siblings: m131 (standardized mean difference)
  * MEASURES a between-group gap and m74 tests it; Oaxaca–Blinder
  * EXPLAINS it — splitting the mean-outcome gap into the part carried
  * by different covariate levels (endowments, at reference
  * coefficients) and the part carried by different coefficients
  * (structure), the canonical audit for "is this cohort's revenue gap
  * a mix effect or a behavior effect". q25's Markov chain tracks
  * EVENT-type transitions within sessions; q45 tracks CUSTOMERS
  * moving between value tiers across years — the retention/upsell
  * matrix marketing actually reads, with entry/exit rows ('NONE')
  * that a within-session transition matrix has no notion of.
  *
  * Float discipline: both groups' OLS moments are exact BIGINTs with
  * m148's cast-before-multiply guard; gap/explained/unexplained are
  * one shared closed formula. Tier thresholds come from the exact
  * `percentile` ≡ `quantile_cont` parity (the a26/m161 precedent) on
  * integer cents, and tier assignment is the same CASE on both
  * engines, so the matrix counts are bit-deterministic.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract areas
  * SURVEY.md §2.13 (econometrics) and §2.12 (analytics shapes);
  * siblings m131/m74, m148 (SurfaceR10bk), q25 (SurfaceR6-era).
  */
object SurfaceR10cl extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  private val SEG_A = "BUILDING"
  private val SEG_B = "MACHINERY"

  // Per-group OLS slope from exact integer moments (suffix g ∈ {a,b}).
  private def ols(g: String): String =
    s"((n$g * CAST(sxy$g AS DOUBLE) - CAST(sx$g AS DOUBLE) * sy$g) /" +
    s" (n$g * CAST(sxx$g AS DOUBLE) - CAST(sx$g AS DOUBLE) * sx$g))"
  private val obGap = "(CAST(sya AS DOUBLE) / na - CAST(syb AS DOUBLE) / nb)"
  private val obDx = "(CAST(sxa AS DOUBLE) / na - CAST(sxb AS DOUBLE) / nb)"
  private val obExplained = s"(${ols("b")} * $obDx)"

  /** M171: OAXACA–BLINDER — the mean order-value gap (whole dollars)
    * between BUILDING and MACHINERY customers, decomposed against the
    * per-group regressions of order value on line count: explained =
    * β_B·Δx̄ (BUILDING orders simply carry more/fewer lines, priced at
    * the reference group's rate) vs unexplained = the rest (the groups
    * monetize a line differently). Two-fold decomposition, reference =
    * group B.
    *
    * Scale shape: one fact pass → per-order agg (shuffle on orderkey),
    * broadcast join to customer segment, then a single conditional
    * moment agg — the whole readout is one row of exact integers
    * before the closed form.
    */
  val m171OaxacaBlinder: Q = (s, d) => {
    val perOrder = lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("x"),
        expr("CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) DIV 100")
          .as("y"))
    val seg = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(broadcast(customer(s, d).select(col("c_custkey"),
        col("c_mktsegment").as("seg"))), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("seg"))
    val m = perOrder
      .join(seg, col("l_orderkey") === col("o_orderkey"))
      .where(col("seg").isin(SEG_A, SEG_B))
      .agg(
        sum(when(col("seg") === SEG_A, 1L).otherwise(0L)).as("na"),
        sum(when(col("seg") === SEG_A, col("x")).otherwise(0L)).as("sxa"),
        sum(when(col("seg") === SEG_A, col("y")).otherwise(0L)).as("sya"),
        sum(when(col("seg") === SEG_A, expr("x * x")).otherwise(0L)).as("sxxa"),
        sum(when(col("seg") === SEG_A, expr("x * y")).otherwise(0L)).as("sxya"),
        sum(when(col("seg") === SEG_B, 1L).otherwise(0L)).as("nb"),
        sum(when(col("seg") === SEG_B, col("x")).otherwise(0L)).as("sxb"),
        sum(when(col("seg") === SEG_B, col("y")).otherwise(0L)).as("syb"),
        sum(when(col("seg") === SEG_B, expr("x * x")).otherwise(0L)).as("sxxb"),
        sum(when(col("seg") === SEG_B, expr("x * y")).otherwise(0L)).as("sxyb"))
    m.select(col("na"), col("nb"),
      r4(expr(obGap)).as("gap"),
      r4(expr(obExplained)).as("explained"),
      r4(expr(s"$obGap - $obExplained")).as("unexplained"),
      r4(expr(ols("a"))).as("slope_a"),
      r4(expr(ols("b"))).as("slope_b"))
  }

  /** Q45: SEGMENT MIGRATION — tier every active customer by exact
    * spend-quartile within each year (thresholds from the exact
    * interpolated percentile on integer cents), then count the
    * from→to transition matrix across 1996→1997, with 'NONE' rows for
    * entries and exits.
    *
    * Scale shape: orders → per-(customer, year) hash agg; thresholds
    * are one distributed percentile agg per year broadcast back; the
    * matrix is a full-outer equi-join on customer + a ≤25-row count.
    */
  val q45SegmentMigration: Q = (s, d) => {
    val spend = orders(s, d)
      .where(year(col("o_orderdate")).isin(Y0, Y1))
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("o_custkey", "yr").agg(sum("cents").as("spend"))
    val th = spend.groupBy("yr")
      .agg(expr("percentile(spend, array(0.25D, 0.5D, 0.75D))").as("q"))
      .select(col("yr"), col("q")(0).as("q1"), col("q")(1).as("q2"),
        col("q")(2).as("q3"))
    val tiered = spend.join(broadcast(th), "yr")
      .select(col("o_custkey"), col("yr"),
        expr("CASE WHEN spend <= q1 THEN 'T1' WHEN spend <= q2 THEN 'T2' " +
          "WHEN spend <= q3 THEN 'T3' ELSE 'T4' END").as("tier"))
    val t0 = tiered.where(col("yr") === Y0)
      .select(col("o_custkey"), col("tier").as("tier_from"))
    val t1 = tiered.where(col("yr") === Y1)
      .select(col("o_custkey"), col("tier").as("tier_to"))
    t0.join(t1, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("tier_from"), lit("NONE")).as("tier_from"),
        coalesce(col("tier_to"), lit("NONE")).as("tier_to"))
      .groupBy("tier_from", "tier_to")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("tier_from", "tier_to")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m171_oaxaca_blinder" -> m171OaxacaBlinder,
    "q45_segment_migration" -> q45SegmentMigration)

  val oracleSql: Map[String, String] = Map(
    "m171_oaxaca_blinder" ->
      s"""WITH per_order AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x,
         |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
         |      AS BIGINT) // 100 AS y
         |  FROM lineitem GROUP BY 1),
         |tagged AS (
         |  SELECT x, y, c_mktsegment AS seg
         |  FROM per_order
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE c_mktsegment IN ('$SEG_A', '$SEG_B')),
         |m AS (
         |  SELECT
         |    CAST(sum(CASE WHEN seg = '$SEG_A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    CAST(sum(CASE WHEN seg = '$SEG_A' THEN x ELSE 0 END) AS BIGINT) AS sxa,
         |    CAST(sum(CASE WHEN seg = '$SEG_A' THEN y ELSE 0 END) AS BIGINT) AS sya,
         |    CAST(sum(CASE WHEN seg = '$SEG_A' THEN x * x ELSE 0 END) AS BIGINT) AS sxxa,
         |    CAST(sum(CASE WHEN seg = '$SEG_A' THEN x * y ELSE 0 END) AS BIGINT) AS sxya,
         |    CAST(sum(CASE WHEN seg = '$SEG_B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         |    CAST(sum(CASE WHEN seg = '$SEG_B' THEN x ELSE 0 END) AS BIGINT) AS sxb,
         |    CAST(sum(CASE WHEN seg = '$SEG_B' THEN y ELSE 0 END) AS BIGINT) AS syb,
         |    CAST(sum(CASE WHEN seg = '$SEG_B' THEN x * x ELSE 0 END) AS BIGINT) AS sxxb,
         |    CAST(sum(CASE WHEN seg = '$SEG_B' THEN x * y ELSE 0 END) AS BIGINT) AS sxyb
         |  FROM tagged)
         |SELECT na, nb,
         |  round($obGap, 4) AS gap,
         |  round($obExplained, 4) AS explained,
         |  round($obGap - $obExplained, 4) AS unexplained,
         |  round(${ols("a")}, 4) AS slope_a,
         |  round(${ols("b")}, 4) AS slope_b
         |FROM m""".stripMargin,
    "q45_segment_migration" ->
      s"""WITH spend AS (
         |  SELECT o_custkey, year(o_orderdate) AS yr,
         |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
         |      AS BIGINT) AS spend
         |  FROM orders WHERE year(o_orderdate) IN ($Y0, $Y1)
         |  GROUP BY 1, 2),
         |th AS (
         |  SELECT yr, quantile_cont(spend, 0.25) AS q1,
         |    quantile_cont(spend, 0.5) AS q2,
         |    quantile_cont(spend, 0.75) AS q3
         |  FROM spend GROUP BY 1),
         |tiered AS (
         |  SELECT o_custkey, spend.yr,
         |    CASE WHEN spend <= q1 THEN 'T1' WHEN spend <= q2 THEN 'T2'
         |      WHEN spend <= q3 THEN 'T3' ELSE 'T4' END AS tier
         |  FROM spend JOIN th ON spend.yr = th.yr),
         |t0 AS (SELECT o_custkey, tier AS tier_from FROM tiered
         |  WHERE yr = $Y0),
         |t1 AS (SELECT o_custkey, tier AS tier_to FROM tiered
         |  WHERE yr = $Y1)
         |SELECT coalesce(tier_from, 'NONE') AS tier_from,
         |  coalesce(tier_to, 'NONE') AS tier_to,
         |  CAST(count(*) AS BIGINT) AS n_customers
         |FROM t0 FULL OUTER JOIN t1 ON t0.o_custkey = t1.o_custkey
         |GROUP BY 1, 2 ORDER BY tier_from, tier_to""".stripMargin)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 94: the multiplicative KPI-tree (LMDI)
  * decomposition of revenue growth, and Baron–Kenny mediation
  * analysis with the Sobel test.
  *
  * Contrast with near-siblings: q44 bridges ONE segment-level delta
  * additively (volume/price/cross); q47 decomposes the TOTAL across a
  * multiplicative driver tree — revenue = customers × orders/customer
  * × revenue/order — with log-mean (LMDI-I) weights, the index-
  * decomposition standard whose contributions sum to the delta
  * EXACTLY (no residual term, unlike Laspeyres-style splits; the spec
  * pins the identity). m171 (Oaxaca) splits a BETWEEN-GROUP gap;
  * m175 splits a CAUSAL PATH — how much of the line-count effect on
  * order value routes THROUGH total quantity (indirect a·b) versus
  * directly — the product-of-coefficients mediation with Sobel's
  * large-sample z, all from one exact moment row (the c = c′ + a·b
  * identity is algebraic for OLS and the spec asserts it).
  *
  * Float discipline: both queries reduce to ONE row of exact BIGINT
  * aggregates; every published number is a shared closed double
  * formula over that row (m148's cast-before-multiply guard), with
  * no float accumulation anywhere.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract areas
  * SURVEY.md §2.12 (analytics) and §2.13 (econometrics); siblings
  * q44 (SurfaceR10cj), m171 (SurfaceR10cl), m168/m173.
  */
object SurfaceR10cp extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // LMDI-I: contribution of factor f = L(R1,R0) · ln(f1/f0), with the
  // logarithmic mean L(a,b) = (a−b)/ln(a/b). Factors: customers C,
  // orders-per-customer O/C, revenue-per-order R/O (R in cents).
  private val lmR0 = "(CAST(r0 AS DOUBLE) / 100.0)"
  private val lmR1 = "(CAST(r1 AS DOUBLE) / 100.0)"
  private val lmL = s"(($lmR1 - $lmR0) / ln($lmR1 / $lmR0))"
  private val lmCust = s"($lmL * ln(CAST(c1 AS DOUBLE) / c0))"
  private val lmFreq =
    s"($lmL * ln((CAST(o1 AS DOUBLE) / c1) / (CAST(o0 AS DOUBLE) / c0)))"
  private val lmSize =
    s"($lmL * ln(($lmR1 / o1) / ($lmR0 / o0)))"

  /** Q47: KPI TREE (LMDI) — revenue growth 1996→1997 split into the
    * customer-base, order-frequency, and order-size drivers. The
    * three contributions sum to ΔR exactly by the log-mean identity:
    * ln(R1/R0) = ln(C1/C0) + ln((O/C)1/(O/C)0) + ln((R/O)1/(R/O)0),
    * each scaled by the same L(R1,R0).
    *
    * Scale shape: one conditional-aggregate pass over orders (exact
    * cents), one row out.
    */
  val q47KpiTree: Q = (s, d) => {
    orders(s, d)
      .where(year(col("o_orderdate")).isin(Y0, Y1))
      .select(year(col("o_orderdate")).as("yr"), col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .agg(
        countDistinct(when(col("yr") === Y0, col("o_custkey"))).as("c0"),
        countDistinct(when(col("yr") === Y1, col("o_custkey"))).as("c1"),
        sum(when(col("yr") === Y0, 1L).otherwise(0L)).as("o0"),
        sum(when(col("yr") === Y1, 1L).otherwise(0L)).as("o1"),
        sum(when(col("yr") === Y0, col("cents")).otherwise(0L)).as("r0"),
        sum(when(col("yr") === Y1, col("cents")).otherwise(0L)).as("r1"))
      .select(col("c0"), col("c1"), col("o0"), col("o1"),
        r4(expr(s"$lmR1 - $lmR0")).as("delta_rev"),
        r4(expr(lmCust)).as("customer_effect"),
        r4(expr(lmFreq)).as("frequency_effect"),
        r4(expr(lmSize)).as("order_size_effect"))
  }

  // ---- M175: mediation x → m → y on exact moments ----
  // x = line count, m = total quantity, y = order dollars; centered
  // moments cxx etc. from the BIGINT sums; slopes:
  //   a  = cxm/cxx                       (m ~ x)
  //   c  = cxy/cxx                       (y ~ x, total)
  //   b  = (cxx·cmy − cxm·cxy)/(cxx·cmm − cxm²)   (y ~ m | x)
  //   c' = (cmm·cxy − cxm·cmy)/(cxx·cmm − cxm²)   (y ~ x | m)
  private val mdCxx = "(sxx - CAST(sx AS DOUBLE) * sx / n)"
  private val mdCmm = "(smm - CAST(sm AS DOUBLE) * sm / n)"
  private val mdCyy = "(syy - CAST(sy AS DOUBLE) * sy / n)"
  private val mdCxm = "(sxm - CAST(sx AS DOUBLE) * sm / n)"
  private val mdCxy = "(sxy - CAST(sx AS DOUBLE) * sy / n)"
  private val mdCmy = "(smy - CAST(sm AS DOUBLE) * sy / n)"
  private val mdA = s"($mdCxm / $mdCxx)"
  private val mdC = s"($mdCxy / $mdCxx)"
  private val mdDet = s"($mdCxx * $mdCmm - $mdCxm * $mdCxm)"
  private val mdB = s"(($mdCxx * $mdCmy - $mdCxm * $mdCxy) / $mdDet)"
  private val mdCp = s"(($mdCmm * $mdCxy - $mdCxm * $mdCmy) / $mdDet)"
  // Sobel: se_a² from the a-regression, se_b² from the 2-var fit.
  private val mdSseA = s"($mdCmm - $mdA * $mdCxm)"
  private val mdSeA2 = s"(($mdSseA / (n - 2)) / $mdCxx)"
  private val mdSseY = s"($mdCyy - $mdB * $mdCmy - $mdCp * $mdCxy)"
  private val mdSeB2 = s"(($mdSseY / (n - 3)) * $mdCxx / $mdDet)"
  private val mdSobel =
    s"(($mdA * $mdB) / sqrt($mdB * $mdB * $mdSeA2 + $mdA * $mdA * $mdSeB2))"

  /** M175: MEDIATION — does line count drive order value THROUGH
    * total quantity? Reports the path coefficients, the indirect
    * effect a·b, the direct effect c′, the proportion mediated, and
    * Sobel's z. OLS identity c = c′ + a·b holds to rounding (spec).
    *
    * Scale shape: per-order agg then one exact moment row; closed
    * forms only.
    */
  val m175Mediation: Q = (s, d) =>
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("lq"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("x"), sum("lq").as("m"),
        expr("CAST(sum(cents) AS BIGINT) div 100").as("y"))
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("m").as("sm"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("m * m")).as("smm"),
        sum(expr("y * y")).as("syy"),
        sum(expr("x * m")).as("sxm"), sum(expr("x * y")).as("sxy"),
        sum(expr("m * y")).as("smy"))
      .select(col("n"),
        r4(expr(mdA)).as("a_xm"),
        r4(expr(mdB)).as("b_my"),
        r4(expr(mdC)).as("c_total"),
        r4(expr(mdCp)).as("c_direct"),
        r4(expr(s"$mdA * $mdB")).as("indirect"),
        r4(expr(s"$mdA * $mdB / $mdC")).as("prop_mediated"),
        r4(expr(mdSobel)).as("sobel_z"))

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "q47_kpi_tree" -> q47KpiTree,
    "m175_mediation" -> m175Mediation)

  val oracleSql: Map[String, String] = Map(
    "q47_kpi_tree" ->
      s"""WITH o AS (
         |  SELECT year(o_orderdate) AS yr, o_custkey,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
         |  FROM orders WHERE year(o_orderdate) IN ($Y0, $Y1)),
         |m AS (
         |  SELECT
         |    CAST(count(DISTINCT CASE WHEN yr = $Y0 THEN o_custkey END)
         |      AS BIGINT) AS c0,
         |    CAST(count(DISTINCT CASE WHEN yr = $Y1 THEN o_custkey END)
         |      AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN yr = $Y0 THEN 1 ELSE 0 END) AS BIGINT) AS o0,
         |    CAST(sum(CASE WHEN yr = $Y1 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
         |    CAST(sum(CASE WHEN yr = $Y0 THEN cents ELSE 0 END) AS BIGINT)
         |      AS r0,
         |    CAST(sum(CASE WHEN yr = $Y1 THEN cents ELSE 0 END) AS BIGINT)
         |      AS r1
         |  FROM o)
         |SELECT c0, c1, o0, o1,
         |  round($lmR1 - $lmR0, 4) AS delta_rev,
         |  round($lmCust, 4) AS customer_effect,
         |  round($lmFreq, 4) AS frequency_effect,
         |  round($lmSize, 4) AS order_size_effect
         |FROM m""".stripMargin,
    "m175_mediation" ->
      s"""WITH per_order AS (
         |  SELECT CAST(count(*) AS BIGINT) AS x,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS m,
         |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
         |      AS BIGINT) // 100 AS y
         |  FROM lineitem GROUP BY l_orderkey),
         |mm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(m * m) AS BIGINT) AS smm,
         |    CAST(sum(y * y) AS BIGINT) AS syy,
         |    CAST(sum(x * m) AS BIGINT) AS sxm,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(m * y) AS BIGINT) AS smy
         |  FROM per_order)
         |SELECT n,
         |  round($mdA, 4) AS a_xm,
         |  round($mdB, 4) AS b_my,
         |  round($mdC, 4) AS c_total,
         |  round($mdCp, 4) AS c_direct,
         |  round($mdA * $mdB, 4) AS indirect,
         |  round($mdA * $mdB / $mdC, 4) AS prop_mediated,
         |  round($mdSobel, 4) AS sobel_z
         |FROM mm""".stripMargin)
}

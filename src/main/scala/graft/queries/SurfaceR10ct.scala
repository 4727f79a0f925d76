package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 98: difference-in-differences with an
  * md5-placebo refutation column, and the seasonal Mann–Kendall
  * trend test.
  *
  * Contrast with near-siblings: m134 (CUPED) reduces variance WITHIN
  * an experiment that already randomized; m146 (Chow) detects a
  * structural break in one series; DiD estimates a treatment effect
  * from OBSERVATIONAL two-group × two-period data under parallel
  * trends — the workhorse quasi-experimental design — and the placebo
  * column (a deterministic md5 pseudo-treatment inside the control
  * group) is the standard refutation: a design that "finds" an effect
  * there is confounded. m123 runs Mann–Kendall on weekly totals; the
  * SEASONAL variant stratifies daily EVENT counts by weekday and sums
  * the per-stratum S and variances, so a strong weekly cycle cannot
  * masquerade as (or mask) a monotone trend — the hydrology-standard
  * refinement, exact in integers.
  *
  * Float discipline: both queries are conditional integer-moment
  * passes; every readout is a shared closed form (cell variances via
  * the m148 cast-before-multiply guard), and the placebo assignment
  * is the portable md5-nibble split (lp10 idiom).
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract area
  * SURVEY.md §2.13; siblings m134/m146, m123 (SurfaceR10ao).
  */
object SurfaceR10ct extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // Cell stats (suffix c ∈ {t0,t1,c0,c1,p0,p1}): mean and variance
  // from exact integer (n, sum, sumsq).
  private def cm(c: String) = s"(CAST(s$c AS DOUBLE) / n$c)"
  private def cv(c: String) =
    s"((CAST(q$c AS DOUBLE) - CAST(s$c AS DOUBLE) * s$c / n$c) / (n$c - 1))"
  private val didEst =
    s"((${cm("t1")} - ${cm("t0")}) - (${cm("c1")} - ${cm("c0")}))"
  private val didSe =
    s"sqrt(${cv("t1")} / nt1 + ${cv("t0")} / nt0 + ${cv("c1")} / nc1 + ${cv("c0")} / nc0)"
  private val plaEst =
    s"((${cm("p1")} - ${cm("p0")}) - ((CAST(sc1 - sp1 AS DOUBLE) / (nc1 - np1)) - (CAST(sc0 - sp0 AS DOUBLE) / (nc0 - np0))))"

  /** M177: DIFF-IN-DIFFERENCES — order value (whole dollars),
    * treatment = BUILDING customers, control = MACHINERY, pre = 1996,
    * post = 1997; Welch-style SE from the four cell variances. The
    * placebo re-runs the design INSIDE the control group against a
    * deterministic md5 pseudo-treatment — its estimate should hover
    * near zero (reported, and sanity-bounded in the spec).
    *
    * Scale shape: one broadcast dimension join + one conditional
    * moment pass; a single readout row.
    */
  val m177Did: Q = (s, d) => {
    val base = orders(s, d)
      .where(year(col("o_orderdate")).isin(Y0, Y1))
      .join(broadcast(customer(s, d).select(col("c_custkey"),
        col("c_mktsegment").as("seg"))), col("o_custkey") === col("c_custkey"))
      .where(col("seg").isin("BUILDING", "MACHINERY"))
      .select(
        (year(col("o_orderdate")) === Y1).as("post"),
        (col("seg") === "BUILDING").as("treat"),
        // md5 pseudo-treatment inside control (lp10 nibble idiom)
        (expr("instr('0123456789abcdef', substr(md5(CAST(o_custkey AS STRING)), 1, 1)) - 1") < 8)
          .as("pseudo"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV 100")
          .as("y"))
    def cell(name: String, cond: String) = Seq(
      sum(when(expr(cond), 1L).otherwise(0L)).as(s"n$name"),
      sum(when(expr(cond), col("y")).otherwise(0L)).as(s"s$name"),
      sum(when(expr(cond), expr("y * y")).otherwise(0L)).as(s"q$name"))
    val aggs = cell("t0", "treat AND NOT post") ++
      cell("t1", "treat AND post") ++
      cell("c0", "NOT treat AND NOT post") ++
      cell("c1", "NOT treat AND post") ++
      cell("p0", "NOT treat AND NOT post AND pseudo") ++
      cell("p1", "NOT treat AND post AND pseudo")
    base.agg(aggs.head, aggs.tail: _*)
      .select(col("nt0"), col("nt1"), col("nc0"), col("nc1"),
        r4(expr(didEst)).as("did"),
        r4(expr(didSe)).as("se"),
        r4(expr(s"$didEst / $didSe")).as("t_stat"),
        r4(expr(plaEst)).as("did_placebo"))
  }

  private val smkZ =
    """(CASE WHEN s_tot > 0 THEN (CAST(s_tot AS DOUBLE) - 1) / sqrt(var_tot)
      |  WHEN s_tot < 0 THEN (CAST(s_tot AS DOUBLE) + 1) / sqrt(var_tot)
      |  ELSE 0.0 END)""".stripMargin.replace("\n", " ")

  /** M178: SEASONAL MANN–KENDALL — daily event counts stratified by
    * weekday; per stratum the usual S over time-ordered pairs and the
    * tie-corrected variance, then combined: S = ΣSₖ, Var = ΣVarₖ.
    * Readout: n_days, S, z. A weekly cycle contributes NOTHING to any
    * within-stratum pair, which is the point.
    *
    * Scale shape: facts → per-(dow, day) agg; pairs form within each
    * calendar-bounded stratum (≤ ⌈days/7⌉ points per weekday).
    */
  val m178SeasonalMk: Q = (s, d) => {
    val daily = events(s, d)
      .select(expr("CAST(floor(unix_micros(ts) / 86400000000) AS BIGINT)")
        .as("day"))
      .groupBy("day").agg(count(lit(1)).as("y"))
      .withColumn("dow", expr("day % 7"))
    val sPer = daily.as("a").join(broadcast(daily.as("b")),
        expr("a.dow = b.dow AND a.day < b.day"))
      .agg(sum(expr(
        "CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END"))
        .as("s_tot"))
    val varPer = daily.groupBy("dow")
      .agg(count(lit(1)).as("nk"))
      .join(daily.groupBy("dow", "y").agg(count(lit(1)).as("t"))
        .groupBy("dow").agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tk")),
        "dow")
      .agg(sum(expr("nk * (nk - 1) * (2 * nk + 5) - tk")).as("var18"),
        sum("nk").as("n_days"))
      .select(col("n_days"), (col("var18") / lit(18.0)).as("var_tot"))
    sPer.crossJoin(broadcast(varPer))
      .select(col("n_days"), col("s_tot"), r4(expr(smkZ)).as("z"))
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m177_did" -> m177Did,
    "m178_seasonal_mk" -> m178SeasonalMk)

  val oracleSql: Map[String, String] = Map(
    "m177_did" -> {
      def cellSql(name: String, cond: String) =
        s"""CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n$name,
           |    CAST(sum(CASE WHEN $cond THEN y ELSE 0 END) AS BIGINT) AS s$name,
           |    CAST(sum(CASE WHEN $cond THEN y * y ELSE 0 END) AS BIGINT) AS q$name""".stripMargin
      s"""WITH base AS (
         |  SELECT year(o_orderdate) = $Y1 AS post,
         |    c_mktsegment = 'BUILDING' AS treat,
         |    instr('0123456789abcdef',
         |      substr(md5(CAST(o_custkey AS VARCHAR)), 1, 1)) - 1 < 8
         |      AS pseudo,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100 AS y
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  WHERE year(o_orderdate) IN ($Y0, $Y1)
         |    AND c_mktsegment IN ('BUILDING', 'MACHINERY')),
         |m AS (
         |  SELECT
         |    ${cellSql("t0", "treat AND NOT post")},
         |    ${cellSql("t1", "treat AND post")},
         |    ${cellSql("c0", "NOT treat AND NOT post")},
         |    ${cellSql("c1", "NOT treat AND post")},
         |    ${cellSql("p0", "NOT treat AND NOT post AND pseudo")},
         |    ${cellSql("p1", "NOT treat AND post AND pseudo")}
         |  FROM base)
         |SELECT nt0, nt1, nc0, nc1,
         |  round($didEst, 4) AS did,
         |  round($didSe, 4) AS se,
         |  round($didEst / $didSe, 4) AS t_stat,
         |  round($plaEst, 4) AS did_placebo
         |FROM m""".stripMargin
    },
    "m178_seasonal_mk" ->
      s"""WITH daily AS (
         |  SELECT day, CAST(count(*) AS BIGINT) AS y, day % 7 AS dow
         |  FROM (SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
         |    AS day FROM events)
         |  GROUP BY day),
         |s_tot AS (
         |  SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
         |    WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_tot
         |  FROM daily a JOIN daily b ON a.dow = b.dow AND a.day < b.day),
         |vk AS (
         |  SELECT nk.dow, nk.nk, tk.tk FROM
         |    (SELECT dow, CAST(count(*) AS BIGINT) AS nk
         |     FROM daily GROUP BY 1) nk
         |  JOIN
         |    (SELECT dow, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
         |       AS tk FROM
         |       (SELECT dow, y, CAST(count(*) AS BIGINT) AS t
         |        FROM daily GROUP BY 1, 2) GROUP BY 1) tk
         |  ON nk.dow = tk.dow),
         |vt AS (
         |  SELECT CAST(sum(nk) AS BIGINT) AS n_days,
         |    CAST(sum(nk * (nk - 1) * (2 * nk + 5) - tk) AS BIGINT) / 18.0
         |      AS var_tot
         |  FROM vk)
         |SELECT n_days, s_tot, round($smkZ, 4) AS z
         |FROM s_tot CROSS JOIN vt""".stripMargin)
}

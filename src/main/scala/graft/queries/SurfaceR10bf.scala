package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables, Windows}

/** Round-10 surface batch 58: modern dependence + sequential drift on
  * the daily order series — Chatterjee's ξ (2020), the rank-based
  * coefficient that detects ARBITRARY functional dependence (not just
  * monotone like Spearman/Kendall), and the Page–Hinkley online
  * mean-shift detector (when would a streaming monitor have alarmed?).
  * Both run off the bounded daily aggregate (#days rows, not
  * data-scaling): one fact-table hash aggregate, then rank/lag/cumsum
  * windows whose internals are EXACT integers — only the final ratios
  * touch doubles, through ONE formula text shared with the oracle.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract area
  * SURVEY.md §2.13 (statistics over aggregates), siblings m121/lt37.
  */
object SurfaceR10bf extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- M141: Chatterjee's xi ----

  /** Tie-aware ξ: 1 − n·Σ|r_{i+1}−r_i| / (2·Σ l_i(n−l_i)), with
    * r_i = #{y_j ≤ y_i}, l_i = #{y_j ≥ y_i}, i ordered by day. */
  private val xiF = "(1.0 - CAST(nd AS DOUBLE) * sum_d / den)"

  /** M141: CHATTERJEE XI — dependence of the daily order count on the
    * day index. Ranks via ties-inclusive RANGE count windows (exact
    * integers), the numerator off one lag window, the denominator an
    * exact integer sum — all over the bounded daily series. */
  val m141ChatterjeeXi: Q = (s, d) => {
    val daily = orders(s, d)
      .select(datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("long").as("t"))
      .groupBy("t").agg(count(lit(1)).as("y"))
    // Default window frame with ORDER BY is RANGE UNBOUNDED PRECEDING →
    // CURRENT ROW, which is ties-INCLUSIVE: exactly #{y_j <= y_i}.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.graft.BoundedPartition.key)
    val ranked = daily
      .withColumn("r", count(lit(1)).over(Windows.bounded(col("y"))))
      .withColumn("l", count(lit(1)).over(Windows.bounded(col("y").desc)))
      .withColumn("ndr", count(lit(1)).over(wAll))
    ranked
      .withColumn("rn", lead(col("r"), 1).over(Windows.bounded(col("t"))))
      .agg(
        count(lit(1)).as("nd"),
        sum(when(col("rn").isNotNull, abs(col("rn") - col("r")))
          .otherwise(0L)).as("sum_d"),
        sum(col("l") * (col("ndr") - col("l"))).as("den_half"))
      .select(col("nd"), col("sum_d"),
        (col("den_half") * 2L).as("den"))
      .select(col("nd"), col("sum_d"), col("den"),
        r4(expr(xiF)).as("xi"))
  }

  // ---- M142: Page–Hinkley drift detector ----

  /** M142: PAGE–HINKLEY — the sequential mean-increase detector
    * (the streaming-monitoring classic CUSUM's one-sided sibling;
    * lp25's changepoint locates a break offline, PH answers "when
    * would an online monitor have ALARMED?"). Deviations are scaled
    * by n (dev_t = n·y_t − s1 − n·δ, slack δ = 1 order/day) so the
    * running cumsum, running minimum, and the PH statistic
    * max_t(cum_t − min_{u≤t}cum_u) are ALL exact integers; only the
    * final unscaling divides by n. Alarm threshold λ = 50 orders.
    * One fact-scan hash agg + two bounded-series windows. */
  val m142PageHinkley: Q = (s, d) => {
    val daily = orders(s, d)
      .select(datediff(col("o_orderdate").cast("date"),
        lit("1992-01-01").cast("date")).cast("long").as("t"))
      .groupBy("t").agg(count(lit(1)).as("y"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.graft.BoundedPartition.key)
    val wCum = Windows.bounded(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wCum2 = Windows.bounded(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    daily
      .withColumn("nd", count(lit(1)).over(wAll))
      .withColumn("s1", sum("y").over(wAll))
      .withColumn("cum",
        sum(col("nd") * col("y") - col("s1") - col("nd")).over(wCum))
      .withColumn("runmin", min("cum").over(wCum2))
      .withColumn("ph", col("cum") - col("runmin"))
      .agg(
        max("nd").as("nd"),
        max("s1").as("s1"),
        max("ph").as("ph_scaled"),
        min(when(col("ph") > col("nd") * 50L, col("t"))).as("first_alarm_t"),
        sum(when(col("ph") > col("nd") * 50L, 1L).otherwise(0L))
          .as("n_alarm_days"))
      .select(col("nd"), col("s1"), col("ph_scaled"),
        r4(expr("CAST(ph_scaled AS DOUBLE) / nd")).as("ph"),
        coalesce(col("first_alarm_t"), lit(-1L)).as("first_alarm_t"),
        col("n_alarm_days"))
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m141_chatterjee_xi" -> m141ChatterjeeXi,
    "m142_page_hinkley" -> m142PageHinkley)

  val oracleSql: Map[String, String] = Map(
    "m141_chatterjee_xi" ->
      s"""WITH daily AS ($dailySql),
        |ranked AS (
        |  SELECT t, y,
        |    CAST(count(*) OVER (ORDER BY y) AS BIGINT) AS r,
        |    CAST(count(*) OVER (ORDER BY y DESC) AS BIGINT) AS l,
        |    CAST(count(*) OVER () AS BIGINT) AS nd
        |  FROM daily),
        |stepped AS (
        |  SELECT *, lead(r, 1) OVER (ORDER BY t) AS rn FROM ranked),
        |agg AS (
        |  SELECT CAST(max(nd) AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN rn IS NOT NULL THEN abs(rn - r) ELSE 0 END) AS BIGINT) AS sum_d,
        |    CAST(2 * sum(l * (nd - l)) AS BIGINT) AS den
        |  FROM stepped)
        |SELECT nd, sum_d, den, round($xiF, 4) AS xi FROM agg""".stripMargin,
    "m142_page_hinkley" ->
      s"""WITH daily AS ($dailySql),
        |tot AS (
        |  SELECT t, y,
        |    CAST(count(*) OVER () AS BIGINT) AS nd,
        |    CAST(sum(y) OVER () AS BIGINT) AS s1
        |  FROM daily),
        |walk AS (
        |  SELECT t, nd, s1,
        |    CAST(sum(nd * y - s1 - nd) OVER (ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM tot),
        |ph AS (
        |  SELECT t, nd, s1,
        |    CAST(cum - min(cum) OVER (ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ph
        |  FROM walk)
        |SELECT CAST(max(nd) AS BIGINT) AS nd,
        |  CAST(max(s1) AS BIGINT) AS s1,
        |  CAST(max(ph) AS BIGINT) AS ph_scaled,
        |  round(CAST(max(ph) AS DOUBLE) / max(nd), 4) AS ph,
        |  CAST(coalesce(min(CASE WHEN ph > nd * 50 THEN t END), -1) AS BIGINT)
        |    AS first_alarm_t,
        |  CAST(sum(CASE WHEN ph > nd * 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarm_days
        |FROM ph""".stripMargin)
}

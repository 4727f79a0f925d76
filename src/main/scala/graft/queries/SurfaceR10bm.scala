package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables, Windows}

/** Round-10 surface batch 65: distribution drift + cycle detection —
  * the two-sample CRAMÉR–VON MISES statistic (integrates the SQUARED
  * ECDF gap, so it sees spread/shape changes the KS supremum (m46)
  * misses) comparing the daily order-count distribution across eras,
  * and a PERIODOGRAM (DFT power at candidate periods) that answers
  * "which cycle dominates this series?" — the spectral complement to
  * lt12's seasonal-strength decomposition. CvM is EXACT: with F̂ᵢ as
  * rationals over pooled distinct values, the numerator
  * Σ c(v)·(C₁n₂−C₂n₁)² is an integer. The DFT sums are signed floats,
  * so they run as ORDERED window cumsums picked off at the last row
  * (max_by) — addition order pinned on both engines.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.13 (drift/statistics), siblings m46/lt12/lt11.
  */
object SurfaceR10bm extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- M151: two-sample Cramér–von Mises ----

  private val cvT =
    "(CAST(num AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) * n1 * n2))"

  /** M151: CRAMÉR–VON MISES — era 1 (day < 1277) vs era 2 daily
    * order-count distributions. Over the bounded grid of pooled
    * distinct counts: cumulative counts C₁,C₂ (exact, one ordered
    * window), numerator Σ c·(C₁n₂−C₂n₁)² exact BIGINT, and
    * T = num/(N²·n₁·n₂) in one shared formula. */
  val m151CramerVonMises: Q = (s, d) => {
    val marked = daily(s, d)
      .select(col("y"),
        when(col("t") < 1277, 1L).otherwise(0L).as("in1"))
    val grid = marked.groupBy("y")
      .agg(sum("in1").as("c1"),
        sum(lit(1L) - col("in1")).as("c2"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.graft.BoundedPartition.key)
    val wCum = Windows.bounded(col("y"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    grid
      .withColumn("n1", sum("c1").over(wAll))
      .withColumn("n2", sum("c2").over(wAll))
      .withColumn("cc1", sum("c1").over(wCum))
      .withColumn("cc2", sum("c2").over(wCum))
      .groupBy("n1", "n2")
      .agg(sum((col("c1") + col("c2")) *
        (col("cc1") * col("n2") - col("cc2") * col("n1")) *
        (col("cc1") * col("n2") - col("cc2") * col("n1"))).as("num"))
      .select(col("n1"), col("n2"), col("num"),
        r4(expr(cvT)).as("t_stat"))
  }

  // ---- LT45: periodogram ----

  /** LT45: PERIODOGRAM — DFT power of the mean-centered daily series
    * at periods 7/30/91/365 days. Terms (y−ȳ)·cos and (y−ȳ)·sin are
    * deterministic per row; their totals are read off ORDERED window
    * cumsums at the last day (max_by), so the float addition order is
    * identical on both engines. Mean-centering uses the exact n·y−Σy
    * integer trick (power scales by n²; reported normalized by n²).
    * Power is reported per period with its share of the four. */
  val lt45Periodogram: Q = (s, d) => {
    val dl = daily(s, d)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.graft.BoundedPartition.key)
    val base = dl
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s1", sum("y").over(wAll))
      .select(col("t"),
        explode(expr("array(7L, 30L, 91L, 365L)")).as("p"),
        (col("n") * col("y") - col("s1")).as("dev"),
        col("n"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.graft.BoundedPartition.key, col("p"))
      .orderBy(col("t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val sums = base
      .withColumn("cterm",
        expr("dev * cos(2e0 * pi() * t / p)"))
      .withColumn("sterm",
        expr("dev * sin(2e0 * pi() * t / p)"))
      .withColumn("cc", sum("cterm").over(wCum))
      .withColumn("cs", sum("sterm").over(wCum))
      .groupBy("p")
      .agg(max("n").as("n"),
        expr("max_by(cc, t)").as("sc"),
        expr("max_by(cs, t)").as("ss"))
      .withColumn("power",
        expr("(sc * sc + ss * ss) / (CAST(n AS DOUBLE) * n * n * n)"))
    // Pin even the 4-term total: powers >= 0, so the ordered cumsum's
    // max IS the sum, with addition order fixed on both engines.
    val wCumP = Windows.bounded(col("p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = sums.withColumn("cps", sum("power").over(wCumP))
      .agg(max("cps").as("ptot"))
    sums.crossJoin(broadcast(tot))
      .select(col("p").as("period"),
        r4(col("power")).as("power"),
        r4(expr("power / ptot")).as("share"))
      .orderBy("period")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m151_cramer_von_mises" -> m151CramerVonMises,
    "lt45_periodogram" -> lt45Periodogram)

  val oracleSql: Map[String, String] = Map(
    "m151_cramer_von_mises" ->
      s"""WITH daily AS ($dailySql),
        |marked AS (
        |  SELECT y, CASE WHEN t < 1277 THEN 1 ELSE 0 END AS in1 FROM daily),
        |grid AS (
        |  SELECT y, CAST(sum(in1) AS BIGINT) AS c1,
        |    CAST(sum(1 - in1) AS BIGINT) AS c2
        |  FROM marked GROUP BY y),
        |cums AS (
        |  SELECT y, c1, c2,
        |    CAST(sum(c1) OVER () AS BIGINT) AS n1,
        |    CAST(sum(c2) OVER () AS BIGINT) AS n2,
        |    CAST(sum(c1) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc1,
        |    CAST(sum(c2) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc2
        |  FROM grid)
        |SELECT n1, n2,
        |  CAST(sum((c1 + c2) * (cc1 * n2 - cc2 * n1) * (cc1 * n2 - cc2 * n1)) AS BIGINT) AS num,
        |  round($cvT, 4) AS t_stat
        |FROM cums GROUP BY n1, n2""".stripMargin,
    "lt45_periodogram" ->
      s"""WITH daily AS ($dailySql),
        |tot AS (
        |  SELECT t, y,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(y) OVER () AS BIGINT) AS s1
        |  FROM daily),
        |base AS (
        |  SELECT t, p, n, CAST(n * y - s1 AS BIGINT) AS dev
        |  FROM tot CROSS JOIN (SELECT unnest([7, 30, 91, 365]) AS p) pp),
        |cums AS (
        |  SELECT p, t, n,
        |    sum(dev * cos(2e0 * pi() * t / p)) OVER (PARTITION BY p
        |      ORDER BY t ROWS UNBOUNDED PRECEDING) AS cc,
        |    sum(dev * sin(2e0 * pi() * t / p)) OVER (PARTITION BY p
        |      ORDER BY t ROWS UNBOUNDED PRECEDING) AS cs
        |  FROM base),
        |sums AS (
        |  SELECT p, CAST(max(n) AS BIGINT) AS n,
        |    max_by(cc, t) AS sc, max_by(cs, t) AS ss
        |  FROM cums GROUP BY p),
        |powers AS (
        |  SELECT p, (sc * sc + ss * ss) / (CAST(n AS DOUBLE) * n * n * n) AS power
        |  FROM sums),
        |ptot AS (
        |  SELECT max(cps) AS ptot FROM (
        |    SELECT sum(power) OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS cps
        |    FROM powers) c)
        |SELECT CAST(p AS BIGINT) AS period,
        |  round(power, 4) AS power,
        |  round(power / ptot, 4) AS share
        |FROM powers CROSS JOIN ptot
        |ORDER BY period""".stripMargin)
}

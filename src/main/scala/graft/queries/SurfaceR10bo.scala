package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables, Windows}

/** Round-10 surface batch 67: k-group rank testing + symbolic series
  * mining — the KRUSKAL–WALLIS H test (does ANY weekday differ in
  * order volume? the k-group extension of m47's Mann–Whitney, with
  * the full tie correction), and SAX (Symbolic Aggregate
  * approXimation) motif extraction (discretize the standardized daily
  * series into 4 symbols at the N(0,1) quartile breakpoints and count
  * 3-day motifs — the classic cheap pattern-mining pass over a long
  * series). KW midranks are kept exact by the ×2 integer-midrank
  * trick on the bounded distinct-value grid; the 7 per-group
  * R²/n terms are pinned by an ordered nonnegative cumsum. SAX
  * symbols come from one shared z-formula over exact sums, so the
  * motif counts are bit-deterministic.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.13 (statistics/series), siblings m47/m139/lt41.
  */
object SurfaceR10bo extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- M152: Kruskal–Wallis ----

  private val kwH =
    "(12e0 / (CAST(n AS DOUBLE) * (n + 1)) * sr2 - 3e0 * (n + 1))"
  private val kwC =
    "(1e0 - CAST(ties AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n))"
  private val kwHc = s"($kwH / $kwC)"

  /** M152: KRUSKAL–WALLIS — daily order counts grouped by weekday.
    * Midranks via the ×2 trick (2·midrank = 2·C_below + c_v + 1,
    * exact) on the bounded distinct-count grid; per-weekday doubled
    * rank sums R2_j and sizes n_j are exact integers, the 7-term
    * Σ R2²/4n (folded into the shared H formula) is an ordered
    * cumsum, and the tie correction Σ(c³−c)/(N³−N) is exact.
    * Decision flag vs the χ²(6) 5% critical value 12.59. */
  val m152KruskalWallis: Q = (s, d) => {
    val marked = daily(s, d).withColumn("dow", col("t") % 7)
    val cells = marked.groupBy("y", "dow").agg(count(lit(1)).as("cnt"))
    val wCumV = Windows.bounded(col("y"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val grid = marked.groupBy("y").agg(count(lit(1)).as("cv"))
      .withColumn("cbelow", sum("cv").over(wCumV) - col("cv"))
    val ranked = cells.join(grid, "y")
      .select(col("dow"), col("cnt"),
        (col("cnt") * (lit(2L) * col("cbelow") + col("cv") + 1L)).as("r2c"))
    val groups = ranked.groupBy("dow")
      .agg(sum("cnt").as("nj"), sum("r2c").as("r2j"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.graft.BoundedPartition.key)
    val wCumD = Windows.bounded(col("dow"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val sr2 = groups
      .withColumn("term",
        expr("CAST(r2j AS DOUBLE) * r2j / (4e0 * nj)"))
      .withColumn("cterm", sum("term").over(wCumD))
      .agg(max("cterm").as("sr2"), sum("nj").as("n"))
    val ties = marked.groupBy("y").agg(count(lit(1)).as("cv"))
      .agg(sum(col("cv") * col("cv") * col("cv") - col("cv")).as("ties"))
    sr2.crossJoin(broadcast(ties))
      .select(col("n").as("n_days"),
        r4(expr(kwH)).as("h"),
        r4(expr(kwHc)).as("h_corrected"),
        lit(6L).as("df"),
        expr(s"CAST(CASE WHEN $kwHc > 12.59 THEN 1 ELSE 0 END AS BIGINT)")
          .as("sig_flag"))
  }

  // ---- LT48: SAX motifs ----

  private val saxMu = "(CAST(s1 AS DOUBLE) / n)"
  private val saxSd =
    s"sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))"
  private val saxZ = s"((y - $saxMu) / $saxSd)"
  private val saxSym =
    s"(CASE WHEN $saxZ < -6745e-4 THEN 'a' WHEN $saxZ < 0e0 THEN 'b' " +
      s"WHEN $saxZ < 6745e-4 THEN 'c' ELSE 'd' END)"

  /** LT48: SAX MOTIFS — standardize the daily series (shared z
    * formula over exact sums), map to 4 symbols at the N(0,1)
    * quartile breakpoints ±0.6745, slide a 3-day window (consecutive
    * PRESENT days) and report the five most frequent motifs. Symbol
    * assignment is one shared float comparison, counts are exact —
    * the ranking is bit-deterministic with the (count desc, motif)
    * tie-break. */
  val lt48SaxMotifs: Q = (s, d) => {
    val dl = daily(s, d)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.graft.BoundedPartition.key)
    val sym = dl
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s1", sum("y").over(wAll))
      .withColumn("s2", sum(col("y") * col("y")).over(wAll))
      .withColumn("sym", expr(saxSym))
    val wOrd = Windows.bounded(col("t"))
    sym
      .withColumn("m", concat(lag("sym", 2).over(wOrd),
        lag("sym", 1).over(wOrd), col("sym")))
      .where(col("m").isNotNull)
      .groupBy(col("m").as("motif"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("motif"))
      .limit(5)
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m152_kruskal_wallis" -> m152KruskalWallis,
    "lt48_sax_motifs" -> lt48SaxMotifs)

  val oracleSql: Map[String, String] = Map(
    "m152_kruskal_wallis" ->
      s"""WITH daily AS ($dailySql),
        |marked AS (SELECT t, y, t % 7 AS dow FROM daily),
        |cells AS (
        |  SELECT y, dow, CAST(count(*) AS BIGINT) AS cnt
        |  FROM marked GROUP BY 1, 2),
        |grid AS (
        |  SELECT y, CAST(count(*) AS BIGINT) AS cv,
        |    CAST(sum(count(*)) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING)
        |      - count(*) AS BIGINT) AS cbelow
        |  FROM marked GROUP BY y),
        |groups AS (
        |  SELECT dow, CAST(sum(cnt) AS BIGINT) AS nj,
        |    CAST(sum(cnt * (2 * g.cbelow + g.cv + 1)) AS BIGINT) AS r2j
        |  FROM cells c JOIN grid g USING (y)
        |  GROUP BY dow),
        |sr2t AS (
        |  SELECT max(cterm) AS sr2, max(ntot) AS n FROM (
        |    SELECT sum(CAST(r2j AS DOUBLE) * r2j / (4e0 * nj))
        |      OVER (ORDER BY dow ROWS UNBOUNDED PRECEDING) AS cterm,
        |      CAST(sum(nj) OVER () AS BIGINT) AS ntot
        |    FROM groups) c),
        |tiest AS (
        |  SELECT CAST(sum(cv * cv * cv - cv) AS BIGINT) AS ties FROM grid)
        |SELECT n AS n_days,
        |  round($kwH, 4) AS h,
        |  round($kwHc, 4) AS h_corrected,
        |  CAST(6 AS BIGINT) AS df,
        |  CAST(CASE WHEN $kwHc > 12.59 THEN 1 ELSE 0 END AS BIGINT) AS sig_flag
        |FROM sr2t CROSS JOIN tiest""".stripMargin,
    "lt48_sax_motifs" ->
      s"""WITH daily AS ($dailySql),
        |tot AS (
        |  SELECT t, y,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    CAST(sum(y) OVER () AS BIGINT) AS s1,
        |    CAST(sum(y * y) OVER () AS BIGINT) AS s2
        |  FROM daily),
        |sym AS (SELECT t, $saxSym AS sym FROM tot),
        |grams AS (
        |  SELECT lag(sym, 2) OVER (ORDER BY t) ||
        |    lag(sym, 1) OVER (ORDER BY t) || sym AS motif
        |  FROM sym)
        |SELECT motif, CAST(count(*) AS BIGINT) AS n
        |FROM grams WHERE motif IS NOT NULL
        |GROUP BY motif
        |ORDER BY n DESC, motif
        |LIMIT 5""".stripMargin)
}

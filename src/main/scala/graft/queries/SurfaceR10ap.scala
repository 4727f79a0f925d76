package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 42: scale-native resampling + tree-split
  * primitives — the Poisson bootstrap (the ONLY bootstrap that works
  * on a cluster: per-row independent Poisson(1) weights replace
  * with-replacement resampling, so B replicates are one pass with no
  * shuffle of the data at all) and the decision-tree best-split scan
  * (the inner loop of every distributed tree learner: candidate
  * thresholds scored by Gini gain from cumulative class counts — one
  * hash agg + one bounded cumsum, never a per-threshold pass).
  *
  * House float discipline: md5 inverse-CDF weights (lp43's seeded-
  * noise idiom) and exact integer (count, positive) sums; Gini/CI
  * formulas are ONE shared SQL text.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * areas SURVEY.md §2.12 (pipeline ops), §2.13 (statistics/ML).
  */
object SurfaceR10ap extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  /** Poisson(1) via inverse CDF on the seeded uniform — literal CDF
    * thresholds so both engines parse the identical doubles. */
  private def pois1Sql(u: String): String =
    s"""(CASE WHEN $u < 0.36787944117144233 THEN 0
       | WHEN $u < 0.7357588823428847 THEN 1
       | WHEN $u < 0.9196986029286058 THEN 2
       | WHEN $u < 0.9810118431238463 THEN 3
       | WHEN $u < 0.9963401531726563 THEN 4
       | WHEN $u < 0.9994058151824183 THEN 5
       | ELSE 6 END)""".stripMargin.replace("\n", "")

  private val centsSql = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"

  // ---- LP55: Poisson bootstrap CI ----

  private val repMeanSql = "(CAST(swx AS DOUBLE) / sw / 100.0)"

  /** LP55: POISSON BOOTSTRAP CI — B=16 replicates of the mean order
    * total. Each row contributes Poisson(1) copies to each replicate,
    * with the weight a PURE md5 FUNCTION of (orderkey, replicate) —
    * reproducible across engines, retries, and repartitions, and
    * requiring ZERO data movement: the replicate sums are one
    * explode×16 + hash agg (at 100 TB this is the difference between
    * a bootstrap you can run and one you cannot). Replicate means are
    * exact-integer ratios; the CI takes order statistics across the
    * 16 (the 2.5%/97.5% quantiles). */
  val lp55PoissonBootstrap: Q = (s, d) => {
    val u = unifSql("concat(o_orderkey, ':', r, ':boot')")
    val reps = orders(s, d)
      .select(col("o_orderkey"), expr(centsSql).as("cents"))
      .select(col("o_orderkey"), col("cents"),
        explode(expr("sequence(1, 16)")).as("r"))
      .select(col("r"), expr(s"${pois1Sql(u)} * cents").as("wx"),
        expr(pois1Sql(u)).as("w"))
      .groupBy("r")
      .agg(sum("wx").as("swx"), sum("w").as("sw"))
    val full = orders(s, d)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr(centsSql)).as("sc"))
    reps.agg(count(lit(1)).as("n_reps"),
        expr(s"percentile($repMeanSql, 0.025)").as("lo"),
        expr(s"percentile($repMeanSql, 0.975)").as("hi"))
      .crossJoin(broadcast(full))
      .select(col("n_reps"), col("n_rows"),
        r4(expr("CAST(sc AS DOUBLE) / n_rows / 100.0")).as("mean_full"),
        r4(col("lo")).as("boot_lo"),
        r4(col("hi")).as("boot_hi"))
  }

  // ---- M124: best-split scan ----

  private def giniSql(p: String, m: String): String =
    s"(2.0 * (CAST($p AS DOUBLE) / ($m)) * (1.0 - CAST($p AS DOUBLE) / ($m)))"

  private val gainSql = {
    val root = giniSql("pos_tot", "n_tot")
    val left = giniSql("posl", "nl")
    val right = giniSql("pos_tot - posl", "n_tot - nl")
    s"($root - (CAST(nl AS DOUBLE) / n_tot) * $left - (CAST(n_tot - nl AS DOUBLE) / n_tot) * $right)"
  }

  /** M124: BEST-SPLIT SCAN — the distributed decision-tree primitive:
    * score every candidate threshold of a numeric feature (kilodollar
    * buckets of order total) against a binary label (order finalized)
    * by Gini gain, via per-bucket (count, positives) + ONE cumulative
    * scan — NOT a per-threshold pass over the data. This is exactly
    * how MLlib's RandomForest finds splits (binned statistics,
    * aggregated once); here it is exposed as a queryable operator with
    * the top-5 thresholds. Facts feed a ~600-bucket hash agg; the
    * cumsum window is bounded by the bin count, sanctioned via
    * [[graft.Windows.bounded]]. All gain inputs are exact integers ⇒
    * the ranking is bit-deterministic (the m97 rank lesson). */
  val m124BestSplit: Q = (s, d) => {
    val perBucket = orders(s, d)
      .select(expr("CAST(floor(o_totalprice / 1000.0) AS BIGINT)").as("bucket"),
        expr("CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END").as("pos"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), sum("pos").as("p"))
    val w = graft.Windows.bounded(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = perBucket.agg(sum("cnt").as("n_tot"), sum("p").as("pos_tot"))
    perBucket
      .withColumn("nl", sum(col("cnt")).over(w))
      .withColumn("posl", sum(col("p")).over(w))
      .crossJoin(broadcast(tot))
      .where(col("nl") < col("n_tot"))
      .select(col("bucket").as("threshold"), col("nl"),
        r4(expr(gainSql)).as("gain"),
        expr(gainSql).as("_raw"))
      .orderBy(col("_raw").desc, col("threshold"))
      .limit(5)
      .drop("_raw")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "lp55_poisson_bootstrap" -> lp55PoissonBootstrap,
    "m124_best_split" -> m124BestSplit)

  val oracleSql: Map[String, String] = Map(
    "lp55_poisson_bootstrap" -> {
      val u = unifSql("concat(o_orderkey, ':', r, ':boot')")
      s"""WITH base AS (
        |  SELECT o_orderkey, $centsSql AS cents FROM orders),
        |reps AS (
        |  SELECT r.r,
        |    CAST(sum(${pois1Sql(u)} * cents) AS BIGINT) AS swx,
        |    CAST(sum(${pois1Sql(u)}) AS BIGINT) AS sw
        |  FROM base CROSS JOIN (SELECT unnest(range(1, 17)) AS r) r
        |  GROUP BY 1),
        |full_ AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(cents) AS BIGINT) AS sc
        |  FROM base),
        |ci AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_reps,
        |    quantile_cont($repMeanSql, 0.025) AS lo,
        |    quantile_cont($repMeanSql, 0.975) AS hi
        |  FROM reps)
        |SELECT n_reps, n_rows,
        |  round(CAST(sc AS DOUBLE) / n_rows / 100.0, 4) AS mean_full,
        |  round(lo, 4) AS boot_lo,
        |  round(hi, 4) AS boot_hi
        |FROM ci CROSS JOIN full_""".stripMargin
    },
    "m124_best_split" ->
      s"""WITH per AS (
        |  SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM orders GROUP BY 1),
        |cum AS (
        |  SELECT bucket,
        |    CAST(sum(cnt) OVER w AS BIGINT) AS nl,
        |    CAST(sum(p) OVER w AS BIGINT) AS posl
        |  FROM per
        |  WINDOW w AS (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_tot,
        |    CAST(sum(p) AS BIGINT) AS pos_tot FROM per)
        |SELECT bucket AS threshold, nl,
        |  round($gainSql, 4) AS gain
        |FROM cum CROSS JOIN tot
        |WHERE nl < n_tot
        |ORDER BY $gainSql DESC, threshold
        |LIMIT 5""".stripMargin)
}

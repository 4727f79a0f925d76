package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.PrefixSum

/** Round-10 surface batch 73: probability-proportional token sampling
  * — a MULTINOMIAL SAMPLER over the corpus unigram distribution by
  * inverse-CDF lookup: 64 md5-deterministic draws land on the
  * cumulative token-count axis and each resolves to the token whose
  * [cumstart, cumend) interval contains it. This is the synthetic-
  * data / negative-sampling primitive (sample tokens ∝ frequency)
  * expressed as a JOIN: the cumulative axis comes from [[PrefixSum]]
  * (range-partitioned — no vocab-wide single-partition window), and
  * the 64 probes hit it via one BROADCAST range join. Every draw,
  * interval, and count is an exact integer — the sample is
  * bit-deterministic and exactly reproducible on both engines.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.8/§2.12 (sampling / pipeline ops), siblings
  * lp20/lp59/m32.
  */
object SurfaceR10bu extends QueryBatch {
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  /** LP65: MULTINOMIAL SAMPLER — tokens sampled ∝ corpus frequency by
    * 64 deterministic inverse-CDF probes; output is the sampled
    * histogram with each token's true count (so the report doubles as
    * a calibration check: high-count tokens should dominate). */
  val lp65MultinomialSampler: Q = (s, d) => {
    val counts = documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val axis = PrefixSum
      .withRunningTotal(counts, Seq("w"), "c", numPartitions = 16,
        outCol = "cumend")
      .withColumn("cumstart", col("cumend") - col("c"))
    val total = counts.agg(sum("c").as("n_tok"))
    val draws = s.range(1, 65).toDF("r")
      .crossJoin(broadcast(total))
      .select(col("r"),
        expr(s"${hSql("concat('draw:', r)")} % n_tok").as("target"))
    axis
      .join(broadcast(draws),
        col("target") >= col("cumstart") && col("target") < col("cumend"))
      .groupBy("w", "c")
      .agg(count(lit(1)).as("n_draws"))
      .select(col("w"), col("c"), col("n_draws"))
      .orderBy(col("n_draws").desc, col("w"))
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "lp65_multinomial_sampler" -> lp65MultinomialSampler)

  val oracleSql: Map[String, String] = Map(
    "lp65_multinomial_sampler" ->
      s"""WITH counts AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY tok),
        |axis AS (
        |  SELECT w, c,
        |    CAST(sum(c) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumend,
        |    CAST(sum(c) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) - c AS BIGINT) AS cumstart
        |  FROM counts),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM counts),
        |draws AS (
        |  SELECT r, CAST(${hSql("concat('draw:', r)")} % n_tok AS BIGINT) AS target
        |  FROM (SELECT unnest(range(1, 65)) AS r) rr CROSS JOIN tot)
        |SELECT w, c, CAST(count(*) AS BIGINT) AS n_draws
        |FROM axis JOIN draws
        |  ON target >= cumstart AND target < cumend
        |GROUP BY w, c
        |ORDER BY n_draws DESC, w""".stripMargin)
}

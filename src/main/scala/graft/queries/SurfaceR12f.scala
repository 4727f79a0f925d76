package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-12 surface batch 6: footer-only aggregates and the
  * intermittent-demand forecaster —
  *
  *  - s30 PARQUET AGGREGATE PUSHDOWN: COUNT/MIN/MAX answered from
  *    parquet FOOTER STATISTICS through the DSv2 scan — the plan shows
  *    `PushedAggregation` and reads zero data pages. s1/q16/s29 prove
  *    filter, partition, and bloom pruning; this is the remaining
  *    metadata-only scan mode, and at 100 TB it is the difference
  *    between a row-count being free and being a full-table pass. The
  *    query REQUIRES the pushdown in-plan (fails loudly if Spark ever
  *    stops pushing), and the oracle recomputes the same aggregates
  *    from the data — so footer stats are verified against truth.
  *  - lt83 CROSTON'S METHOD: t15/lt17/lt69/lt77 all forecast DENSE
  *    series and degenerate on intermittent ones (mostly-zero demand
  *    averages toward zero); Croston 1972 instead smooths nonzero
  *    demand SIZES and inter-demand INTERVALS separately (α = 0.3) and
  *    forecasts their ratio. Per-part daily shipments over the
  *    multi-year fixture calendar are genuinely intermittent (~30–46
  *    demand days across ~2 500 days). The fold is exact-replay: pure
  *    per-group recursion over integer (size, gap) pairs, replayed by
  *    the oracle's recursive CTE in identical fp op order (the lt17/
  *    lt69 discipline) — no cross-row float sums exist at all.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * areas SURVEY.md §2.1 (scan modes), §2.13 (time series).
  */
object SurfaceR12f extends QueryBatch {
  import Orc.r4
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** S30: metadata-only COUNT/MIN/MAX via DSv2 aggregate pushdown.
    * The v2 parquet path and the pushdown flag are enabled only inside
    * this query and restored afterwards (the drive shares one session);
    * the result is localized while the configs are live (t16 pattern)
    * so the driver's later write cannot execute under restored flags. */
  val s30AggPushdown: Q = (s, d) => Shared.withConf(s,
      "spark.sql.sources.useV1SourceList" -> "avro,csv,json,kafka,orc,text",
      "spark.sql.parquet.aggregatePushdown" -> "true") {
    val df = s.read.parquet(s"$d/lineitem.parquet")
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_orderkey"),
        max("l_orderkey").as("max_orderkey"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
    require(df.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "s30: parquet aggregate pushdown did not engage — plan regressed")
    val rows = df.collect().toSeq
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), df.schema)
  }

  /** LT83: Croston demand-rate forecast per part (keys ≡ 0 mod 7 to
    * bound the oracle's recursion width; ≥ 8 demand days). Convention:
    * z initializes to the first demand size; v initializes to the
    * SECOND occurrence's raw gap (the first inter-demand interval),
    * smoothing from the third on. Forecast per day = z/v. */
  val lt83Croston: Q = (s, d) => {
    val demands = lineitem(s, d)
      .where(col("l_partkey") % 7 === 0)
      .groupBy(col("l_partkey").as("pk"),
        col("l_shipdate").cast("date").as("day"))
      .agg(sum(col("l_quantity")).cast("long").as("q"))
    val w = Window.partitionBy("pk").orderBy("day")
    val idx = demands
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("gap",
        coalesce(datediff(col("day"), lag("day", 1).over(w)), lit(0)).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("pk")))
      .where(col("n") >= 8)
    idx.groupBy(col("pk"), col("n"))
      .agg(sort_array(collect_list(struct(col("k"), col("q"), col("gap"))))
        .as("sv"))
      .select(col("pk").as("l_partkey"), col("n").as("n_demands"),
        expr("""aggregate(sv,
            named_struct('i', CAST(0 AS BIGINT),
              'z', CAST(0.0 AS DOUBLE), 'v', CAST(0.0 AS DOUBLE)),
            (acc, x) -> named_struct('i', acc.i + 1,
              'z', CASE WHEN acc.i = 0 THEN CAST(x.q AS DOUBLE)
                        ELSE 0.3 * x.q + 0.7 * acc.z END,
              'v', CASE WHEN acc.i = 0 THEN CAST(0 AS DOUBLE)
                        WHEN acc.i = 1 THEN CAST(x.gap AS DOUBLE)
                        ELSE 0.3 * x.gap + 0.7 * acc.v END))""").as("st"))
      .select(col("l_partkey"), col("n_demands"),
        r4(col("st.z")).as("size_level"),
        r4(col("st.v")).as("interval_level"),
        r4(col("st.z") / col("st.v")).as("demand_rate"))
      .orderBy("l_partkey")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "s30_agg_pushdown" -> s30AggPushdown,
    "lt83_croston" -> lt83Croston)

  val oracleSql: Map[String, String] = Map(
    "s30_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin,
    "lt83_croston" ->
      """WITH RECURSIVE d AS (
        |  SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS day,
        |    CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem WHERE l_partkey % 7 = 0 GROUP BY 1, 2),
        |idx AS (
        |  SELECT pk, q,
        |    CAST(row_number() OVER (PARTITION BY pk ORDER BY day) AS BIGINT) AS k,
        |    CAST(coalesce(date_diff('day',
        |      lag(day) OVER (PARTITION BY pk ORDER BY day), day), 0) AS BIGINT)
        |      AS gap,
        |    CAST(count(*) OVER (PARTITION BY pk) AS BIGINT) AS n
        |  FROM d QUALIFY n >= 8),
        |rec AS (
        |  SELECT pk, k, n, CAST(q AS DOUBLE) AS z, CAST(0 AS DOUBLE) AS v
        |  FROM idx WHERE k = 1
        |  UNION ALL
        |  SELECT i.pk, i.k, r.n,
        |    0.3 * i.q + 0.7 * r.z,
        |    CASE WHEN i.k = 2 THEN CAST(i.gap AS DOUBLE)
        |         ELSE 0.3 * i.gap + 0.7 * r.v END
        |  FROM rec r JOIN idx i ON i.pk = r.pk AND i.k = r.k + 1),
        |fin AS (
        |  SELECT pk, max(n) AS n, max_by(z, k) AS z, max_by(v, k) AS v
        |  FROM rec GROUP BY 1)
        |SELECT pk AS l_partkey, n AS n_demands,
        |  round(z, 4) AS size_level, round(v, 4) AS interval_level,
        |  round(z / v, 4) AS demand_rate
        |FROM fin ORDER BY 1""".stripMargin)
}

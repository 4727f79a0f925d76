package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 105: the Huber M-estimator of location
  * (IRLS) and the Hurst exponent by rescaled-range analysis.
  *
  * Contrast with near-siblings: the robust-location family trades
  * efficiency for breakdown in DISCRETE steps — a38 trimmed mean DROPS
  * a fixed tail fraction, lp13 winsorize CLIPS at fixed quantiles,
  * m28's median is the 50% breakdown extreme; m183 is the continuous
  * compromise: every residual beyond k = 1.345σ̂ is downweighted
  * PROPORTIONALLY (ψ(r) = min(1, k/|r|)), giving ~95% efficiency at
  * the normal while still bounding influence — and its IRLS loop is
  * the primitive robust REGRESSION builds on. lt64 vs the memory
  * family: lt11's ACF reads correlation at FIXED lags, lt51/lt61 test
  * level-stationarity/unit roots, lt36 whiteness; the Hurst exponent
  * measures how range GROWS with window length (R/S ∝ n^H) — long-
  * range dependence that fixed-lag tools cannot see (H≈0.5 random
  * walk increments, H>0.5 persistent, H<0.5 mean-reverting).
  *
  * Float discipline: Huber runs the m120 integer pipeline — exact
  * dollar integers, medians via even-count-exact percentile(2x), IRLS
  * weights quantized to 1e6 BIGINTs before every Σwx/Σw (the quantize-
  * before-sum rule), so each iteration's μ is one exact-integer
  * division both engines share. Hurst n-scales each block (u = n·x−S
  * integers), making the range n·R exact; per-block R/S quantizes to
  * 1e6 before block-averaging, and with scales {4,8,16} the log-log
  * slope is exactly (log₂RS₁₆ − log₂RS₄)/2 — no least-squares sum.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * areas SURVEY.md §2.13; siblings a38/lp13/m28 (robust location),
  * lt11/lt36/lt51/lt61 (series memory).
  */
object SurfaceR10da extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  private val IRLS_ROUNDS = 3

  /** Huber tuning constant from the exact MAD: k = 1.345 · 1.4826 ·
    * (mad4/4); mad4 = percentile(2·|2x−med2|) is integral for even
    * counts. Shared text. */
  private val huberK = "(1.345 * 1.4826 * (CAST(mad4 AS DOUBLE) / 4))"
  /** One IRLS weight, 1e6-quantized: w = min(1, k/|x−μ|), full weight
    * inside a quarter-dollar of μ (guards the 0-residual pole). */
  private def wq(mu: String): String =
    s"CAST(floor(CASE WHEN abs(x - $mu) < 0.25 THEN 1e6 " +
      s"ELSE least(1e0, $huberK / abs(x - $mu)) * 1e6 END + 0.5) AS BIGINT)"

  /** M183: HUBER LOCATION — per order priority: mean, median, and the
    * Huber M-estimate after 3 IRLS rounds from the median start, with
    * the tuning constant from the group's own MAD. The three columns
    * order mean ≥ huber ≥ … under right skew — the readout that shows
    * what the estimator does.
    *
    * Scale shape: each IRLS round is one hash agg over the scan (the
    * group medians/MADs broadcast back, k-row Σwx/Σw per group) — a
    * bounded chain of ROUNDS+2 aggregation passes, no row-level state;
    * exactly how a robust daily metric would run at 100 TB.
    */
  val m183HuberLocation: Q = (s, d) => {
    val rows = orders(s, d)
      .select(col("o_orderpriority").as("grp"), expr(dollarsSql).as("x"))
    val base = rows.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        expr("CAST(percentile(2 * x, 0.5) AS BIGINT)").as("med2"))
    val mad = rows.join(broadcast(base), "grp")
      .groupBy("grp")
      .agg(expr("CAST(percentile(2 * abs(2 * x - med2), 0.5) AS BIGINT)")
        .as("mad4"))
    var cur = base.join(mad, "grp")
      .select(col("grp"), col("n"), col("sx"), col("med2"), col("mad4"),
        expr("CAST(med2 AS DOUBLE) / 2").as("mu"))
    for (_ <- 1 to IRLS_ROUNDS) {
      cur = rows.join(broadcast(cur), "grp")
        .select(col("grp"), col("n"), col("sx"), col("med2"), col("mad4"),
          col("x"), expr(wq("mu")).as("w"))
        .groupBy("grp", "n", "sx", "med2", "mad4")
        .agg(sum(expr("w * x")).as("swx"), sum("w").as("sw"))
        .select(col("grp"), col("n"), col("sx"), col("med2"), col("mad4"),
          expr("CAST(swx AS DOUBLE) / sw").as("mu"))
    }
    cur.select(col("grp"), col("n"),
        r4(expr("CAST(sx AS DOUBLE) / n")).as("mean_x"),
        r4(expr("CAST(med2 AS DOUBLE) / 2")).as("median_x"),
        r4(col("mu")).as("huber_mu"))
      .orderBy("grp")
  }

  /** LT64: HURST EXPONENT — R/S analysis per event_type over the
    * active-day count series (index-contiguous): for window sizes
    * {4,8,16} (sized to the fixtures' ~30-active-day span so every
    * scale has complete blocks), average the rescaled range R/S over
    * complete blocks, then H = (log₂ RS₁₆ − log₂ RS₄) / 2 — the exact
    * 3-point log-log slope since the x-grid {2,3,4} is uniform.
    *
    * Scale shape: the series is calendar-bounded; blocks are a DIV on
    * the row index (one bounded window for the index, one for block
    * partial sums), then hash aggs — per-type cost is O(days · 3
    * scales) regardless of corpus size.
    */
  val lt64Hurst: Q = (s, d) => {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("CAST(floor(unix_micros(ts) / 86400000000) AS BIGINT)").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("x"))
    val wIdx = Window.partitionBy("event_type").orderBy("day")
    val indexed = daily.withColumn("i", row_number().over(wIdx))
    val bns = { import s.implicits._; Seq(4L, 8L, 16L).toDF("bn") }
    val scales = indexed.crossJoin(broadcast(bns))
      .withColumn("blk", expr("(i - 1) DIV bn"))
    val cells = scales.groupBy("event_type", "bn", "blk")
      .agg(count(lit(1)).as("cnt"), sum("x").as("sb"),
        sum(expr("x * x")).as("sbb"))
      .where(col("cnt") === col("bn"))
    val u = scales.join(cells.select(col("event_type"), col("bn"), col("blk"),
        col("sb"), col("sbb")),
        Seq("event_type", "bn", "blk"))
      .withColumn("u", expr("bn * x - sb"))
    val wBlk = Window.partitionBy("event_type", "bn", "blk").orderBy("i")
    val rs = u.withColumn("cu", sum(col("u")).over(wBlk))
      .groupBy("event_type", "bn", "blk", "sb", "sbb")
      .agg(max("cu").as("mx"), least(min("cu"), lit(0L)).as("mn"))
      // R = (max U − min U)/n with U including the empty prefix (0);
      // S = block sample std; quantize R/S per block to 1e6
      .select(col("event_type"), col("bn"),
        expr("CAST(floor((CAST(greatest(mx, 0) - mn AS DOUBLE) / bn) / " +
          "sqrt(CAST(bn * sbb - sb * sb AS DOUBLE) / " +
          "(CAST(bn AS DOUBLE) * (bn - 1))) * 1e6 + 0.5) AS BIGINT)")
          .as("rsq"))
    val avg = rs.groupBy("event_type", "bn")
      .agg(count(lit(1)).as("n_blocks"), sum("rsq").as("srs"))
      .select(col("event_type"), col("bn"), col("n_blocks"),
        expr("CAST(srs AS DOUBLE) / n_blocks / 1e6").as("avg_rs"))
    avg.groupBy("event_type")
      .agg(
        sum(when(col("bn") === 4, col("avg_rs"))).as("rs4"),
        sum(when(col("bn") === 8, col("avg_rs"))).as("rs8"),
        sum(when(col("bn") === 16, col("avg_rs"))).as("rs16"))
      .select(col("event_type"),
        r4(col("rs4")).as("rs_4"), r4(col("rs8")).as("rs_8"),
        r4(col("rs16")).as("rs_16"),
        r4(expr("(ln(rs16) - ln(rs4)) / (2 * ln(2))")).as("hurst_h"))
      .orderBy("event_type")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m183_huber_location" -> m183HuberLocation,
    "lt64_hurst" -> lt64Hurst)

  /** Unrolled IRLS chain; every μ CTE feeds the next round's weight
    * scan, so each is MATERIALIZED (the lg8 re-expansion lesson). */
  private def huberSql: String = {
    val steps = new StringBuilder
    var cur = "it0"
    for (i <- 1 to IRLS_ROUNDS) {
      steps.append(
        s"""it$i AS MATERIALIZED (
           |  SELECT c.grp, c.n, c.sx, c.med2, c.mad4,
           |    CAST(sum(${wq("c.mu")} * r.x) AS DOUBLE) /
           |      sum(${wq("c.mu")}) AS mu
           |  FROM r JOIN $cur c ON c.grp = r.grp
           |  GROUP BY 1, 2, 3, 4, 5),
           |""".stripMargin)
      cur = s"it$i"
    }
    s"""WITH r AS MATERIALIZED (
       |  SELECT o_orderpriority AS grp, $dollarsSql AS x FROM orders),
       |base AS MATERIALIZED (
       |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(quantile_cont(2 * x, 0.5) AS BIGINT) AS med2
       |  FROM r GROUP BY 1),
       |mad AS (
       |  SELECT r.grp,
       |    CAST(quantile_cont(2 * abs(2 * r.x - b.med2), 0.5) AS BIGINT)
       |      AS mad4
       |  FROM r JOIN base b ON b.grp = r.grp GROUP BY 1),
       |it0 AS MATERIALIZED (
       |  SELECT b.grp, b.n, b.sx, b.med2, m.mad4,
       |    CAST(b.med2 AS DOUBLE) / 2 AS mu
       |  FROM base b JOIN mad m ON m.grp = b.grp),
       |${steps.toString}
       |fin AS (SELECT * FROM $cur)
       |SELECT grp, n,
       |  round(CAST(sx AS DOUBLE) / n, 4) AS mean_x,
       |  round(CAST(med2 AS DOUBLE) / 2, 4) AS median_x,
       |  round(mu, 4) AS huber_mu
       |FROM fin ORDER BY grp""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "m183_huber_location" -> huberSql,
    "lt64_hurst" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |indexed AS (
        |  SELECT event_type, x,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS i
        |  FROM daily),
        |scales AS (
        |  SELECT event_type, x, i, bn, (i - 1) // bn AS blk
        |  FROM indexed CROSS JOIN
        |    (SELECT CAST(unnest([4, 8, 16]) AS BIGINT) AS bn)),
        |cells AS MATERIALIZED (
        |  SELECT event_type, bn, blk, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(x) AS BIGINT) AS sb,
        |    CAST(sum(x * x) AS BIGINT) AS sbb
        |  FROM scales GROUP BY 1, 2, 3),
        |u AS (
        |  SELECT s.event_type, s.bn, s.blk, s.i, c.sb, c.sbb,
        |    s.bn * s.x - c.sb AS u
        |  FROM scales s JOIN cells c
        |    ON c.event_type = s.event_type AND c.bn = s.bn AND c.blk = s.blk
        |  WHERE c.cnt = c.bn),
        |cu AS (
        |  SELECT event_type, bn, blk, sb, sbb,
        |    CAST(sum(u) OVER (PARTITION BY event_type, bn, blk ORDER BY i)
        |      AS BIGINT) AS cu
        |  FROM u),
        |rs AS (
        |  SELECT event_type, bn,
        |    CAST(floor((CAST(greatest(max(cu), 0) - least(min(cu), 0)
        |        AS DOUBLE) / bn) /
        |      sqrt(CAST(bn * any_value(sbb) - any_value(sb) * any_value(sb)
        |        AS DOUBLE) / (CAST(bn AS DOUBLE) * (bn - 1))) * 1e6 + 0.5)
        |      AS BIGINT) AS rsq
        |  FROM cu GROUP BY event_type, bn, blk),
        |avgrs AS (
        |  SELECT event_type, bn, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(rsq) AS BIGINT) AS srs
        |  FROM rs GROUP BY 1, 2),
        |piv AS (
        |  SELECT event_type,
        |    sum(CASE WHEN bn = 4 THEN CAST(srs AS DOUBLE) / n_blocks / 1e6
        |      END) AS rs4,
        |    sum(CASE WHEN bn = 8 THEN CAST(srs AS DOUBLE) / n_blocks / 1e6
        |      END) AS rs8,
        |    sum(CASE WHEN bn = 16 THEN CAST(srs AS DOUBLE) / n_blocks / 1e6
        |      END) AS rs16
        |  FROM avgrs GROUP BY 1)
        |SELECT event_type,
        |  round(rs4, 4) AS rs_4, round(rs8, 4) AS rs_8,
        |  round(rs16, 4) AS rs_16,
        |  round((ln(rs16) - ln(rs4)) / (2 * ln(2)), 4) AS hurst_h
        |FROM piv ORDER BY event_type""".stripMargin)
}

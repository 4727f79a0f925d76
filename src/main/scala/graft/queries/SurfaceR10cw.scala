package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 101: the two classical-test gaps left in the
  * stationarity and spread families — the Dickey–Fuller unit-root test
  * and Bartlett's log-variance homogeneity test.
  *
  * Contrast with near-siblings: lt51 (KPSS) tests the null of LEVEL-
  * STATIONARITY via partial-sum energy; lt61 (ADF/DF) tests the
  * opposite null — a UNIT ROOT — via the t-ratio of the lag coefficient
  * in Δx_t = α + β·x_{t−1} + ε. Practitioners run the pair as
  * confirmatory analysis: KPSS-reject + DF-reject is a contradiction
  * flag, KPSS-pass + DF-reject is confident stationarity. m121
  * (Durbin–Watson) tests residual SERIAL CORRELATION of a fitted
  * regression, m123 (Mann–Kendall) monotone trend — neither speaks to
  * unit roots. m181 (Bartlett) vs m120 (Brown–Forsythe): both test
  * equal group spread, but BF is the robust ANOVA on |x − median|
  * while Bartlett is the normal-theory chi-square on log variances —
  * more powerful under normality, famously kurtosis-sensitive, and the
  * classical gatekeeper before a pooled-variance ANOVA. Reporting both
  * is the standard practice the pair enables.
  *
  * Float discipline: DF reduces to three exact integers per series —
  * A = mΣld−ΣlΣd, B = mΣl²−(Σl)², C = mΣd²−(Σd)² — with the only
  * doubles β̂ = A/B and t = A·√((m−2)/(BC−A²)); BC and A² are formed in
  * DECIMAL(38,0)/HUGEINT so the contraction trap (a−b·c FMA ulp) and
  * BIGINT overflow at 100× scale are both structurally excluded.
  * Bartlett quantizes each group's (n−1)·ln s² to 1e-6 integers and
  * 1/(n−1) to 1e-12 integers before the k-row sums (engines pick the
  * sum order; integers make it irrelevant), with n·SS = nΣx²−(Σx)²
  * exact in DECIMAL(38,0)/HUGEINT.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract area
  * SURVEY.md §2.13 (drift/quality tests); siblings lt51 (SurfaceR10cf),
  * m120/m118 (SurfaceR10am), m121 (SurfaceR10an).
  */
object SurfaceR10cw extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- LT61: (augmented) Dickey–Fuller, lag order 0, with constant ----

  /** Closing formulas shared verbatim by both engines. `vbig` is
    * BC − A² in 128-bit; beta/t are the only doubles. */
  private val dfBeta = "CAST(a AS DOUBLE) / b"
  private val dfT =
    "CAST(a AS DOUBLE) * sqrt(CAST(m - 2 AS DOUBLE) / CAST(vbig AS DOUBLE))"

  /** LT61: DICKEY–FULLER unit-root t-test per event_type over the
    * daily event-count series (lag order 0, intercept included —
    * stated, so the statistic is exact and reproducible): regress
    * Δx_t on x_{t−1}, report β̂, the DF t-ratio, and the 5% call
    * against the −2.86 constant-case asymptotic critical value.
    *
    * Scale shape: facts → per-(type,day) hash agg; the lag is a
    * per-type window over a calendar-bounded series (≤ #days rows per
    * type no matter the corpus size); the regression is one closing
    * agg per type — no row-level window over facts, no extra shuffle.
    */
  val lt61Adf: Q = (s, d) => {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("CAST(floor(unix_micros(ts) / 86400000000) AS BIGINT)").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val diffed = daily
      .withColumn("l", lag(col("x"), 1).over(w))
      .where(col("l").isNotNull)
      .select(col("event_type"), col("l"), (col("x") - col("l")).as("dd"))
    diffed.groupBy("event_type")
      .agg(count(lit(1)).as("m"),
        sum("l").as("sl"), sum("dd").as("sd"),
        sum(expr("l * l")).as("sll"),
        sum(expr("l * dd")).as("sld"),
        sum(expr("dd * dd")).as("sdd"))
      .select(col("event_type"), col("m"),
        expr("m * sld - sl * sd").as("a"),
        expr("m * sll - sl * sl").as("b"),
        expr("m * sdd - sd * sd").as("c"))
      .select(col("event_type"), col("m"), col("a"), col("b"),
        expr("CAST(b AS DECIMAL(38,0)) * c - CAST(a AS DECIMAL(38,0)) * a")
          .as("vbig"))
      .select(col("event_type"), col("m").as("n_diffs"),
        r4(expr(dfBeta)).as("beta_hat"),
        r4(expr(dfT)).as("df_t"),
        expr(s"$dfT < -2.86").as("reject_unit_root_5pct"))
      .orderBy("event_type")
  }

  // ---- M181: Bartlett's test of homogeneity of variances ----

  /** Per-group derived terms, shared verbatim. `vn` = n·Σx²−(Σx)²
    * (128-bit exact); s² = vn/(n(n−1)). */
  private val btLnVar =
    "ln(CAST(vn AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))"
  private val btTermQ =
    s"CAST(floor((n - 1) * $btLnVar * 1e6 + 0.5) AS BIGINT)"
  private val btSsQ =
    "CAST(floor(CAST(vn AS DOUBLE) / n + 0.5) AS BIGINT)"
  private val btRecipQ =
    "CAST(floor(1e12 / (n - 1) + 0.5) AS BIGINT)"
  /** Closing formula from the exact-integer accumulators. */
  private val btLnPooled = "ln(CAST(ssq AS DOUBLE) / (nn - k))"
  private val btStat =
    s"(((nn - k) * $btLnPooled - CAST(tq AS DOUBLE) / 1e6) / " +
      "(1 + (CAST(rq AS DOUBLE) / 1e12 - 1.0 / (nn - k)) / (3.0 * (k - 1))))"

  /** M181: BARTLETT — the normal-theory test that the five order-
    * priority groups share one variance of whole-dollar order value:
    * T = [(N−k)·ln s²_p − Σ(nᵢ−1)·ln s²ᵢ] / C with the Box correction
    * C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)); reject at 5% against
    * χ²₄ = 9.488. One row.
    *
    * Scale shape: one hash agg over the scan to 5 group cells, then a
    * 5-row closing agg — the m120 plan with a different closing
    * formula; nothing here scales with rows beyond the first agg.
    */
  val m181Bartlett: Q = (s, d) => {
    val cells = orders(s, d)
      .select(col("o_orderpriority").as("grp"), expr(dollarsSql).as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("s1"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"))
      .select(col("grp"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) * s1")
          .as("vn"))
    cells
      .select(col("n"), expr(btTermQ).as("tq1"), expr(btSsQ).as("ss1"),
        expr(btRecipQ).as("rq1"))
      .agg(count(lit(1)).as("k"), sum("n").as("nn"), sum("tq1").as("tq"),
        sum("ss1").as("ssq"), sum("rq1").as("rq"))
      .select(col("k"), col("nn").as("n"),
        r4(expr(btLnPooled)).as("ln_pooled_var"),
        r4(expr(btStat)).as("bartlett_t"),
        expr(s"$btStat > 9.488").as("reject_5pct"))
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "lt61_adf" -> lt61Adf,
    "m181_bartlett" -> m181Bartlett)

  val oracleSql: Map[String, String] = Map(
    "lt61_adf" ->
      s"""WITH daily AS (
        |  SELECT event_type,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |diffed AS (
        |  SELECT event_type, l, x - l AS dd FROM (
        |    SELECT event_type, x,
        |      lag(x) OVER (PARTITION BY event_type ORDER BY day) AS l
        |    FROM daily)
        |  WHERE l IS NOT NULL),
        |sums AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(l) AS BIGINT) AS sl, CAST(sum(dd) AS BIGINT) AS sd,
        |    CAST(sum(l * l) AS BIGINT) AS sll,
        |    CAST(sum(l * dd) AS BIGINT) AS sld,
        |    CAST(sum(dd * dd) AS BIGINT) AS sdd
        |  FROM diffed GROUP BY 1),
        |abc AS (
        |  SELECT event_type, m,
        |    m * sld - sl * sd AS a,
        |    m * sll - sl * sl AS b,
        |    m * sdd - sd * sd AS c
        |  FROM sums),
        |fin AS (
        |  SELECT event_type, m, a, b,
        |    CAST(b AS HUGEINT) * c - CAST(a AS HUGEINT) * a AS vbig
        |  FROM abc)
        |SELECT event_type, m AS n_diffs,
        |  round($dfBeta, 4) AS beta_hat,
        |  round($dfT, 4) AS df_t,
        |  $dfT < -2.86 AS reject_unit_root_5pct
        |FROM fin ORDER BY event_type""".stripMargin,
    "m181_bartlett" ->
      s"""WITH r AS (
        |  SELECT o_orderpriority AS grp, $dollarsSql AS x FROM orders),
        |cells AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s1,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
        |  FROM r GROUP BY 1),
        |vn AS (
        |  SELECT grp, n,
        |    CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS vn
        |  FROM cells),
        |q AS (
        |  SELECT n, $btTermQ AS tq1, $btSsQ AS ss1, $btRecipQ AS rq1
        |  FROM vn),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(tq1) AS BIGINT) AS tq, CAST(sum(ss1) AS BIGINT) AS ssq,
        |    CAST(sum(rq1) AS BIGINT) AS rq
        |  FROM q)
        |SELECT k, nn AS n,
        |  round($btLnPooled, 4) AS ln_pooled_var,
        |  round($btStat, 4) AS bartlett_t,
        |  $btStat > 9.488 AS reject_5pct
        |FROM agg""".stripMargin)
}

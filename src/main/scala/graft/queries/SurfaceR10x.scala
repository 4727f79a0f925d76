package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Orc, Tables}

/** Round-10 surface batch 24: privacy + distributional analytics —
  * differentially-private counts with DETERMINISTIC (seeded-inverse-
  * CDF) Laplace noise, the powers-of-two log histogram, distinctive
  * terms per source by Dirichlet-smoothed log-odds, and Cook's
  * distance regression diagnostics.
  *
  * Float discipline per SurfaceR10l: exact integer counts; ln/exp on
  * engine-identical doubles; every ranking cuts on a rounded score
  * with an id tiebreak.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract areas
  * SURVEY.md §2.11–§2.13; privacy family (lp33 k-anonymity).
  */
object SurfaceR10x extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- LP43: differentially private counts ----

  /** Laplace(b) noise via inverse CDF on the seeded uniform:
    * −b·sgn(u−½)·ln(1−2|u−½|). */
  private def lapSql(u: String, b: String): String =
    s"(-($b) * CASE WHEN $u >= 0.5 THEN 1.0 ELSE -1.0 END * " +
      s"ln(1.0 - 2.0 * abs($u - 0.5)))"

  /** LP43: DP COUNTS — per-(priority, status) order counts with
    * ε=1 Laplace noise (sensitivity 1 ⇒ b=1/ε). The noise draw is a
    * PURE FUNCTION of the cell key via the md5 inverse-CDF, so the
    * release is reproducible across engines and retries — exactly how
    * a production DP release pins its noise to a seed vault. True
    * counts never appear in the output (only the noised value and the
    * ε accounting columns). The k-anonymity audit (lp33) suppresses;
    * DP perturbs — a real privacy stack runs both. */
  val lp43DpCounts: Q = (s, d) => {
    val u = unifSql("concat(grp_a, ':', grp_b, ':dp1')")
    orders(s, d)
      .groupBy(col("o_orderpriority").as("grp_a"),
        col("o_orderstatus").as("grp_b"))
      .agg(count(lit(1)).as("c_true"))
      .select(col("grp_a"), col("grp_b"),
        r4(expr(s"c_true + ${lapSql(u, "1.0")}")).as("dp_count"),
        lit(1.0).as("epsilon"),
        lit(1L).as("sensitivity"))
      .orderBy("grp_a", "grp_b")
  }

  // ---- A37: log-scale histogram ----

  /** A37: LOG HISTOGRAM — powers-of-two buckets of order totals: the
    * latency-histogram shape (HDR-style) where linear bins (a15) waste
    * resolution on the tail and equi-depth bins (a30) need a sort.
    * bucket = ⌊log₂⌋ via length-of-binary on the exact integer cents —
    * pure integer arithmetic, no float log at all, so bucket edges
    * cannot disagree by an ulp. */
  val a37LogHistogram: Q = (s, d) =>
    orders(s, d)
      .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
        .as("cents"))
      .withColumn("bucket", expr("CAST(length(bin(cents)) AS INT) - 1"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
      .orderBy("bucket")

  // ---- LT33: distinctive terms per source ----

  private val logOddsSql =
    "(ln((CAST(c AS DOUBLE) + 0.5) / (CAST(n_src AS DOUBLE) - c + 0.5)) - " +
      "ln((CAST(ctot AS DOUBLE) - c + 0.5) / (CAST(ntot AS DOUBLE) - n_src - ctot + c + 0.5)))"

  /** LT33: DISTINCTIVE TERMS — for every source, the 3 tokens whose
    * Dirichlet-smoothed log-odds most separate it from the REST of the
    * corpus (Monroe et al.'s weighted log-odds, the corpus-exploration
    * tool that answers "what is src7 actually about" — where tf-idf
    * ranks within a doc and PMI ranks pairs, this contrasts one slice
    * against everything else). Token counts per source vs global: two
    * hash aggs and a broadcast join; ranking cuts on the r8-rounded
    * score with a token tiebreak. */
  val lt33DistinctiveTerms: Q = (s, d) => {
    val toks = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val perSrc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val srcTot = toks.groupBy("source").agg(count(lit(1)).as("n_src"))
    val tokTot = perSrc.groupBy("tok").agg(sum("c").as("ctot"))
    val tot = srcTot.agg(sum("n_src").as("ntot"))
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("tok").asc)
    perSrc
      .join(broadcast(srcTot), "source")
      .join(broadcast(tokTot), "tok")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("tok"),
        Orc.rN(expr(logOddsSql), 8).as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("source"), col("rk"), col("tok"), r4(col("score")).as("log_odds"))
      .orderBy("source", "rk")
  }

  // ---- M97: Cook's distance ----

  private val hatSql =
    "(1.0 / n + (CAST(x AS DOUBLE) - sx / n) * (x - sx / n) / (sxx - CAST(sx AS DOUBLE) * sx / n))"
  private val residSql =
    "(CAST(y AS DOUBLE) - (beta0 + beta1 * x))"

  /** M97: COOK'S DISTANCE — influence diagnostics for the simple OLS
    * of order total (cents) on line count per order: leverage from the
    * closed-form hat diagonal, Dᵢ = eᵢ²·hᵢ/(2s²(1−hᵢ)²), reporting the
    * 10 most influential orders. The post-fit audit every regression
    * deserves: a handful of mega-orders steering the slope show up
    * here first. All sums exact integers (cents, counts); slope/
    * intercept/residuals closed-form; ranking cuts on the r8-rounded
    * distance with an id tiebreak. */
  val m97CooksDistance: Q = (s, d) => {
    val per = lineitem(s, d).groupBy("l_orderkey")
      .agg(count(lit(1)).as("x"),
        floor(sum(col("l_extendedprice")) * 100 + lit(0.5)).cast("long").as("y"))
    val st = per.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"))
      .withColumn("beta1", expr(
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"))
      .withColumn("beta0", expr("CAST(sy AS DOUBLE) / n - beta1 * (CAST(sx AS DOUBLE) / n)"))
    val withResid = per.crossJoin(broadcast(st))
      .withColumn("e", expr(residSql))
      .withColumn("h", expr(hatSql))
    val s2 = withResid.agg(sum(expr("e * e")).as("sse"), first("n").as("nn"))
      .withColumn("s2", expr("sse / (nn - 2)"))
    // rank on the s²-FREE influence term t = e²h/(1−h)²: e and h are
    // engine-identical per row (closed forms on exact sums), while s²
    // carries a float-sum-order ulp — as a COMMON factor it cannot
    // change the true ordering, but rounding d = t/(2s²) before ranking
    // let two near-tied rows straddle a rounding edge differently per
    // engine (observed: ranks 2/3 swapped). Ranking on t is exact.
    withResid.crossJoin(broadcast(s2.select("s2")))
      .withColumn("t", expr("e * e * h / ((1.0 - h) * (1.0 - h))"))
      .orderBy(col("t").desc, col("l_orderkey").asc)
      .limit(10)
      .select(col("l_orderkey"), col("x"),
        r4(expr("t / (2.0 * s2)")).as("cooks_d"))
      .orderBy(col("cooks_d").desc, col("l_orderkey").asc)
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "lp43_dp_counts" -> lp43DpCounts,
    "a37_log_histogram" -> a37LogHistogram,
    "lt33_distinctive_terms" -> lt33DistinctiveTerms,
    "m97_cooks_distance" -> m97CooksDistance)

  val oracleSql: Map[String, String] = Map(
    "lp43_dp_counts" -> {
      val u = unifSql("grp_a || ':' || grp_b || ':dp1'")
      s"""WITH cells AS (
        |  SELECT o_orderpriority AS grp_a, o_orderstatus AS grp_b,
        |    CAST(count(*) AS BIGINT) AS c_true
        |  FROM orders GROUP BY 1, 2)
        |SELECT grp_a, grp_b,
        |  round(c_true + ${lapSql(u, "1.0")}, 4) AS dp_count,
        |  CAST(1.0 AS DOUBLE) AS epsilon,
        |  CAST(1 AS BIGINT) AS sensitivity
        |FROM cells ORDER BY grp_a, grp_b""".stripMargin
    },
    "a37_log_histogram" ->
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(length(bin(cents)) AS INT) - 1 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(cents) AS BIGINT) AS min_cents,
        |  CAST(max(cents) AS BIGINT) AS max_cents
        |FROM c GROUP BY bucket ORDER BY bucket""".stripMargin,
    "lt33_distinctive_terms" ->
      s"""WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |per_src AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |src_tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
        |            FROM toks GROUP BY source),
        |tok_tot AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ctot
        |            FROM per_src GROUP BY tok),
        |tot AS (SELECT CAST(sum(n_src) AS BIGINT) AS ntot FROM src_tot),
        |scored AS (
        |  SELECT source, tok, round($logOddsSql, 8) AS score
        |  FROM per_src
        |  JOIN src_tot USING (source)
        |  JOIN tok_tot USING (tok)
        |  CROSS JOIN tot),
        |ranked AS (
        |  SELECT source, tok, score,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, tok) AS BIGINT) AS rk
        |  FROM scored)
        |SELECT source, rk, tok, round(score, 4) AS log_odds
        |FROM ranked WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    "m97_cooks_distance" ->
      s"""WITH per AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x,
        |    CAST(floor(sum(l_extendedprice) * 100 + 0.5) AS BIGINT) AS y
        |  FROM lineitem GROUP BY l_orderkey),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM per),
        |betas AS (
        |  SELECT n, sx, sxx,
        |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS beta1,
        |    CAST(sy AS DOUBLE) / n -
        |      ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |       (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
        |      * (CAST(sx AS DOUBLE) / n) AS beta0
        |  FROM st),
        |wr AS (
        |  SELECT l_orderkey, x,
        |    $residSql AS e,
        |    $hatSql AS h
        |  FROM per CROSS JOIN betas),
        |s2_t AS (
        |  SELECT sum(e * e) / (any_value(n) - 2) AS s2
        |  FROM wr CROSS JOIN betas),
        |scored AS (
        |  SELECT l_orderkey, x,
        |    e * e * h / ((1.0 - h) * (1.0 - h)) AS t, s2
        |  FROM wr CROSS JOIN s2_t),
        |top AS (
        |  SELECT l_orderkey, x, round(t / (2.0 * s2), 4) AS cooks_d
        |  FROM scored ORDER BY t DESC, l_orderkey LIMIT 10)
        |SELECT l_orderkey, x, cooks_d FROM top
        |ORDER BY cooks_d DESC, l_orderkey""".stripMargin)
}

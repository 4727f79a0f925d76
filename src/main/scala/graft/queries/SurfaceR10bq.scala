package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 69: related-binary testing + LSH operating
  * characteristic — COCHRAN'S Q (did the three top order priorities
  * appear with the same weekly regularity? the k-treatment extension
  * of McNemar (m87) on matched binary outcomes), and the MINHASH
  * BANDING S-CURVE (for l2b's 2-band × 4-row signature scheme, the
  * empirically observed candidate probability per Jaccard decile vs
  * the theoretical 1−(1−J⁴)² capture curve — the calibration chart
  * that justifies a banding config before signing a billion docs).
  * Cochran's Q is exact-integer throughout with the exact χ²(2)
  * p-value e^{−Q/2}; the S-curve counts signature/band matches and
  * set overlaps as exact integers on a bounded probe set.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * areas SURVEY.md §2.13 (statistics), §2.12 (dedup sketches).
  */
object SurfaceR10bq extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- M153: Cochran's Q ----

  // Degenerate-data guard (found by the round-11 DECADE slope gate at
  // sf0.1): when every week has all three priorities, L_i = k for all
  // rows and the discordance denominator kΣL−ΣL² is EXACTLY zero — Q
  // is undefined (there is no within-subject variation to test). Both
  // engines take the same limit: Q = 0, p = 1 ("no discordance, no
  // evidence"). At sf0.01 discordant weeks exist, so the hash-checked
  // values are unchanged.
  private val cqQ =
    "(CASE WHEN 3e0 * sl - sl2 = 0e0 THEN 0e0 ELSE " +
      "(3 - 1) * (3e0 * sg2 - CAST(sg AS DOUBLE) * sg) / (3e0 * sl - sl2) END)"
  private val cqP = s"(exp(-$cqQ / 2e0))"

  /** M153: COCHRAN'S Q — subjects are calendar weeks, treatments the
    * three top priorities; outcome x_ij = 1 if week i saw at least
    * one order of priority j. Q = (k−1)(kΣG_j²−(ΣG_j)²)/(kΣL_i−ΣL_i²)
    * over exact integer margins, p exact under χ²(k−1=2). */
  val m153CochranQ: Q = (s, d) => {
    val cells = orders(s, d)
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM"))
      .select(
        floor(datediff(col("o_orderdate").cast("date"),
          lit("1992-01-01").cast("date")) / 7.0).cast("long").as("wk"),
        col("o_orderpriority").as("trt"))
      .distinct()
      .withColumn("x", lit(1L))
    val rows = cells.groupBy("wk").agg(sum("x").as("li"))
    val cols = cells.groupBy("trt").agg(sum("x").as("gj"))
    val rowAgg = rows.agg(sum("li").as("sl"),
      sum(col("li") * col("li")).as("sl2"),
      count(lit(1)).as("n_weeks"))
    val colAgg = cols.agg(sum("gj").as("sg"),
      sum(col("gj") * col("gj")).as("sg2"))
    rowAgg.crossJoin(broadcast(colAgg))
      .select(col("n_weeks"), col("sg"), col("sl"),
        r4(expr(cqQ)).as("q_stat"),
        r4(expr(cqP)).as("p_value"))
  }

  // ---- LP64: LSH S-curve ----

  private val scTheory =
    "(1e0 - pow(1e0 - pow(bucket / 10e0 + 5e-2, 4e0), 2e0))"

  /** LP64: LSH S-CURVE — on the 25-doc probe set: k=8 md5 MinHash
    * components split as 2 bands × 4 rows (l2b's config); a pair is a
    * CANDIDATE iff some band matches on all 4 components. Pairs are
    * bucketed by exact word-set Jaccard decile; per bucket the
    * empirical candidate rate is compared to the theoretical capture
    * probability 1−(1−J⁴)² at the bucket midpoint. Every signature,
    * band flag, and set count is an exact integer. */
  val lp64LshSCurve: Q = (s, d) => {
    val words = documents(s, d)
      .where(col("doc_id") % 20 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
    val sigs = words
      .select(col("doc_id"), col("w"), explode(expr("sequence(1, 8)")).as("i"))
      .select(col("doc_id"), col("i"),
        expr(hSql("concat(w, ':', i)")).as("h"))
      .groupBy("doc_id", "i").agg(min("h").as("sig"))
    val sizes = words.groupBy("doc_id").agg(count(lit(1)).as("nw"))
    val inter = words.as("a")
      .join(words.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("ninter"))
    val bandMatch = sigs.as("sa")
      .join(sigs.as("sb"),
        col("sa.i") === col("sb.i") && col("sa.doc_id") < col("sb.doc_id"))
      .groupBy(col("sa.doc_id").as("ida"), col("sb.doc_id").as("idb"))
      .agg(
        sum(when(col("sa.i") <= 4 && col("sa.sig") === col("sb.sig"), 1L)
          .otherwise(0L)).as("b1"),
        sum(when(col("sa.i") > 4 && col("sa.sig") === col("sb.sig"), 1L)
          .otherwise(0L)).as("b2"))
      .withColumn("cand",
        when(col("b1") === 4L || col("b2") === 4L, 1L).otherwise(0L))
    bandMatch
      .join(inter, Seq("ida", "idb"), "left")
      .join(broadcast(sizes.select(col("doc_id").as("ida"), col("nw").as("na"))), "ida")
      .join(broadcast(sizes.select(col("doc_id").as("idb"), col("nw").as("nb"))), "idb")
      .withColumn("jnum", coalesce(col("ninter"), lit(0L)))
      .withColumn("jden", col("na") + col("nb") - coalesce(col("ninter"), lit(0L)))
      // decile bucket of exact J via integer arithmetic: floor(10*num/den)
      .withColumn("bucket",
        expr("CAST(least((10 * jnum) DIV jden, 9) AS BIGINT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum("cand").as("n_cand"))
      .select(col("bucket"), col("n_pairs"), col("n_cand"),
        r4(expr("CAST(n_cand AS DOUBLE) / n_pairs")).as("p_emp"),
        r4(expr(scTheory)).as("p_theory"))
      .orderBy("bucket")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "m153_cochran_q" -> m153CochranQ,
    "lp64_lsh_s_curve" -> lp64LshSCurve)

  val oracleSql: Map[String, String] = Map(
    "m153_cochran_q" ->
      s"""WITH cells AS (
        |  SELECT DISTINCT
        |    CAST(floor(CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS DOUBLE) / 7.0) AS BIGINT) AS wk,
        |    o_orderpriority AS trt
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')),
        |rowa AS (
        |  SELECT CAST(sum(li) AS BIGINT) AS sl,
        |    CAST(sum(li * li) AS BIGINT) AS sl2,
        |    CAST(count(*) AS BIGINT) AS n_weeks
        |  FROM (SELECT wk, CAST(count(*) AS BIGINT) AS li FROM cells GROUP BY wk) r),
        |cola AS (
        |  SELECT CAST(sum(gj) AS BIGINT) AS sg,
        |    CAST(sum(gj * gj) AS BIGINT) AS sg2
        |  FROM (SELECT trt, CAST(count(*) AS BIGINT) AS gj FROM cells GROUP BY trt) c)
        |SELECT n_weeks, sg, sl,
        |  round($cqQ, 4) AS q_stat,
        |  round($cqP, 4) AS p_value
        |FROM rowa CROSS JOIN cola""".stripMargin,
    "lp64_lsh_s_curve" ->
      s"""WITH words AS (
        |  SELECT DISTINCT doc_id, tok AS w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents WHERE doc_id % 20 = 0) t),
        |sigs AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    CAST(min(${hSql("concat(w, ':', i)")}) AS BIGINT) AS sig
        |  FROM words CROSS JOIN (SELECT unnest(range(1, 9)) AS i) ii
        |  GROUP BY doc_id, i),
        |sizes AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nw FROM words GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb,
        |    CAST(count(*) AS BIGINT) AS ninter
        |  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |bands AS (
        |  SELECT sa.doc_id AS ida, sb.doc_id AS idb,
        |    CAST(sum(CASE WHEN sa.i <= 4 AND sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(sum(CASE WHEN sa.i > 4 AND sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT) AS b2
        |  FROM sigs sa JOIN sigs sb
        |    ON sa.i = sb.i AND sa.doc_id < sb.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT bd.ida, bd.idb,
        |    CASE WHEN b1 = 4 OR b2 = 4 THEN 1 ELSE 0 END AS cand,
        |    coalesce(i.ninter, 0) AS jnum,
        |    sa.nw + sb.nw - coalesce(i.ninter, 0) AS jden
        |  FROM bands bd
        |  LEFT JOIN inter i ON i.ida = bd.ida AND i.idb = bd.idb
        |  JOIN sizes sa ON sa.doc_id = bd.ida
        |  JOIN sizes sb ON sb.doc_id = bd.idb),
        |bucketed AS (
        |  SELECT least((10 * jnum) // jden, 9) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(cand) AS BIGINT) AS n_cand
        |  FROM scored GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_pairs, n_cand,
        |  round(CAST(n_cand AS DOUBLE) / n_pairs, 4) AS p_emp,
        |  round($scTheory, 4) AS p_theory
        |FROM bucketed
        |ORDER BY bucket""".stripMargin)
}

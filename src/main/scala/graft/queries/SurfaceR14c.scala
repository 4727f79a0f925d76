package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.DeltaChain

/** Round-14 surface batch 3: rolling set-overlap analytics from
  * GROUPED theta sketches — the second half of SURVEY §18.16 thread 3
  * (a37 closed the pairwise form; this is the windowed form).
  *
  * Contrast with near-siblings: a36/a37 build a FIXED number of
  * sketches and do driver-side set algebra; a38 builds one sketch PER
  * TIME WINDOW in a single grouped aggregate (the mergeable-summary
  * shape — partial sketches combine across partitions, kilobytes per
  * group through the shuffle) and reads consecutive-window overlap
  * out of the compact sketches alone. q20_retention computes the same
  * business question exactly with a self-join; the sketch route reads
  * N windows' overlap from N kilobyte summaries — the at-scale form
  * when windows × audience outgrow the join.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.9/§2.11 sketch family.
  */
object SurfaceR14c extends QueryBatch {
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  /** A38: month-over-month customer-audience overlap on `orders` —
    * one scan builds a theta sketch of o_custkey per order month
    * (grouped [[org.apache.spark.sql.graft.SketchAggs.thetaSketch]],
    * lgK=12), then every consecutive month pair's Jaccard similarity
    * is estimated from the two compact sketches
    * ([[org.apache.spark.sql.graft.SketchAggs.thetaJaccardEstimate]]).
    * Exact intersection/union cardinalities (one equi-join on
    * (custkey) between adjacent months) hash-anchor each row; the
    * estimate lands as the a36/a37 ±0.05 tolerance flag. Months are
    * bounded (~80 at any SF — the fixture's date span), so the
    * driver-side pairwise readout is O(months), never O(rows). */
  val a38ThetaRollingOverlap: Q = (s, d) => {
    import org.apache.spark.sql.graft.SketchAggs
    val mc = orders(s, d).select(
      trunc(col("o_orderdate").cast("date"), "MM").as("m"),
      col("o_custkey").cast("long").as("ck"))
    val sketches = mc.groupBy("m")
      .agg(SketchAggs.thetaSketch(col("ck"), 12).as("sk"))
      .collect()
      .map(r => r.getAs[java.sql.Date](0) -> r.getAs[Array[Byte]](1))
      .sortBy(_._1.getTime)
    require(sketches.length >= 2, "a38: need at least two order months")
    // exact anchors: adjacent-month intersection via one equi-join on
    // the distinct (month, custkey) pairs; union by inclusion-exclusion
    val dist = mc.distinct()
    val a = dist.select(col("m").as("m1"), col("ck"))
    val b = dist.select(col("m").as("m2"), col("ck"))
    val inter = a.join(b, a("ck") === b("ck") &&
        col("m2") === add_months(col("m1"), 1))
      .groupBy("m1").agg(count(lit(1)).as("inter"))
    val sizes = dist.groupBy("m").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[java.sql.Date](0) -> r.getLong(1)).toMap
    val interMap = inter.collect()
      .map(r => r.getAs[java.sql.Date](0) -> r.getLong(1)).toMap
    import s.implicits._
    val rows = sketches.sliding(2).flatMap {
      case Array((m1, sk1), (m2, sk2)) =>
        // only CALENDAR-consecutive months pair up (the fixture is
        // gap-free, but the guard keeps the contract honest). The
        // comparison is LocalDate arithmetic, never epoch-millis: a
        // java.sql.Date encodes local-midnight in the JVM default TZ,
        // so UTC Calendar math shifted first-of-month dates by a day
        // on TZ-east-of-UTC hosts and silently dropped genuinely
        // consecutive months (ADVICE r14).
        if (m1.toLocalDate.plusMonths(1) != m2.toLocalDate) None
        else {
          val i = interMap.getOrElse(m1, 0L)
          val u = sizes(m1) + sizes(m2) - i
          val est = SketchAggs.thetaJaccardEstimate(sk1, sk2)
          val exact = if (u == 0) 1.0 else i.toDouble / u
          Some((m1.toString, i, u, math.abs(est - exact) <= 0.05))
        }
      case _ => None
    }.toSeq
    rows.toDF("month_start", "inter_exact", "union_exact", "jaccard_ok")
      .orderBy("month_start")
  }

  // ---- Q68: metadata-only schema evolution on the delta chain ----

  /** Q68: q59's schema-evolution contract on the DELTA storage form —
    * where q59's snapshot table REWRITES every row to widen,
    * [[graft.operators.DeltaChain.addColumn]] commits ONE empty change
    * record plus a metadata line, and pre-addition rows backfill AT
    * READ with the default expression over their own values (the
    * Delta/Iceberg metadata-only ALTER; the 100 TB form — zero bytes
    * of data rewritten at any table size, and the in-key census
    * REQUIREs the add commit under 16 KB while the table is MBs).
    * Chain on `part`: v2 reprices mod-9 (+100); v3 adds `band` =
    * qprice DIV 100000; v4 upserts mod-12 with explicit band values.
    * Time travel below v3 stays narrow (REQUIREd); the output mirrors
    * q59's shape — v2 with a NULL band column, v4 wide — so the
    * oracle pins both the backfilled and the explicitly-written
    * populations. */
  val q68DeltaAddColumn: Q = (s, d) => {
    val root = scratch("q68").getAbsolutePath
    val base = part(s, d).select(col("p_partkey"),
      expr("CAST(floor(p_retailprice * 100 + 5e-1) AS BIGINT)").as("qprice"))
    val k = col("p_partkey")
    DeltaChain.create(root, base.coalesce(1), Seq("p_partkey"),
      checkpointEvery = 10)
    DeltaChain.commitDelta(s, root,
      base.where(k % 9 === 0)
        .withColumn("qprice", col("qprice") + 100L).coalesce(1))
    DeltaChain.addColumn(s, root, "band", "CAST(qprice DIV 100000 AS BIGINT)")
    DeltaChain.commitDelta(s, root,
      DeltaChain.readAsOf(s, root, 3)
        .where(k % 12 === 0)
        .withColumn("qprice", col("qprice") + 200L)
        .withColumn("band", expr("CAST(qprice DIV 100000 AS BIGINT)"))
        .coalesce(1))
    // narrow time travel below the addition
    require(DeltaChain.readAsOf(s, root, 2).columns.toSeq ==
      Seq("p_partkey", "qprice"),
      "q68: pre-addition time travel must return the narrow schema")
    // metadata-only census: the add commit is an empty change record
    val addBytes = {
      val dd = new java.io.File(s"$root/d3")
      Option(dd.listFiles()).map(_.filter(_.isFile).map(_.length()).sum)
        .getOrElse(0L)
    }
    require(addBytes <= 16384L,
      s"q68: ADD COLUMN commit wrote $addBytes bytes — not metadata-only")
    (Seq(2, 4)).map { v =>
      val df = DeltaChain.readAsOf(s, root, v)
      val wide = if (df.columns.contains("band")) df
        else df.withColumn("band", lit(null).cast("bigint"))
      wide.withColumn("version", lit(v))
    }.reduce(_.unionByName(_))
      .select("version", "p_partkey", "qprice", "band")
      .orderBy("version", "p_partkey")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "a38_theta_rolling_overlap" -> a38ThetaRollingOverlap,
    "q68_delta_add_column" -> q68DeltaAddColumn)

  val oracleSql: Map[String, String] = Map(
    "a38_theta_rolling_overlap" ->
      """WITH mc AS (
        |  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |    o_custkey AS ck
        |  FROM orders),
        |sizes AS (SELECT m, count(*) AS n FROM mc GROUP BY m),
        |pairs AS (
        |  SELECT a.m AS m1, b.m AS m2
        |  FROM sizes a JOIN sizes b
        |    ON year(b.m) * 12 + month(b.m) = year(a.m) * 12 + month(a.m) + 1),
        |inter AS (
        |  SELECT p.m1, count(*) AS i
        |  FROM pairs p JOIN mc x ON x.m = p.m1 JOIN mc y
        |    ON y.m = p.m2 AND y.ck = x.ck
        |  GROUP BY p.m1)
        |SELECT CAST(p.m1 AS VARCHAR) AS month_start,
        |  CAST(coalesce(i.i, 0) AS BIGINT) AS inter_exact,
        |  CAST(sa.n + sb.n - coalesce(i.i, 0) AS BIGINT) AS union_exact,
        |  TRUE AS jaccard_ok
        |FROM pairs p
        |JOIN sizes sa ON sa.m = p.m1
        |JOIN sizes sb ON sb.m = p.m2
        |LEFT JOIN inter i ON i.m1 = p.m1
        |ORDER BY month_start""".stripMargin,
    "q68_delta_add_column" ->
      """WITH base AS (
        |  SELECT p_partkey,
        |    CAST(floor(p_retailprice * 100 + 5e-1) AS BIGINT) AS q
        |  FROM part),
        |v2 AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 9 = 0 THEN q + 100 ELSE q END AS qprice
        |  FROM base),
        |v4 AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 12 = 0 THEN qprice + 200 ELSE qprice END AS qprice,
        |    CASE WHEN p_partkey % 12 = 0
        |      THEN CAST((qprice + 200) // 100000 AS BIGINT)
        |      ELSE CAST(qprice // 100000 AS BIGINT) END AS band
        |  FROM v2)
        |SELECT CAST(2 AS INTEGER) AS version, p_partkey, qprice,
        |  CAST(NULL AS BIGINT) AS band
        |FROM v2
        |UNION ALL
        |SELECT CAST(4 AS INTEGER), p_partkey, qprice, band FROM v4
        |ORDER BY version, p_partkey""".stripMargin)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-13 surface batch 1: the lakehouse capstone and the skew-join
  * split — VERDICT r12 items 2 and 6.
  *
  * Contrast with near-siblings: q49 is ONE MERGE producing one output
  * frame; q50 composes that merge into a VERSIONED TABLE — each merge
  * commits an immutable numbered snapshot behind an atomically-renamed
  * manifest, and every committed version remains readable (time
  * travel). q33 SCD2 keeps history as validity-ranged ROWS in one
  * table; q50 keeps history as whole TABLE VERSIONS — the
  * Delta/Iceberg axis SCD2 does not give you. q51 exercises the one
  * AQE runtime re-plan the registry never forced: the fixtures are
  * uniform, so no prior key ever made OptimizeSkewedJoin fire; q51
  * derives a deliberately skewed join (one hot key owning ~50% of
  * lineitem rows) and REQUIRES the skew-split marker in the post-AQE
  * plan — the s30 fail-loudly discipline applied to skew handling.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * areas SURVEY.md §2.11 (pipeline ops), §4.3 (AQE posture).
  */
object SurfaceR13a extends QueryBatch {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  // ---- Q50: versioned snapshot table (write v1→v2→v3, read each back) ----

  /** Q50: three MERGE commits against a [[graft.operators.VersionedTable]]
    * rooted in a scratch dir, then a time-travel read of EVERY version,
    * unioned with its version number — so the oracle's unrolled merge
    * chain hash-checks each snapshot row-by-row, including that v1/v2
    * are untouched by later commits. Change sets derive
    * deterministically from `orders` (residue-class slices, disjoint
    * update/insert keys, so `validateUniqueKeys = true` is exercised
    * live on every commit).
    *
    * Scale shape: each commit is MergeUpsert's single full-outer
    * shuffle plus one parquet write; read-as-of is one dir scan with
    * zero log replay (full-snapshot form — the delta-vs-checkpoint
    * trade is documented on the operator). */
  val q50VersionedTable: Q = (s, d) => {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_q50_${java.util.UUID.randomUUID().toString.take(8)}")
    // exit-hook cleanup, NOT inline delete: the returned plan lazily
    // re-reads the snapshot dirs when the driver writes the result
    graft.QueryGuard.deleteRecOnExit(root)
    val base = orders(s, d).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 1e4 + 5e-1) AS BIGINT)").as("qprice"),
      col("o_orderstatus"))
    val v1 = base.where(col("o_orderkey") % 3 === 0)
    graft.operators.VersionedTable.create(root.getAbsolutePath, v1)
    val s2 = v1.where(col("o_orderkey") % 15 === 0)
      .select(col("o_orderkey"), (col("qprice") + 500000L).as("qprice"),
        col("o_orderstatus"), (col("o_orderkey") % 30 === 0).as("del"))
      .union(base.where(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey"), col("qprice"),
          lit("I").as("o_orderstatus"), lit(false).as("del")))
    graft.operators.VersionedTable.writeVersion(s, root.getAbsolutePath,
      s2, Seq("o_orderkey"), Some("del"), validateUniqueKeys = true)
    val s3 = base.where(col("o_orderkey") % 21 === 0)
      .select(col("o_orderkey"), (col("qprice") + 700000L).as("qprice"),
        col("o_orderstatus"), (col("o_orderkey") % 42 === 0).as("del"))
      .union(base.where(col("o_orderkey") % 3 === 2 && col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"), col("qprice"),
          lit("J").as("o_orderstatus"), lit(false).as("del")))
    graft.operators.VersionedTable.writeVersion(s, root.getAbsolutePath,
      s3, Seq("o_orderkey"), Some("del"), validateUniqueKeys = true)
    (1 to 3).map { v =>
      graft.operators.VersionedTable.readAsOf(s, root.getAbsolutePath, v)
        .withColumn("version", lit(v))
    }.reduce(_.unionByName(_))
      .select("version", "o_orderkey", "qprice", "o_orderstatus")
      .orderBy("version", "o_orderkey")
  }

  // ---- Q51: AQE skew-join split, required in-plan ----

  /** Q51: sort-merge join with ONE hot key (keys ≡ 0..4 mod 10 all
    * collapse to k=0 → ~50% of lineitem rows) against a 1000-row dim,
    * run with skew-split thresholds sized to the fact cardinality and
    * broadcast disabled so the join MUST be SMJ. The final aggregate groups by
    * k % 7 — a DIFFERENT key than the join — so the join's output
    * partitioning is not downstream-required and OptimizeSkewedJoin is
    * free to split the hot partition (grouping by k itself would make
    * AQE preserve the partitioning and skip the split). The post-AQE
    * plan is REQUIRED to contain the skew-read marker; configs are
    * session-localized and the result is collected while they are
    * live (s30 pattern). The oracle recomputes the join+aggregate, so
    * the split is also proven to not duplicate or drop a row.
    *
    * Scale shape: this IS the 100 TB skew story — a hot key that
    * owns half a fact table serializes one reducer at any cluster
    * size unless the runtime splits it; the plan assertion turns
    * "AQE would handle it" into a checked invariant. */
  val q51SkewAqe: Q = (s, d) => {
    // Size the skew thresholds from the fact cardinality (metadata-only
    // count) so the SAME split shape engages at every SF: the hot key
    // owns half the rows, compressed shuffle bytes run ≳6 B/row for the
    // (k, qp) pair, and the threshold is set at 2 B/row of the hot
    // partition — a ≥3× actual-vs-threshold margin — while the advisory
    // size targets ~8 split chunks whether the table has 6 k rows
    // (tripwire sf0.001) or 6 M (the sf1 decade). The fact side is
    // round-robin repartitioned to 16 first: AQE splits a skewed
    // partition at MAP-OUTPUT granularity, and the fixture scan packs
    // into 1 mapper (one row group at sf0.001; 128 MB default splits at
    // sf1), which leaves the hot partition unsplittable — 16 mappers
    // emulate the many-mapper reality of a production scan at any SF.
    val nFacts = lineitem(s, d).count()
    val hotBytesEst = math.max(4096L, (nFacts / 2) * 8L)
    Shared.withConf(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        (hotBytesEst / 4).toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        (hotBytesEst / 8).toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val facts = lineitem(s, d).select(
        when(col("l_orderkey") % 10 < 5, lit(0L))
          .otherwise(col("l_orderkey") % 1000).as("k"),
        expr("CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT)").as("qp"))
        .repartition(16)
      // dim is MATERIALIZED (localCheckpoint, ≤1000 rows) so its join
      // input is a plain shuffle stage: OptimizeSkewedJoin pattern-
      // matches SMJ over Sort+ShuffleQueryStage on BOTH sides, and an
      // aggregate between the sort and the stage defeats the match
      val dims = orders(s, d)
        .groupBy((col("o_orderkey") % 1000).as("k"))
        .agg(count(lit(1)).as("dim_n")).localCheckpoint(true)
      val joined = facts.join(dims, "k")
      // NOTE no count(DISTINCT k) here: a distinct re-aggregates on
      // (g, k) mid-stage, which *requires* the join's hash(k) output
      // partitioning — AQE then vetoes the split as requirement-breaking
      val out = joined.groupBy((col("k") % 7).as("g"))
        .agg(count(lit(1)).as("n_li"),
          sum(col("qp")).as("qsum"),
          sum(col("dim_n")).as("dimsum"))
        .orderBy("g")
      val rows = out.collect().toSeq // executes under the live configs
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("skewed"),
        "q51: AQE skew-join split did not engage — no skewed AQEShuffleRead " +
          "in the post-AQE plan")
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
        .orderBy("g")
    }
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "q50_versioned_table" -> q50VersionedTable,
    "q51_skew_aqe" -> q51SkewAqe)

  val oracleSql: Map[String, String] = Map(
    "q50_versioned_table" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 1e4 + 5e-1) AS BIGINT) AS qprice,
        |    o_orderstatus
        |  FROM orders),
        |v1 AS MATERIALIZED (
        |  SELECT o_orderkey, qprice, o_orderstatus FROM base
        |  WHERE o_orderkey % 3 = 0),
        |s2 AS (
        |  SELECT o_orderkey, qprice + 500000 AS qprice, o_orderstatus,
        |    (o_orderkey % 30 = 0) AS del
        |  FROM v1 WHERE o_orderkey % 15 = 0
        |  UNION ALL
        |  SELECT o_orderkey, qprice, 'I' AS o_orderstatus, FALSE AS del
        |  FROM base WHERE o_orderkey % 3 = 1 AND o_orderkey % 11 = 0),
        |v2 AS MATERIALIZED (
        |  SELECT
        |    COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.qprice
        |         ELSE t.qprice END AS qprice,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
        |         ELSE t.o_orderstatus END AS o_orderstatus
        |  FROM v1 t FULL JOIN s2 s ON t.o_orderkey = s.o_orderkey
        |  WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
        |    AND s.del)),
        |s3 AS (
        |  SELECT o_orderkey, qprice + 700000 AS qprice, o_orderstatus,
        |    (o_orderkey % 42 = 0) AS del
        |  FROM base WHERE o_orderkey % 21 = 0
        |  UNION ALL
        |  SELECT o_orderkey, qprice, 'J' AS o_orderstatus, FALSE AS del
        |  FROM base WHERE o_orderkey % 3 = 2 AND o_orderkey % 13 = 0),
        |v3 AS MATERIALIZED (
        |  SELECT
        |    COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.qprice
        |         ELSE t.qprice END AS qprice,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
        |         ELSE t.o_orderstatus END AS o_orderstatus
        |  FROM v2 t FULL JOIN s3 s ON t.o_orderkey = s.o_orderkey
        |  WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
        |    AND s.del))
        |SELECT CAST(1 AS INTEGER) AS version, o_orderkey, qprice, o_orderstatus
        |FROM v1
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), o_orderkey, qprice, o_orderstatus FROM v2
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), o_orderkey, qprice, o_orderstatus FROM v3
        |ORDER BY version, o_orderkey""".stripMargin,
    "q51_skew_aqe" ->
      """WITH facts AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 5 THEN 0
        |              ELSE l_orderkey % 1000 END AS k,
        |    CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT) AS qp
        |  FROM lineitem),
        |dims AS (
        |  SELECT o_orderkey % 1000 AS k, CAST(count(*) AS BIGINT) AS dim_n
        |  FROM orders GROUP BY 1)
        |SELECT f.k % 7 AS g,
        |  CAST(count(*) AS BIGINT) AS n_li,
        |  CAST(sum(f.qp) AS BIGINT) AS qsum,
        |  CAST(sum(d.dim_n) AS BIGINT) AS dimsum
        |FROM facts f JOIN dims d ON f.k = d.k
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}

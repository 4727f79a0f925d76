package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.operators.VersionedTable

/** Round-13 surface batch 3: catalog-level scale machinery and the
  * lakehouse integration keys — bucketed co-located joins (s33),
  * statistics-driven CBO broadcast (s34), incremental materialized-view
  * maintenance off the change feed (q58), schema evolution (q59), and
  * the streaming MERGE sink (t27).
  *
  * Contrast with near-siblings: j2/j10 pick SMJ/shuffle-hash at
  * RUNTIME over unorganized data — s33 removes the shuffle
  * STRUCTURALLY by bucketing both sides at write time (the 100 TB
  * co-location discipline: pay one layout shuffle once, join free
  * forever). s21 exercises the same Bucketing op but hash-checks only
  * the VALUES — s33 REQUIREs the Exchange-free executed plan (the s30
  * fail-loudly posture), rides the bucketing through the downstream
  * same-key aggregate too, and isolates its tables in a per-invocation
  * scratch database instead of fixed warehouse names (the s29
  * shared-session-race class). j1 broadcasts because the DIM FILE is
  * small — s34 broadcasts because COLUMN STATISTICS prove a filtered
  * dim is small, which file size alone cannot (CBO). lp32 merges
  * partial aggregate states for APPEND-ONLY batches — q58 consumes a
  * change feed with UPDATES and DELETES (signed contributions, the
  * thing state-merge cannot subtract); lp26/q55 move the CDC rows
  * themselves in/out of tables.
  *
  * Catalog scratch: s33/s34 need real catalog tables (bucket metadata
  * and ANALYZE statistics live in the catalog, not in files), so each
  * invocation creates a uniquely-named database with an exit-cleaned
  * LOCATION and drops it CASCADE in finally — the session's default
  * database and warehouse dir are never touched.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * areas SURVEY.md §2.2 (joins), §2.11 (pipeline ops), §4 (scale
  * posture).
  */
object SurfaceR13c extends QueryBatch {
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  /** Run `body` inside a uniquely-named catalog database rooted at an
    * exit-cleaned scratch LOCATION; drop CASCADE in finally. */
  private def withScratchDb[A](s: SparkSession, tag: String)(body: String => A): A = {
    val root = scratch(tag)
    val db = s"graft_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
    s.sql(s"CREATE DATABASE $db LOCATION '${root.getAbsolutePath}'")
    try body(db)
    finally s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  // ---- S33: bucketed tables → co-located (shuffle-free) join ----

  /** S33: write `orders` and `lineitem` projections BUCKETED (and
    * sorted) by the join key into catalog tables, then join them with
    * broadcast disabled. REQUIRED: the physical plan contains NO
    * Exchange — bucketing co-locates matching keys at WRITE time, so
    * the sort-merge join reads both sides in place. This is the 100 TB
    * fact-to-fact join discipline: one layout shuffle when the table
    * is written buys every subsequent join for free; at cluster scale
    * the same layout also bounds each task's input to one bucket.
    * The aggregate groups by the join key itself, so the bucketed
    * partitioning serves the groupBy too — zero shuffles END TO END.
    * Oracle recomputes the join+aggregate from the raw tables. */
  val s33BucketedJoin: Q = (s, d) => withScratchDb(s, "s33") { db =>
    orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(s"$db.ord_b")
    lineitem(s, d).select(col("l_orderkey"),
      expr("CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT)").as("qp"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(s"$db.li_b")
    withConf(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.bucketing.enabled" -> "true") {
      // no orderBy here: a global sort would append a legitimate range
      // Exchange and mask the assertion; rows re-sort after collect.
      // The post-agg residue filter (a narrow Filter, never an
      // Exchange) bounds the collected readout to ~1/16 of the
      // orderkeys — the configs are session-localized, so the result
      // must materialize while they are live (the s30 pattern), and an
      // unfiltered per-orderkey collect is O(fact keys) driver memory
      // at sf1+
      val out = s.table(s"$db.ord_b")
        .join(s.table(s"$db.li_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_li"), sum("qp").as("qsum"),
          max("o_custkey").as("custkey"))
        .where(col("o_orderkey") % 16 === 0)
      val rows = out.collect().toSeq // executes under the live configs
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        "s33: bucketed join still shuffles — an Exchange survived in the plan")
      require(plan.contains("SortMergeJoin"),
        "s33: expected a sort-merge join over the bucketed tables")
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
        .orderBy("o_orderkey")
    }
  }

  // ---- S34: CBO column statistics flip a join to broadcast ----

  /** S34: a filtered dim whose FILE size exceeds the broadcast
    * threshold but whose post-filter cardinality is tiny. Without
    * statistics Spark estimates the filter's output at file-size scale
    * and plans a shuffle join; after `ANALYZE TABLE … FOR ALL COLUMNS`
    * the CBO estimates selectivity from column min/max/NDV and
    * broadcasts. REQUIRED: the statistics run plans a
    * BroadcastHashJoin AND the no-statistics control run does not —
    * both asserted, so a regression in either direction fails by
    * name. At 100 TB this is the difference between shuffling a fact
    * table and not: file size alone can never justify broadcasting a
    * filtered dim. Oracle recomputes the join from raw tables. */
  val s34CboStats: Q = (s, d) => withScratchDb(s, "s34") { db =>
    orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"),
      expr("CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT)").as("qprice"))
      .write.format("parquet").saveAsTable(s"$db.ord_s")
    lineitem(s, d).select(col("l_orderkey"),
      expr("CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT)").as("qp"))
      .write.format("parquet").saveAsTable(s"$db.li_s")
    val dimBytes = s.table(s"$db.ord_s").queryExecution.optimizedPlan
      .stats.sizeInBytes
    withConf(s,
      // threshold under the dim FILE size but far over the filtered slice
      "spark.sql.autoBroadcastJoinThreshold" -> (dimBytes / 4).toString,
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> (dimBytes / 4).toString,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false") { // isolate CBO from AQE's runtime flip
      // range predicate on o_custkey: ~1.5% of the keyspace — a shape
      // FilterEstimation can bound from column min/max (a modulo or
      // UDF-ish predicate gets no estimate and the flip never fires)
      val mxCust = s.table(s"$db.ord_s").agg(max(col("o_custkey")))
        .collect()(0).getAs[Number](0).longValue() // 1-row scalar readout
      def joined = s.table(s"$db.ord_s")
        .where(col("o_custkey") <= lit(mxCust / 64L))
        .join(s.table(s"$db.li_s"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_li"), sum("qp").as("qsum"))
      val control = joined.queryExecution.executedPlan.toString
      require(!control.contains("BroadcastHashJoin"),
        "s34: control (no statistics) already broadcasts — the file-size " +
          "threshold is not binding and the CBO assertion below is vacuous")
      s.sql(s"ANALYZE TABLE $db.ord_s COMPUTE STATISTICS FOR ALL COLUMNS")
      s.sql(s"ANALYZE TABLE $db.li_s COMPUTE STATISTICS FOR ALL COLUMNS")
      val out = joined
      val rows = out.collect().toSeq
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("BroadcastHashJoin"),
        "s34: CBO did not flip the filtered-dim join to broadcast " +
          "after ANALYZE — column statistics are not reaching the planner")
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
        .orderBy("o_orderstatus")
    }
  }

  // ---- Q58: incremental materialized-view maintenance off the CDF ----

  /** Q58: a grouped-aggregate MV (per-customer order count + spend) is
    * maintained INCREMENTALLY: commit a merge, take
    * [[VersionedTable.changes]] between the versions, convert the feed
    * to SIGNED contributions (+row for insert/update_postimage, −row
    * for delete/update_preimage — count and sum are self-maintainable
    * aggregates), aggregate the DELTA ONLY, and outer-merge it into
    * the old MV, dropping keys whose count reaches zero. The fact
    * table is never rescanned — at 100 TB the delta is the day's
    * changes, not the table. The oracle recomputes the aggregate from
    * the unrolled v2 directly, proving MV₀ + Δ ≡ full recompute. */
  val q58IncrementalMv: Q = (s, d) => {
    val root = scratch("q58")
    val base = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      expr("CAST(floor(o_totalprice * 1e4 + 5e-1) AS BIGINT)").as("qprice"))
    val v1 = base.where(col("o_orderkey") % 2 === 0)
    VersionedTable.create(root.getAbsolutePath, v1)
    val mv0 = v1.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("qprice").as("qsum"))
    val s2 = v1.where(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("qprice") + 100000L).as("qprice"),
        (col("o_orderkey") % 20 === 0).as("del"))
      .union(base.where(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("qprice"),
          lit(false).as("del")))
    VersionedTable.writeVersion(s, root.getAbsolutePath,
      s2, Seq("o_orderkey"), Some("del"), validateUniqueKeys = true)
    val feed = VersionedTable.changes(s, root.getAbsolutePath, 1, 2, Seq("o_orderkey"))
    graft.operators.IncrementalAgg
      .applyCountSumDelta(mv0, feed, "o_custkey", "qprice")
      .orderBy("o_custkey")
  }

  // ---- Q59: schema evolution (ADD COLUMN) across versions ----

  /** Q59: [[VersionedTable.addColumn]] widens the schema in a commit;
    * REQUIRED: time travel to v1 still returns the NARROW schema (what
    * the table looked like, exactly), and the post-evolution merge
    * writes through the widened schema. Output unions v1 (with the new
    * column null — the reader-side backfill a metadata-only add
    * implies) and v3, version-tagged. */
  val q59SchemaEvolution: Q = (s, d) => {
    val root = scratch("q59")
    val base = part(s, d).select(col("p_partkey"),
      expr("CAST(floor(p_retailprice * 100 + 5e-1) AS BIGINT)").as("qprice"))
    VersionedTable.create(root.getAbsolutePath, base)
    VersionedTable.addColumn(s, root.getAbsolutePath, "price_band",
      expr("CAST(qprice DIV 100000 AS BIGINT)"))
    val v1Schema = VersionedTable.readAsOf(s, root.getAbsolutePath, 1).columns.toSeq
    require(!v1Schema.contains("price_band"),
      "q59: time travel to v1 leaked the evolved column — snapshots must " +
        "keep the schema they were committed with")
    // post-evolution merge writes through the widened schema
    val s3 = base.where(col("p_partkey") % 8 === 0)
      .select(col("p_partkey"), (col("qprice") + 5000L).as("qprice"))
      .withColumn("price_band", expr("CAST(qprice DIV 100000 AS BIGINT)"))
      .withColumn("del", lit(false))
    VersionedTable.writeVersion(s, root.getAbsolutePath,
      s3, Seq("p_partkey"), Some("del"), validateUniqueKeys = true)
    val v1 = VersionedTable.readAsOf(s, root.getAbsolutePath, 1)
      .withColumn("price_band", lit(null).cast("bigint"))
      .withColumn("version", lit(1))
    val v3 = VersionedTable.readAsOf(s, root.getAbsolutePath, 3)
      .withColumn("version", lit(3))
    v1.unionByName(v3)
      .select("version", "p_partkey", "qprice", "price_band")
      .orderBy("version", "p_partkey")
  }

  // ---- T27: streaming MERGE sink into the versioned table ----

  /** T27: a file stream of change sets merges into a
    * [[VersionedTable]] through foreachBatch — the lakehouse streaming
    * ingest path. Three landing files at maxFilesPerTrigger=1 → three
    * MERGE commits. The change sets carry DISJOINT key slices, so the
    * final table is independent of batch delivery order AND a
    * replayed batch re-merges identical values (foreachBatch is
    * at-least-once; pure idempotent upserts make redelivery safe —
    * the exactly-once ledger variant is t18/t22's discipline).
    * REQUIRED: at least two committed versions beyond v1 (the stream
    * really arrived in multiple batches). Oracle recomputes the final
    * state from the base table and the three slices. */
  val t27StreamMergeSink: Q = (s, d) => {
    val root = scratch("t27")
    val tableDir = new java.io.File(root, "table").getAbsolutePath
    val landing = new java.io.File(root, "landing").getAbsolutePath
    val ck = new java.io.File(root, "ckpt").getAbsolutePath
    val base = supplier(s, d).select(col("s_suppkey"),
      expr("CAST(floor(s_acctbal * 100 + 5e-1) AS BIGINT)").as("qbal"))
    VersionedTable.create(tableDir, base)
    // three disjoint change slices: residues 0/1/2 mod 3 update qbal by
    // distinct deltas; residue-specific inserts use keys above the base
    // keyspace (suppkey + 1e6)
    (0 to 2).foreach { r =>
      base.where(col("s_suppkey") % 3 === r)
        .select(col("s_suppkey"), (col("qbal") + lit((r + 1) * 1000L)).as("qbal"))
        .union(base.where(col("s_suppkey") % 3 === r && col("s_suppkey") % 7 === 0)
          .select((col("s_suppkey") + 1000000L).as("s_suppkey"), col("qbal")))
        .repartition(1)
        .write.mode("append").parquet(landing)
    }
    val stream = s.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    val q = stream.writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          VersionedTable.writeVersion(s, tableDir,
            b, Seq("s_suppkey"), None, validateUniqueKeys = true)
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(180000L)) { q.stop(); sys.error("t27 drain expired") }
    val vs = VersionedTable.versions(tableDir)
    require(vs.size >= 3,
      s"t27: expected >=3 committed versions (base + multiple stream batches), got $vs")
    VersionedTable.read(s, tableDir)
      .select("s_suppkey", "qbal")
      .orderBy("s_suppkey")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "s33_bucketed_join" -> s33BucketedJoin,
    "s34_cbo_stats" -> s34CboStats,
    "q58_incremental_mv" -> q58IncrementalMv,
    "q59_schema_evolution" -> q59SchemaEvolution,
    "t27_stream_merge_sink" -> t27StreamMergeSink)

  val oracleSql: Map[String, String] = Map(
    "s33_bucketed_join" ->
      """SELECT o_orderkey,
        |  CAST(count(*) AS BIGINT) AS n_li,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT)) AS BIGINT) AS qsum,
        |  max(o_custkey) AS custkey
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey
        |HAVING o_orderkey % 16 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "s34_cbo_stats" ->
      """WITH mx AS (SELECT max(o_custkey) AS m FROM orders)
        |SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_li,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT)) AS BIGINT) AS qsum
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey, mx
        |WHERE o_custkey <= m // 64
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q58_incremental_mv" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(floor(o_totalprice * 1e4 + 5e-1) AS BIGINT) AS qprice
        |  FROM orders),
        |v1 AS MATERIALIZED (
        |  SELECT o_orderkey, o_custkey, qprice FROM base
        |  WHERE o_orderkey % 2 = 0),
        |s2 AS (
        |  SELECT o_orderkey, o_custkey, qprice + 100000 AS qprice,
        |    (o_orderkey % 20 = 0) AS del
        |  FROM v1 WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, qprice, FALSE AS del
        |  FROM base WHERE o_orderkey % 2 = 1 AND o_orderkey % 9 = 0),
        |v2 AS MATERIALIZED (
        |  SELECT
        |    COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
        |         ELSE t.o_custkey END AS o_custkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.qprice
        |         ELSE t.qprice END AS qprice
        |  FROM v1 t FULL JOIN s2 s ON t.o_orderkey = s.o_orderkey
        |  WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
        |    AND s.del))
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(qprice) AS BIGINT) AS qsum
        |FROM v2 GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q59_schema_evolution" ->
      """WITH base AS (
        |  SELECT p_partkey,
        |    CAST(floor(p_retailprice * 100 + 5e-1) AS BIGINT) AS qprice
        |  FROM part)
        |SELECT CAST(1 AS INTEGER) AS version, p_partkey, qprice,
        |  CAST(NULL AS BIGINT) AS price_band
        |FROM base
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), p_partkey,
        |  CASE WHEN p_partkey % 8 = 0 THEN qprice + 5000 ELSE qprice END,
        |  CASE WHEN p_partkey % 8 = 0 THEN (qprice + 5000) // 100000
        |       ELSE qprice // 100000 END
        |FROM base
        |ORDER BY version, p_partkey""".stripMargin,
    "t27_stream_merge_sink" ->
      """WITH base AS (
        |  SELECT s_suppkey,
        |    CAST(floor(s_acctbal * 100 + 5e-1) AS BIGINT) AS qbal
        |  FROM supplier)
        |SELECT s_suppkey, qbal + (s_suppkey % 3 + 1) * 1000 AS qbal
        |FROM base
        |UNION ALL
        |SELECT s_suppkey + 1000000 AS s_suppkey, qbal
        |FROM base WHERE s_suppkey % 7 = 0
        |ORDER BY s_suppkey""".stripMargin)
}

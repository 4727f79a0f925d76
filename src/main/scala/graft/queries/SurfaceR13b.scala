package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.operators.{TableLog, TableStats, VersionedTable, ZOrder}

/** Round-13 surface batch 2: the lakehouse suite on top of q50's
  * [[graft.operators.VersionedTable]] — file-statistics data skipping
  * (q52), Z-order clustering (q53), compaction (q54), change data feed
  * (q55), DELETE/UPDATE commits (q56), snapshot expiry (q57) — plus
  * the continuous-trigger streaming key (t26, VERDICT r12 "missing"
  * item 3).
  *
  * Contrast with near-siblings: s6/s13 write PARTITION-column layouts
  * (directory pruning on the partition key only); q52/q53 prune at
  * FILE granularity on NON-partition columns via min/max zone maps —
  * the Delta/Iceberg data-skipping axis. lp26 replays a CDC stream
  * INTO a table; q55 derives the CDC stream OUT of two committed
  * versions. q33 SCD2 keeps row-level history inside one table; q57
  * governs whole-snapshot retention.
  *
  * Every scratch table derives deterministically from fixture tables
  * (residue-class slices), scratch dirs are exit-hook cleaned (the q50
  * idiom: the returned plan lazily re-reads the snapshot dirs when the
  * driver writes the result, so inline deletes would race), and every
  * key's output is layout-INDEPENDENT — pruning/compaction change
  * which files are scanned, never which rows exist, and the oracle
  * proves it.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * areas SURVEY.md §2.11 + the 100 TB efficiency brief.
  */
object SurfaceR13b extends QueryBatch {
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- Q52: zone-map data skipping on a range-clustered write ----

  /** Q52: write `orders` range-clustered on o_orderkey into 16 files,
    * collect per-file min/max zone maps ([[TableStats.collect]] — the
    * write-time column-pruned stats pass), then serve a key-range
    * predicate by scanning ONLY zone-surviving files. The query
    * REQUIRES pruning to engage (files read strictly under half the
    * file count) — the s30 fail-loudly discipline applied to data
    * skipping. Bounds derive from max(o_orderkey) metadata so the same
    * relative range (25%–50% of keyspace) is selected at every SF.
    * The output is layout-independent: zones are necessary-condition
    * filters, the exact predicate re-applies after the pruned scan,
    * and the oracle recomputes the filter over the raw table. */
  val q52StatsPruning: Q = (s, d) => {
    val root = scratch("q52")
    val base = orders(s, d).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT)").as("qprice"))
    base.repartitionByRange(16, col("o_orderkey"))
      .write.mode("errorifexists").parquet(root.getAbsolutePath)
    val mx = base.agg(max(col("o_orderkey"))).collect()(0)
      .getAs[Number](0).longValue() // 1-row scalar readout
    val (lo, hi) = (mx / 4, mx / 2)
    val stats = TableStats.collect(s, root.getAbsolutePath, Seq("o_orderkey"))
    val (pruned, read, total) =
      TableStats.readPruned(s, stats, Seq(("o_orderkey", lo, hi)))
    require(read * 2 < total,
      s"q52: zone-map pruning did not engage — $read of $total files scanned " +
        "for a 25%-of-keyspace predicate")
    pruned.select("o_orderkey", "qprice").orderBy("o_orderkey")
  }

  // ---- Q53: Z-order clustering → multi-column skipping ----

  /** Q53: cluster `lineitem` by the Morton code of two INDEPENDENT
    * derived keys (x = l_partkey mod 256, y = l_orderkey mod 256) into
    * 32 files ([[ZOrder.cluster]] — one range shuffle, the standard
    * sort-write cost), then serve a 2-D box predicate (a quarter of
    * each dimension, 1/16 of the plane) from zone maps on BOTH
    * columns. REQUIRED: the box scan touches under half the files,
    * and — the property a 1-D sort cannot give — a y-ONLY predicate
    * also prunes, because Morton tiles bound every file's y-range too.
    * Output is a (x, y) group aggregate, fully ordered, independent of
    * layout; the oracle recomputes it from the raw table. */
  val q53ZorderSkipping: Q = (s, d) => {
    val root = scratch("q53")
    val base = lineitem(s, d).select(
      (col("l_partkey") % 256).cast("bigint").as("x"),
      (col("l_orderkey") % 256).cast("bigint").as("y"),
      expr("CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT)").as("qp"))
    ZOrder.cluster(base, "x", "y", 32)
      .write.mode("errorifexists").parquet(root.getAbsolutePath)
    val stats = TableStats.collect(s, root.getAbsolutePath, Seq("x", "y"))
    val (box, readBox, total) = TableStats.readPruned(s, stats,
      Seq(("x", 64L, 127L), ("y", 160L, 223L)))
    require(readBox * 2 < total,
      s"q53: 2-D zone pruning did not engage — $readBox of $total files for a 1/16 box")
    val yOnly = TableStats.prunedPaths(stats, Seq(("y", 160L, 223L))).size
    require(yOnly < total,
      s"q53: y-only pruning did not engage ($yOnly of $total) — layout is not z-ordered")
    box.groupBy("x", "y")
      .agg(count(lit(1)).as("n"), sum(col("qp")).as("qsum"))
      .orderBy("x", "y")
  }

  // ---- Q54: compaction (OPTIMIZE) as a versioned commit ----

  /** Q54: create a versioned table deliberately fragmented into 32
    * small files, then [[VersionedTable.compact]] it. REQUIRED: the
    * compacted snapshot has strictly fewer data files, and BOTH
    * versions stay readable (time travel across a layout rewrite).
    * The unioned readback hash-checks that compaction moved bytes,
    * not rows. Shuffle-free by design: coalesce concatenates whole
    * partitions — at 100 TB the bin-packing pass is IO-bound, never
    * shuffle-bound. */
  val q54CompactOptimize: Q = (s, d) => {
    val root = scratch("q54")
    val base = part(s, d).select(col("p_partkey"),
      expr("CAST(floor(p_retailprice * 100 + 5e-1) AS BIGINT)").as("qprice"),
      col("p_brand"))
    VersionedTable.create(root.getAbsolutePath, base.repartition(32))
    VersionedTable.compact(s, root.getAbsolutePath, 4)
    val f1 = TableLog.census(s"${root.getAbsolutePath}/v1").files
    val f2 = TableLog.census(s"${root.getAbsolutePath}/v2").files
    require(f2 < f1 && f2 <= 4,
      s"q54: compaction did not reduce file count ($f1 -> $f2)")
    (1 to 2).map { v =>
      VersionedTable.readAsOf(s, root.getAbsolutePath, v)
        .withColumn("version", lit(v))
    }.reduce(_.unionByName(_))
      .select("version", "p_partkey", "qprice", "p_brand")
      .orderBy("version", "p_partkey")
  }

  // ---- Q55: change data feed between committed versions ----

  /** Q55: commit q50's deterministic v1→v2 merge (updates on the
    * mod-15 residue, deletes on mod-30, inserts from the disjoint
    * mod-3=1 ∧ mod-11 slice), then derive the change stream BETWEEN
    * the versions with [[VersionedTable.changes]] — one full-outer
    * shuffle on the key, emitting the Delta-CDF row vocabulary
    * (insert / delete / update_preimage / update_postimage). The
    * oracle reconstructs both versions and classifies by set algebra,
    * proving the feed is exactly the version delta. */
  val q55ChangeFeed: Q = (s, d) => {
    val root = scratch("q55")
    val base = orders(s, d).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 1e4 + 5e-1) AS BIGINT)").as("qprice"),
      col("o_orderstatus"))
    val v1 = base.where(col("o_orderkey") % 3 === 0)
    VersionedTable.create(root.getAbsolutePath, v1)
    val s2 = v1.where(col("o_orderkey") % 15 === 0)
      .select(col("o_orderkey"), (col("qprice") + 500000L).as("qprice"),
        col("o_orderstatus"), (col("o_orderkey") % 30 === 0).as("del"))
      .union(base.where(col("o_orderkey") % 3 === 1 && col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey"), col("qprice"),
          lit("I").as("o_orderstatus"), lit(false).as("del")))
    VersionedTable.writeVersion(s, root.getAbsolutePath,
      s2, Seq("o_orderkey"), Some("del"), validateUniqueKeys = true)
    VersionedTable.changes(s, root.getAbsolutePath, 1, 2, Seq("o_orderkey"))
      .select("_change_type", "o_orderkey", "qprice", "o_orderstatus")
      .orderBy("o_orderkey", "_change_type")
  }

  // ---- Q56: DELETE / UPDATE as versioned commits ----

  /** Q56: copy-on-write row-level DML — [[VersionedTable.deleteWhere]]
    * drops the mod-7 residue, [[VersionedTable.updateWhere]] rewrites
    * the mod-5 residue's balance; each commits a numbered version, so
    * the DML chain is time-travelable like any merge. The oracle
    * applies the same predicate algebra to the raw table. */
  val q56DeleteUpdateChain: Q = (s, d) => {
    val root = scratch("q56")
    val base = customer(s, d).select(col("c_custkey"),
      expr("CAST(floor(c_acctbal * 100 + 5e-1) AS BIGINT)").as("qbal"),
      col("c_mktsegment"))
    VersionedTable.create(root.getAbsolutePath, base)
    VersionedTable.deleteWhere(s, root.getAbsolutePath, col("c_custkey") % 7 === 0)
    VersionedTable.updateWhere(s, root.getAbsolutePath,
      col("c_custkey") % 5 === 0, Seq("qbal" -> (col("qbal") + 12345L)))
    require(VersionedTable.versions(root.getAbsolutePath) == Seq(1, 2, 3),
      "q56: DML chain did not commit versions 1,2,3")
    VersionedTable.read(s, root.getAbsolutePath)
      .select("c_custkey", "qbal", "c_mktsegment")
      .orderBy("c_custkey")
  }

  // ---- Q57: snapshot expiry (VACUUM) ----

  /** Q57: a 3-version chain on `nation`, then
    * [[VersionedTable.expire]] retains versions ≥ 2 — REQUIRED: the
    * manifest now lists exactly (2, 3), time travel to v1 fails
    * loudly, and v1's data dir is physically gone (publish-then-delete
    * ordering, so a concurrent reader never resolves a manifest that
    * references deleted data). Surviving versions read back
    * hash-exact against the oracle's recomputed chain. */
  val q57VacuumExpire: Q = (s, d) => {
    val root = scratch("q57")
    val base = nation(s, d).select(col("n_nationkey"), col("n_name"),
      col("n_regionkey"))
    VersionedTable.create(root.getAbsolutePath, base)
    VersionedTable.updateWhere(s, root.getAbsolutePath,
      col("n_nationkey") % 2 === 0, Seq("n_regionkey" -> (col("n_regionkey") + 100)))
    VersionedTable.deleteWhere(s, root.getAbsolutePath, col("n_nationkey") % 5 === 0)
    val kept = VersionedTable.expire(root.getAbsolutePath, keepFrom = 2)
    require(kept == Seq(2, 3), s"q57: expire kept $kept, expected [2, 3]")
    val v1Gone = !new java.io.File(root, "v1").exists()
    require(v1Gone, "q57: expired v1 data dir still present after vacuum")
    val travelFails =
      try { VersionedTable.readAsOf(s, root.getAbsolutePath, 1); false }
      catch { case _: IllegalArgumentException => true }
    require(travelFails, "q57: time travel to the expired v1 did not fail loudly")
    (2 to 3).map { v =>
      VersionedTable.readAsOf(s, root.getAbsolutePath, v)
        .withColumn("version", lit(v))
    }.reduce(_.unionByName(_))
      .select("version", "n_nationkey", "n_name", "n_regionkey")
      .orderBy("version", "n_nationkey")
  }

  // ---- T26: Trigger.Continuous (epoch-based continuous processing) ----

  /** T26: the one trigger the matrix never exercised (VERDICT r12
    * "missing" #3): continuous processing — long-running epoch-based
    * tasks instead of microbatches, at-least-once semantics. A rate
    * source feeds a stateless projection (continuous mode's supported
    * fragment: no aggregates, no joins) into a memory sink under
    * `Trigger.Continuous`; the driver polls until values 0..9 have all
    * arrived, then stops the query. At-least-once delivery means
    * possible duplicates — the readout dedupes BY DESIGN and the
    * deterministic contract is the exact 10-row set, oracle-checked.
    * Cleanup is exception-safe (the t25 ADVICE idiom): the temp view
    * drops in finally. */
  val t26ContinuousTrigger: Q = (s, d) => {
    val sink = s"t26_sink_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = s.readStream.format("rate")
      .option("rowsPerSecond", 200)
      .option("numPartitions", 2)
      .load()
      .where(col("value") >= 0 && col("value") <= 9)
      .select(col("value"), (col("value") * 2).as("doubled"))
      .writeStream.format("memory").queryName(sink)
      .trigger(Trigger.Continuous("200 milliseconds"))
      .start()
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      var done = false
      while (!done) {
        if (System.nanoTime() > deadline) {
          throw new IllegalStateException(
            "t26: continuous query did not emit values 0..9 within 120 s")
        }
        done = s.table(sink).select("value").distinct().count() >= 10
        if (!done) Thread.sleep(200)
      }
      val out = s.table(sink).distinct().orderBy("value").collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(out, 1),
        s.table(sink).schema).orderBy("value")
    } finally {
      try q.stop() finally s.catalog.dropTempView(sink)
    }
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "q52_stats_pruning" -> q52StatsPruning,
    "q53_zorder_skipping" -> q53ZorderSkipping,
    "q54_compact_optimize" -> q54CompactOptimize,
    "q55_change_feed" -> q55ChangeFeed,
    "q56_delete_update_chain" -> q56DeleteUpdateChain,
    "q57_vacuum_expire" -> q57VacuumExpire,
    "t26_continuous_trigger" -> t26ContinuousTrigger)

  val oracleSql: Map[String, String] = Map(
    "q52_stats_pruning" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT o_orderkey,
        |  CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS qprice
        |FROM orders, mx
        |WHERE o_orderkey >= m // 4 AND o_orderkey <= m // 2
        |ORDER BY o_orderkey""".stripMargin,
    "q53_zorder_skipping" ->
      """WITH base AS (
        |  SELECT CAST(l_partkey % 256 AS BIGINT) AS x,
        |    CAST(l_orderkey % 256 AS BIGINT) AS y,
        |    CAST(floor(l_extendedprice * 100 + 5e-1) AS BIGINT) AS qp
        |  FROM lineitem)
        |SELECT x, y, CAST(count(*) AS BIGINT) AS n, CAST(sum(qp) AS BIGINT) AS qsum
        |FROM base
        |WHERE x BETWEEN 64 AND 127 AND y BETWEEN 160 AND 223
        |GROUP BY x, y ORDER BY x, y""".stripMargin,
    "q54_compact_optimize" ->
      """WITH base AS (
        |  SELECT p_partkey,
        |    CAST(floor(p_retailprice * 100 + 5e-1) AS BIGINT) AS qprice,
        |    p_brand
        |  FROM part)
        |SELECT CAST(1 AS INTEGER) AS version, p_partkey, qprice, p_brand FROM base
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), p_partkey, qprice, p_brand FROM base
        |ORDER BY version, p_partkey""".stripMargin,
    "q55_change_feed" ->
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
        |    AND s.del))
        |SELECT 'insert' AS _change_type, o_orderkey, qprice, o_orderstatus
        |FROM v2 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
        |UNION ALL
        |SELECT 'delete', o_orderkey, qprice, o_orderstatus
        |FROM v1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2)
        |UNION ALL
        |SELECT 'update_preimage', t.o_orderkey, t.qprice, t.o_orderstatus
        |FROM v1 t JOIN v2 s ON t.o_orderkey = s.o_orderkey
        |WHERE t.qprice <> s.qprice OR t.o_orderstatus <> s.o_orderstatus
        |UNION ALL
        |SELECT 'update_postimage', s.o_orderkey, s.qprice, s.o_orderstatus
        |FROM v1 t JOIN v2 s ON t.o_orderkey = s.o_orderkey
        |WHERE t.qprice <> s.qprice OR t.o_orderstatus <> s.o_orderstatus
        |ORDER BY o_orderkey, _change_type""".stripMargin,
    "q56_delete_update_chain" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 5 = 0
        |    THEN CAST(floor(c_acctbal * 100 + 5e-1) AS BIGINT) + 12345
        |    ELSE CAST(floor(c_acctbal * 100 + 5e-1) AS BIGINT) END AS qbal,
        |  c_mktsegment
        |FROM customer
        |WHERE c_custkey % 7 <> 0
        |ORDER BY c_custkey""".stripMargin,
    "q57_vacuum_expire" ->
      """WITH v2 AS (
        |  SELECT n_nationkey, n_name,
        |    CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey + 100
        |         ELSE n_regionkey END AS n_regionkey
        |  FROM nation),
        |v3 AS (SELECT * FROM v2 WHERE n_nationkey % 5 <> 0)
        |SELECT CAST(2 AS INTEGER) AS version, n_nationkey, n_name, n_regionkey
        |FROM v2
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), n_nationkey, n_name, n_regionkey FROM v3
        |ORDER BY version, n_nationkey""".stripMargin,
    "t26_continuous_trigger" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(0 AS BIGINT)), (1, 2), (2, 4), (3, 6),
        |  (4, 8), (5, 10), (6, 12), (7, 14), (8, 16), (9, 18))
        |AS t(value, doubled)
        |ORDER BY value""".stripMargin)
}

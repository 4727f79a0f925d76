package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.operators.{DeltaChain, IncrementalAgg, TableLog, VersionedTable}

/** Round-14 surface batch 2: the delta-chain table as a PIPELINE
  * component — per-commit CDF with preimages (q66 consumes it to
  * maintain a materialized view without rescanning the table) and
  * streaming ingest committing micro-batch deltas (t28).
  *
  * Contrast with near-siblings: q58 maintains its MV from
  * [[graft.operators.VersionedTable.changes]] — a full-outer diff of
  * two SNAPSHOTS; q66's feed is [[DeltaChain.changesAt]], where the
  * delta is the join's small side and the prior state is probed,
  * never shuffled — the at-scale CDF derivation. t27 merges stream
  * batches into the snapshot table (full rewrite per commit); t28
  * commits them as delta files — the write path whose bytes track the
  * batch, not the table.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.11 + the 100 TB efficiency brief.
  */
object SurfaceR14b extends QueryBatch {
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- Q66: incremental MV maintenance from the stored changelog ----

  /** Q66: a count+sum materialized view over a [[DeltaChain]] table,
    * maintained commit by commit from [[DeltaChain.changesAt]] — the
    * stored delta enriched with preimages recovered from the PRIOR
    * version (the state, not the writer's payload, is the preimage
    * authority; a delete of an absent key feeds nothing). Chain on
    * `orders` (key o_orderkey, group o_orderstatus):
    *   v2: upsert mod-13 (+700, skipping mod-29), delete mod-29
    *   v3: upsert mod-11 (+300, skipping mod-41 — re-inserting mod-29
    *       keys, so the MV sees insert-after-delete), delete mod-41
    * The view folds each step through
    * [[IncrementalAgg.applyCountSumDelta]]; REQUIRED in-key: the
    * incrementally-maintained view equals the direct aggregate over
    * readAsOf(3) exactly (except() both ways). The oracle recomputes
    * the v3 state from the residue algebra and aggregates it —
    * proving the whole derivation chain (stored delta → preimage
    * join → signed fold), never just the final query. */
  val q66IncrementalMvDelta: Q = (s, d) => {
    val root = scratch("q66").getAbsolutePath
    val base = orders(s, d).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT)").as("qprice"),
      col("o_orderstatus"))
    val k = col("o_orderkey")
    DeltaChain.create(root, base.coalesce(1), Seq("o_orderkey"),
      checkpointEvery = 10)
    def delta(up: DataFrame, delKeys: DataFrame): DataFrame =
      up.withColumn("del", lit(false)).unionByName(
        delKeys.withColumn("del", lit(true)))
    DeltaChain.commitDelta(s, root, delta(
      base.where(k % 13 === 0 && k % 29 =!= 0)
        .withColumn("qprice", col("qprice") + 700L),
      base.where(k % 29 === 0)).coalesce(1), Some("del"))
    DeltaChain.commitDelta(s, root, delta(
      base.where(k % 11 === 0 && k % 41 =!= 0)
        .withColumn("qprice", col("qprice") + 300L),
      base.where(k % 41 === 0)).coalesce(1), Some("del"))

    val mv1 = DeltaChain.readAsOf(s, root, 1)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("qprice").as("qsum"))
    val mv3 = (2 to 3).foldLeft(mv1) { (mv, v) =>
      IncrementalAgg.applyCountSumDelta(mv,
        DeltaChain.changesAt(s, root, v), "o_orderstatus", "qprice")
    }
    val direct = DeltaChain.readAsOf(s, root, 3)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("qprice").as("qsum"))
    val diff = mv3.exceptAll(direct).count() + direct.exceptAll(mv3).count()
    require(diff == 0,
      s"q66: incrementally-maintained view diverges from the direct aggregate " +
        s"($diff rows)")
    mv3.select(col("o_orderstatus"), col("n"),
        col("qsum").cast("bigint").as("qsum"))
      .orderBy("o_orderstatus")
  }

  // ---- T28: streaming ingest committing micro-batch deltas ----

  /** T28: the delta-commit twin of t27's streaming MERGE sink — a
    * file stream of change batches lands in a [[DeltaChain]] table
    * through foreachBatch, ONE delta commit per micro-batch (bytes ∝
    * batch; t27's snapshot MERGE rewrites the table per commit).
    * Batches carry DISJOINT key slices, so the final state is
    * delivery-order-independent and an at-least-once redelivery
    * re-commits identical upserts — a duplicate version whose replay
    * is a no-op (same idempotence argument as t27; the exactly-once
    * ledger is t18/t22's discipline). REQUIRED: ≥3 committed delta
    * versions (the stream really arrived in batches) and the
    * changelog row count equals the landed change rows. The oracle
    * recomputes the final state from the base and the slices. */
  val t28StreamDeltaIngest: Q = (s, d) => {
    val root = scratch("t28")
    val tableDir = new java.io.File(root, "table").getAbsolutePath
    val landing = new java.io.File(root, "landing").getAbsolutePath
    val ck = new java.io.File(root, "ckpt").getAbsolutePath
    val base = supplier(s, d).select(col("s_suppkey"),
      expr("CAST(floor(s_acctbal * 100 + 5e-1) AS BIGINT)").as("qbal"))
    DeltaChain.create(tableDir, base.coalesce(1), Seq("s_suppkey"),
      checkpointEvery = 100)
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
          DeltaChain.commitDelta(s, tableDir, b.coalesce(1), None)
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(180000L)) { q.stop(); sys.error("t28 drain expired") }
    val vs = DeltaChain.versions(tableDir)
    require(vs.size >= 4,
      s"t28: expected v1 + >=3 streamed delta commits, got $vs")
    val logRows = DeltaChain.changelog(s, tableDir, 1, vs.max).count()
    val landed = s.read.parquet(landing).count()
    require(logRows == landed,
      s"t28: changelog carries $logRows rows, stream landed $landed")
    DeltaChain.read(s, tableDir)
      .select("s_suppkey", "qbal")
      .orderBy("s_suppkey")
  }

  // ---- Q67: merge-on-read UPDATE + DELETE (full DV DML) ----

  /** Q67: q56's full DML chain in merge-on-read form —
    * [[graft.operators.VersionedTable.updateWhereDV]] rewrites the
    * mod-5 balances as PATCH ROWS (v2), then
    * [[graft.operators.VersionedTable.deleteWhereDV]] masks the mod-7
    * keys (v3), against a copy-on-write twin running
    * updateWhere/deleteWhere with the same predicates. REQUIRED
    * in-key: (1) the base data-file set is byte-identical across both
    * DV commits (updates write patches, never rewrite); (2) the DV
    * chain's bytes are under half the copy-on-write twin's above the
    * parquet-floor scale gate; (3) per-version set equality with the
    * twin. The v3 delete also exercises masking across patch files —
    * a mod-35 key's deleted row lives in v2's patch dir, not the base.
    * Output = the version-tagged DV reads; oracle = residue algebra. */
  val q67UpdateDv: Q = (s, d) => {
    val dvRoot = scratch("q67dv").getAbsolutePath
    val cowRoot = scratch("q67cw").getAbsolutePath
    val base = customer(s, d).select(col("c_custkey"),
      expr("CAST(floor(c_acctbal * 100 + 5e-1) AS BIGINT)").as("qbal"),
      col("c_mktsegment"))
    VersionedTable.create(dvRoot, base.coalesce(2))
    VersionedTable.create(cowRoot, base.coalesce(2))
    def fileSet(dir: String): Set[(String, Long)] = {
      val dd = new java.io.File(dir)
      Option(dd.listFiles()).map(_.filter(f =>
        f.isFile && f.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length())).toSet).getOrElse(Set.empty)
    }
    val before = fileSet(s"$dvRoot/v1")
    VersionedTable.updateWhereDV(s, dvRoot,
      col("c_custkey") % 5 === 0, Seq("qbal" -> (col("qbal") + 12345L)))
    VersionedTable.updateWhere(s, cowRoot,
      col("c_custkey") % 5 === 0, Seq("qbal" -> (col("qbal") + 12345L)))
    VersionedTable.deleteWhereDV(s, dvRoot, col("c_custkey") % 7 === 0)
    VersionedTable.deleteWhere(s, cowRoot, col("c_custkey") % 7 === 0)
    require(fileSet(s"$dvRoot/v1") == before && before.nonEmpty,
      "q67: DV DML altered the base data-file set")
    def verBytes(root: String, v: Int): Long = TableLog.census(s"$root/v$v").allBytes
    val dvBytes = verBytes(dvRoot, 2) + verBytes(dvRoot, 3)
    val cowBytes = verBytes(cowRoot, 2) + verBytes(cowRoot, 3)
    if (cowBytes >= 32768)
      require(dvBytes * 2 < cowBytes,
        s"q67: DV DML wrote $dvBytes bytes vs copy-on-write $cowBytes")
    else
      require(dvBytes < cowBytes,
        s"q67: DV DML wrote $dvBytes bytes, >= copy-on-write $cowBytes")
    (1 to 3).foreach { v =>
      val a = VersionedTable.readAsOf(s, dvRoot, v)
      val b = VersionedTable.readAsOf(s, cowRoot, v)
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      require(diff == 0, s"q67: DV v$v diverges from copy-on-write ($diff rows)")
    }
    (1 to 3).map { v =>
      VersionedTable.readAsOf(s, dvRoot, v).withColumn("version", lit(v))
    }.reduce(_.unionByName(_))
      .select("version", "c_custkey", "qbal", "c_mktsegment")
      .orderBy("version", "c_custkey")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "q66_incremental_mv_delta" -> q66IncrementalMvDelta,
    "t28_stream_delta_ingest" -> t28StreamDeltaIngest,
    "q67_update_dv" -> q67UpdateDv)

  val oracleSql: Map[String, String] = Map(
    "q66_incremental_mv_delta" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS q,
        |    o_orderstatus AS st
        |  FROM orders),
        |v3 AS (
        |  SELECT st,
        |    CASE
        |      WHEN k % 11 = 0 AND k % 41 <> 0 THEN q + 300
        |      WHEN k % 13 = 0 AND k % 29 <> 0 THEN q + 700
        |      ELSE q END AS qprice
        |  FROM base
        |  WHERE (k % 11 = 0 AND k % 41 <> 0)
        |     OR (k % 41 <> 0 AND k % 29 <> 0))
        |SELECT st AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(qprice) AS BIGINT) AS qsum
        |FROM v3 GROUP BY st
        |ORDER BY o_orderstatus""".stripMargin,
    "t28_stream_delta_ingest" ->
      """WITH base AS (
        |  SELECT s_suppkey,
        |    CAST(floor(s_acctbal * 100 + 5e-1) AS BIGINT) AS qbal
        |  FROM supplier),
        |updated AS (
        |  SELECT s_suppkey, qbal + 1000 * (1 + s_suppkey % 3) AS qbal
        |  FROM base),
        |inserted AS (
        |  SELECT s_suppkey + 1000000 AS s_suppkey, qbal
        |  FROM base WHERE s_suppkey % 7 = 0)
        |SELECT s_suppkey, qbal FROM updated
        |UNION ALL SELECT s_suppkey, qbal FROM inserted
        |ORDER BY s_suppkey""".stripMargin,
    "q67_update_dv" ->
      """WITH base AS (
        |  SELECT c_custkey,
        |    CAST(floor(c_acctbal * 100 + 5e-1) AS BIGINT) AS qbal,
        |    c_mktsegment
        |  FROM customer),
        |v(ver) AS (VALUES (1), (2), (3))
        |SELECT CAST(ver AS INTEGER) AS version, c_custkey,
        |  CASE WHEN ver >= 2 AND c_custkey % 5 = 0
        |    THEN qbal + 12345 ELSE qbal END AS qbal,
        |  c_mktsegment
        |FROM base, v
        |WHERE ver < 3 OR c_custkey % 7 <> 0
        |ORDER BY version, c_custkey""".stripMargin)
}

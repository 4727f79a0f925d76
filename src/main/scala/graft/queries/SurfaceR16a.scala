package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{DeltaChain, IncrementalAgg}

/** Round-16 surface batch 1: the delta chain's schema-evolution and
  * rollback story completed — metadata-only DROP/RENAME COLUMN via
  * column mapping (q74, VERDICT r15 item 1) and RESTORE as a forward
  * commit (q75, item 2).
  *
  * Contrast with near-siblings: q68 proved ADD COLUMN costs metadata;
  * q74 proves the other two ALTERs do too — a mis-named column now has
  * a metadata-only path back, old versions keep the old shape, and a
  * re-added name is a fresh incarnation (pre-drop values never leak).
  * q57/q62 handle forgetting data; q75 handles UNDOING a bad commit:
  * the rollback is itself a commit, so history survives and the
  * changelog carries the restoring rows — the incremental MVs q66b/t30
  * maintain keep folding straight through it.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.11 + the 100 TB efficiency brief, VERDICT r15
  * items 1/2.
  */
object SurfaceR16a extends QueryBatch {
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- Q74: DROP/RENAME COLUMN via column mapping ----

  /** Q74: metadata-only schema evolution beyond ADD — the chain on
    * `customer` renames `qbal` to `balance_q` mid-chain (v3), keeps
    * committing under the new name through a cadence checkpoint (v4),
    * DROPS `c_mktsegment` (v5), commits the narrowed shape (v6),
    * RE-ADDS the same name with default 'NA' (v7 — a fresh
    * incarnation), and commits rows that store explicit values (v8,
    * also crossing the second cadence checkpoint so the re-added
    * column materializes into a compact anchor). REQUIRED in-key:
    * (1) time travel below the rename returns the OLD name and below
    * the drop returns the dropped column — old versions keep the old
    * shape; (2) the rename moves values exactly (readAsOf(3) ≡
    * readAsOf(2) modulo the name, except() both ways); (3) a commit
    * still carrying the dropped column is REJECTED naming it (the
    * fail-loudly write boundary); (4) after the re-add every pre-v8
    * row reads 'NA' — pre-drop values never leak into the new
    * incarnation; (5) the audit view labels v3 rename_column and v5
    * drop_column. Output: the v8 head — the oracle pins every value
    * through both mappings and both checkpoints. */
  val q74DropRenameColumn: Q = (s, d) => {
    val root = scratch("q74").getAbsolutePath
    val base = customer(s, d).select(col("c_custkey"),
      expr("CAST(floor(c_acctbal * 100 + 5e-1) AS BIGINT)").as("qbal"),
      col("c_mktsegment"))
    val k = col("c_custkey")
    DeltaChain.create(root, base.coalesce(2), Seq("c_custkey"),
      checkpointEvery = 3)
    DeltaChain.commitDelta(s, root,
      base.where(k % 7 === 0)
        .withColumn("qbal", col("qbal") + 100L).coalesce(1))           // v2
    DeltaChain.renameColumn(s, root, "qbal", "balance_q")              // v3
    // (1)+(2): old versions keep the old shape; the rename moved the
    // values exactly
    val preCols = DeltaChain.readAsOf(s, root, 2).columns.toSeq
    require(preCols.contains("qbal") && !preCols.contains("balance_q"),
      s"q74: readAsOf(2) should carry the OLD name, has ${preCols.mkString(",")}")
    val renamedPre = DeltaChain.readAsOf(s, root, 2)
      .withColumnRenamed("qbal", "balance_q")
    val post3 = DeltaChain.readAsOf(s, root, 3)
    val rdiff = renamedPre.exceptAll(post3).count() +
      post3.exceptAll(renamedPre).count()
    require(rdiff == 0, s"q74: rename moved values ($rdiff rows differ)")
    val renamedBase = base.withColumnRenamed("qbal", "balance_q")
    DeltaChain.commitDelta(s, root,
      renamedBase.where(k % 11 === 0)
        .withColumn("balance_q", col("balance_q") + 200L).coalesce(1)) // v4 + c4
    DeltaChain.dropColumn(s, root, "c_mktsegment")                     // v5
    val at4 = DeltaChain.readAsOf(s, root, 4).columns.toSeq
    val at5 = DeltaChain.readAsOf(s, root, 5).columns.toSeq
    require(at4.contains("c_mktsegment") && !at5.contains("c_mktsegment"),
      s"q74: drop boundary wrong — v4 has ${at4.mkString(",")}, v5 has ${at5.mkString(",")}")
    // (3) the write boundary rejects the dropped column BY NAME
    val rejected =
      try {
        DeltaChain.commitDelta(s, root,
          renamedBase.where(k % 13 === 0).coalesce(1))
        false
      } catch {
        case e: IllegalArgumentException =>
          e.getMessage.contains("c_mktsegment")
      }
    require(rejected, "q74: commit carrying the dropped column was not rejected")
    DeltaChain.commitDelta(s, root,
      renamedBase.drop("c_mktsegment").where(k % 13 === 0)
        .withColumn("balance_q", col("balance_q") + 300L).coalesce(1)) // v6
    DeltaChain.addColumn(s, root, "c_mktsegment", "'NA'")              // v7
    // (4) fresh incarnation: nothing from before the drop leaks in
    val leaked = DeltaChain.readAsOf(s, root, 7)
      .where(col("c_mktsegment") =!= "NA").count()
    require(leaked == 0,
      s"q74: $leaked pre-drop c_mktsegment value(s) leaked into the re-add")
    DeltaChain.commitDelta(s, root,
      renamedBase.where(k % 17 === 0)
        .withColumn("balance_q", col("balance_q") + 400L)
        .withColumn("c_mktsegment", lit("XX")).coalesce(1))            // v8 + c8
    // (5) the audit view names both mapping commits
    val kinds = DeltaChain.history(s, root)
      .where(col("version").isin(3, 5))
      .select("version", "kind").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    require(kinds == Map(3 -> "rename_column", 5 -> "drop_column"),
      s"q74: history kinds wrong: $kinds")
    DeltaChain.read(s, root)
      .select("c_custkey", "balance_q", "c_mktsegment")
      .orderBy("c_custkey")
  }

  // ---- Q75: RESTORE (rollback as a forward commit) ----

  /** Q75: [[DeltaChain.restore]] — the "bad commit landed" operator.
    * Chain on `supplier`: v2 reprices mod-3 (+1000); v3 deletes mod-7
    * and reprices mod-5 (+2000); v4 reprices evens (+3000, which
    * RE-INSERTS even mod-7 keys) and INSERTS synthetic keys the base
    * never had (mod-97, shifted key space). RESTORE to v2 (v5) must
    * resurrect v3's deletes, roll back both repricings, and DELETE the
    * synthetic inserts — all as ONE minimal forward delta. REQUIRED
    * in-key: (1) readAsOf(5) ≡ readAsOf(2), except() both ways;
    * (2) the audit view labels v5 `restore` — history is preserved,
    * v3/v4 still time-travel; (3) the incremental MV maintained from
    * v2 through ONE changesRange(2, 5) fold equals the direct
    * aggregate at v5 — downstream MVs keep working THROUGH a restore
    * because the rollback flows through the changelog like any other
    * commit. v6 then commits normally off the restored head. Output:
    * the v6 state, oracle-pinned. */
  val q75Restore: Q = (s, d) => {
    val root = scratch("q75").getAbsolutePath
    val base = supplier(s, d).select(col("s_suppkey"),
      expr("CAST(floor(s_acctbal * 100 + 5e-1) AS BIGINT)").as("qbal"),
      col("s_nationkey"))
    val k = col("s_suppkey")
    DeltaChain.create(root, base.coalesce(1), Seq("s_suppkey"),
      checkpointEvery = 100)
    def delta(up: DataFrame, delKeys: DataFrame): DataFrame =
      up.withColumn("del", lit(false)).unionByName(
        delKeys.withColumn("del", lit(true)))
    DeltaChain.commitDelta(s, root,
      base.where(k % 3 === 0)
        .withColumn("qbal", col("qbal") + 1000L).coalesce(1))          // v2
    DeltaChain.commitDelta(s, root, delta(
      base.where(k % 5 === 0 && k % 7 =!= 0)
        .withColumn("qbal", col("qbal") + 2000L),
      base.where(k % 7 === 0)).coalesce(1), Some("del"))               // v3
    // synthetic inserts live past the table's own key space (a fixed
    // shift collided with sf1's replica re-keying — 1-value readout)
    val shift = base.agg(max("s_suppkey")).collect()(0).getLong(0) + 1L
    DeltaChain.commitDelta(s, root,
      base.where(k % 2 === 0)
        .withColumn("qbal", col("qbal") + 3000L)
        .unionByName(base.where(k % 97 === 0)
          .withColumn("s_suppkey", col("s_suppkey") + lit(shift)))
        .coalesce(1))                                                  // v4
    val mv2 = DeltaChain.readAsOf(s, root, 2)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum("qbal").as("qsum"))
    val v5 = DeltaChain.restore(s, root, toVersion = 2)                // v5
    require(v5 == 5, s"q75: restore committed v$v5, expected 5")
    // (1) the restored head IS the target state
    val target = DeltaChain.readAsOf(s, root, 2)
    val head5 = DeltaChain.readAsOf(s, root, 5)
    val diff = target.exceptAll(head5).count() + head5.exceptAll(target).count()
    require(diff == 0, s"q75: restored head diverges from readAsOf(2) ($diff rows)")
    // (2) history preserved, kind recorded at commit
    val kind5 = DeltaChain.history(s, root)
      .where(col("version") === 5).select("kind").collect()(0).getString(0)
    require(kind5 == "restore", s"q75: v5 kind is '$kind5', expected 'restore'")
    require(DeltaChain.versions(root) == Seq(1, 2, 3, 4, 5),
      s"q75: restore rewrote history: ${DeltaChain.versions(root)}")
    // (3) the MV folds straight through the restore
    val mv5 = IncrementalAgg.applyCountSumDelta(
      mv2, DeltaChain.changesRange(s, root, 2, 5), "s_nationkey", "qbal")
    val direct5 = head5.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum("qbal").as("qsum"))
    val mdiff = mv5.exceptAll(direct5).count() + direct5.exceptAll(mv5).count()
    require(mdiff == 0,
      s"q75: MV maintained across the restore diverges ($mdiff rows)")
    DeltaChain.commitDelta(s, root,
      base.where(k % 11 === 0)
        .withColumn("qbal", col("qbal") + 500L).coalesce(1))           // v6
    DeltaChain.read(s, root)
      .select("s_suppkey", "qbal", "s_nationkey")
      .orderBy("s_suppkey")
  }

  // ---- Q76: SQL-surface time travel (graft_chain relation) ----

  /** Q76: [[org.apache.spark.sql.graft.GraftChainRelation]] — the SQL
    * surface over the delta chain (VERDICT r15 item 7): plain SQL
    * reads a versioned table via the `graft_chain`.`<dir>` relation,
    * with Spark's own `VERSION AS OF` temporal clause (and a `@v`
    * suffix form). The substituted plan IS readAsOf's — q71's chain
    * shape repeated THROUGH SQL so the partitioned checkpoint's
    * planning-time pruning provably survives the surface. REQUIRED
    * in-key: (1) `VERSION AS OF 2` ≡ library readAsOf(2), except()
    * both ways; (2) the versionless head read ≡ `VERSION AS OF 3` ≡
    * the `@3` suffix form; (3) the partition-filtered SQL read carries
    * PartitionFilters in its EXECUTED plan (pruning intact across the
    * surface); (4) TIMESTAMP AS OF is refused loudly. Output: the SQL
    * head state — the oracle pins every replayed row read through the
    * SQL surface. */
  val q76SqlTimeTravel: Q = (s, d) => {
    val root = scratch("q76").getAbsolutePath
    val base = orders(s, d).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT)").as("qprice"),
      col("o_orderstatus"))
    val k = col("o_orderkey")
    DeltaChain.create(root, base.coalesce(2), Seq("o_orderkey"),
      checkpointEvery = 2, partitionBy = Seq("o_orderstatus"))
    DeltaChain.commitDelta(s, root,
      base.where(k % 7 === 0)
        .withColumn("qprice", col("qprice") + 100L).coalesce(1))       // v2
    DeltaChain.commitDelta(s, root,
      base.where(k % 9 === 0)
        .withColumn("qprice", col("qprice") + 200L).coalesce(1))       // v3 + c3
    def sqlRead(suffix: String): DataFrame =
      s.sql(s"SELECT o_orderkey, qprice, o_orderstatus " +
        s"FROM graft_chain.`$root`$suffix")
    // (1) VERSION AS OF ≡ the library read
    val sqlV2 = sqlRead(" VERSION AS OF 2")
    val libV2 = DeltaChain.readAsOf(s, root, 2)
      .select("o_orderkey", "qprice", "o_orderstatus")
    val d2 = sqlV2.exceptAll(libV2).count() + libV2.exceptAll(sqlV2).count()
    require(d2 == 0, s"q76: SQL VERSION AS OF 2 diverges from readAsOf(2) ($d2 rows)")
    // (2) head default ≡ explicit version ≡ suffix form
    val head = sqlRead("")
    val v3 = sqlRead(" VERSION AS OF 3")
    val suf = s.sql(s"SELECT o_orderkey, qprice, o_orderstatus " +
      s"FROM graft_chain.`$root@3`")
    require(head.exceptAll(v3).count() + v3.exceptAll(head).count() == 0,
      "q76: versionless head diverges from VERSION AS OF 3")
    require(head.exceptAll(suf).count() + suf.exceptAll(head).count() == 0,
      "q76: @3 suffix form diverges from VERSION AS OF 3")
    // (3) partition pruning survives the SQL surface
    val plan = s.sql(s"SELECT * FROM graft_chain.`$root` " +
      "WHERE o_orderstatus = 'F'").queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      "q76: partition filter not pushed through the SQL surface")
    // (4) the unsupported travel axis is refused loudly
    val refused =
      try { s.sql(s"SELECT * FROM graft_chain.`$root` " +
        "TIMESTAMP AS OF '2026-01-01'").collect(); false }
      catch { case e: Throwable =>
        e.getMessage != null && e.getMessage.contains("VERSION AS OF") }
    require(refused, "q76: TIMESTAMP AS OF was not refused")
    head.orderBy("o_orderkey")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "q74_drop_rename_column" -> q74DropRenameColumn,
    "q75_restore" -> q75Restore,
    "q76_sql_time_travel" -> q76SqlTimeTravel)

  val oracleSql: Map[String, String] = Map(
    "q74_drop_rename_column" ->
      """WITH base AS (
        |  SELECT c_custkey AS k,
        |    CAST(floor(c_acctbal * 100 + 5e-1) AS BIGINT) AS q
        |  FROM customer)
        |SELECT k AS c_custkey,
        |  CASE WHEN k % 17 = 0 THEN q + 400
        |       WHEN k % 13 = 0 THEN q + 300
        |       WHEN k % 11 = 0 THEN q + 200
        |       WHEN k % 7 = 0 THEN q + 100
        |       ELSE q END AS balance_q,
        |  CASE WHEN k % 17 = 0 THEN 'XX' ELSE 'NA' END AS c_mktsegment
        |FROM base
        |ORDER BY c_custkey""".stripMargin,
    "q76_sql_time_travel" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS q,
        |    o_orderstatus AS st
        |  FROM orders)
        |SELECT k AS o_orderkey,
        |  CASE WHEN k % 9 = 0 THEN q + 200
        |       WHEN k % 7 = 0 THEN q + 100
        |       ELSE q END AS qprice,
        |  st AS o_orderstatus
        |FROM base
        |ORDER BY o_orderkey""".stripMargin,
    "q75_restore" ->
      """WITH base AS (
        |  SELECT s_suppkey AS k,
        |    CAST(floor(s_acctbal * 100 + 5e-1) AS BIGINT) AS q,
        |    s_nationkey AS nk
        |  FROM supplier)
        |SELECT k AS s_suppkey,
        |  CASE WHEN k % 11 = 0 THEN q + 500
        |       WHEN k % 3 = 0 THEN q + 1000
        |       ELSE q END AS qbal,
        |  nk AS s_nationkey
        |FROM base
        |ORDER BY s_suppkey""".stripMargin)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{DeltaChain, TableLog, VersionedTable}

/** Round-14 surface batch 1: delta-commit storage (VERDICT r13 item 2)
  * — [[graft.operators.DeltaChain]], the write-amplification-free
  * storage mode for the versioned table, proven equivalent to the
  * full-snapshot form version by version.
  *
  * Contrast with near-siblings: q50–q63 exercise the SNAPSHOT-chain
  * VersionedTable (commit cost ∝ table — the correctness-first form);
  * q64 commits the SAME logical chain as per-version change files +
  * periodic checkpoints and REQUIRES (a) every version's replayed
  * state to match the snapshot twin exactly and (b) the byte census
  * to show delta commits cost ∝ |delta|. lp26 proved the replay fold
  * on a synthetic changelog; here the fold is the table's actual read
  * path across a checkpoint boundary.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.11 + the 100 TB efficiency brief.
  */
object SurfaceR14a extends QueryBatch {
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // ---- Q64: delta-commit chain ≡ snapshot chain, with byte census ----

  /** Q64: a deterministic 4-version DML chain committed BOTH ways —
    * [[DeltaChain]] (change files + checkpointEvery=3, so v2/v3 replay
    * from c1 and v4 lands a checkpoint) and [[VersionedTable]] (full
    * snapshot per version, the q50 form) — from identical residue-class
    * deltas on `orders`:
    *   v2: upsert mod-17 keys (+1000), delete mod-31
    *   v3: upsert mod-19 keys (+5000, skipping mod-37), delete the
    *       still-live mod-37 keys (re-inserting mod-19 keys deleted at
    *       v2 — replay must honor re-insertion after delete)
    *   v4: upsert mod-23 keys (+9000, re-inserting deleted keys)
    * REQUIRED in-key: (1) per-version set equality between the two
    * storage modes (except() both directions — the "delta-chain
    * readAsOf ≡ full-snapshot readAsOf" done-criterion); (2) the byte
    * census: 3× the summed delta bytes still under the summed snapshot
    * bytes for v2..v4 — commit cost ∝ delta, not table; (3) checkpoint
    * cadence exactly {c1, c4}; (4) the changelog row count equals the
    * summed delta cardinality (zero-join CDC read path). Output is the
    * version-tagged union of the DELTA table's readAsOf — the oracle
    * recomputes every version's state from the residue algebra. */
  val q64DeltaChain: Q = (s, d) => {
    val dRoot = scratch("q64d").getAbsolutePath
    val sRoot = scratch("q64s").getAbsolutePath
    val base = orders(s, d).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT)").as("qprice"),
      col("o_orderstatus"))
    val k = col("o_orderkey")
    // single-file writes on both sides so the census compares data
    // volume, not per-file parquet overhead
    def one(df: DataFrame) = df.coalesce(1)

    def delta(up: DataFrame, delKeys: DataFrame): DataFrame =
      up.withColumn("del", lit(false)).unionByName(
        delKeys.withColumn("del", lit(true)))
    val d2 = delta(
      base.where(k % 17 === 0 && k % 31 =!= 0)
        .withColumn("qprice", col("qprice") + 1000L),
      base.where(k % 31 === 0))
    // v3's delete set excludes keys already deleted at v2: this key
    // drives the snapshot twin in ANSI mode (writeVersion's default,
    // which INSERTS a not-matched delete-flagged row), so equivalence
    // holds only where deletes target live keys. Since r15 the modes
    // ALSO agree on deletes of absent keys when the snapshot side
    // passes insertUnmatchedDeletes = false — the CDC-apply policy;
    // DeleteAbsentSemanticsSpec proves that equivalence directly.
    val d3 = delta(
      base.where(k % 19 === 0 && k % 37 =!= 0)
        .withColumn("qprice", col("qprice") + 5000L),
      base.where(k % 37 === 0 && k % 31 =!= 0))
    val d4 = base.where(k % 23 === 0)
      .withColumn("qprice", col("qprice") + 9000L)
      .withColumn("del", lit(false))

    DeltaChain.create(dRoot, one(base), Seq("o_orderkey"), checkpointEvery = 3)
    VersionedTable.create(sRoot, one(base))
    Seq(d2, d3, d4).foreach { dl =>
      DeltaChain.commitDelta(s, dRoot, one(dl), Some("del"))
      VersionedTable.writeVersion(s, sRoot, one(dl), Seq("o_orderkey"),
        Some("del"), validateUniqueKeys = true)
    }

    // (3) cadence: create checkpoints v1; v4-c1 hits the every-3 due
    def has(p: String) = new java.io.File(p).exists()
    require(has(s"$dRoot/c1") && has(s"$dRoot/c4") &&
      !has(s"$dRoot/c2") && !has(s"$dRoot/c3") && !has(s"$dRoot/d1") &&
      has(s"$dRoot/d2") && has(s"$dRoot/d3") && has(s"$dRoot/d4"),
      "q64: checkpoint cadence broken — expected {c1,c4} + {d2,d3,d4}")

    // (1) per-version equivalence, both directions, all four versions
    (1 to 4).foreach { v =>
      val dv = DeltaChain.readAsOf(s, dRoot, v)
      val sv = VersionedTable.readAsOf(s, sRoot, v)
      val only = dv.exceptAll(sv).count() + sv.exceptAll(dv).count()
      require(only == 0,
        s"q64: delta-chain v$v diverges from the snapshot twin ($only rows)")
    }

    // (2) byte census: delta commits must cost ∝ |delta|
    val census = DeltaChain.commitBytes(s, dRoot)
      .where(col("version") >= 2)
      .agg(sum("delta_bytes")).collect()(0).getLong(0)
    val snapBytes = (2 to 4).map(v => TableLog.census(s"$sRoot/v$v").bytes).sum
    require(census * 3 < snapBytes,
      s"q64: delta commits wrote $census bytes vs $snapBytes snapshot bytes " +
        "— commit cost is not ∝ delta")

    // (4) the zero-join CDC read path is complete
    val logRows = DeltaChain.changelog(s, dRoot, 1, 4).count()
    val deltaRows = Seq(d2, d3, d4).map(_.count()).sum
    require(logRows == deltaRows,
      s"q64: changelog carries $logRows rows, deltas committed $deltaRows")

    (1 to 4).map { v =>
      DeltaChain.readAsOf(s, dRoot, v).withColumn("version", lit(v))
    }.reduce(_.unionByName(_))
      .select("version", "o_orderkey", "qprice", "o_orderstatus")
      .orderBy("version", "o_orderkey")
  }

  // ---- Q65: deletion vectors (merge-on-read DELETE) ----

  /** Q65: the merge-on-read twin of q56's copy-on-write DML
    * (VERDICT r13 item 4) — two chained [[VersionedTable.deleteWhereDV]]
    * commits (mod-7, then mod-11) on `customer`, against a
    * copy-on-write twin running [[VersionedTable.deleteWhere]] with
    * the same predicates. REQUIRED in-key: (1) the base data-file set
    * is BYTE-IDENTICAL (names + sizes) across both DV commits — the
    * files-never-rewritten contract that keeps row_index a stable row
    * identity; (2) the DV commits' bytes written are under half the
    * copy-on-write twin's (rows-deleted-proportional, not
    * table-proportional); (3) both tables read back set-equal at
    * every version. Output is the version-tagged union of the DV
    * table's reads; the oracle recomputes each version from the
    * residue algebra. */
  val q65DeleteDv: Q = (s, d) => {
    val dvRoot = scratch("q65dv").getAbsolutePath
    val cowRoot = scratch("q65cw").getAbsolutePath
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
    VersionedTable.deleteWhereDV(s, dvRoot, col("c_custkey") % 7 === 0)
    VersionedTable.deleteWhere(s, cowRoot, col("c_custkey") % 7 === 0)
    VersionedTable.deleteWhereDV(s, dvRoot, col("c_custkey") % 11 === 0)
    VersionedTable.deleteWhere(s, cowRoot, col("c_custkey") % 11 === 0)
    // (1) merge-on-read never touched the base files
    require(fileSet(s"$dvRoot/v1") == before && before.nonEmpty,
      "q65: DV commits altered the base data-file set")
    // (2) bytes written ∝ rows deleted: sidecar commits vs full rewrites
    def verBytes(root: String, v: Int): Long = TableLog.census(s"$root/v$v").allBytes
    val dvBytes = verBytes(dvRoot, 2) + verBytes(dvRoot, 3)
    val cowBytes = verBytes(cowRoot, 2) + verBytes(cowRoot, 3)
    // the 2× ratio is a SCALE claim: below ~32 KB a parquet file is
    // footer/dictionary floor, not data, so the tiniest fixture (150
    // customers at sf0.001) degrades to the direction-only check; at
    // sf0.01+ the strict form binds and tightens with SF
    if (cowBytes >= 32768)
      require(dvBytes * 2 < cowBytes,
        s"q65: DV commits wrote $dvBytes bytes vs copy-on-write $cowBytes " +
          "— not rows-deleted-proportional")
    else
      require(dvBytes < cowBytes,
        s"q65: DV commits wrote $dvBytes bytes, >= copy-on-write $cowBytes")
    // (3) the two delete strategies are observationally identical
    (1 to 3).foreach { v =>
      val a = VersionedTable.readAsOf(s, dvRoot, v)
      val b = VersionedTable.readAsOf(s, cowRoot, v)
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      require(diff == 0, s"q65: DV v$v diverges from copy-on-write ($diff rows)")
    }
    (1 to 3).map { v =>
      VersionedTable.readAsOf(s, dvRoot, v).withColumn("version", lit(v))
    }.reduce(_.unionByName(_))
      .select("version", "c_custkey", "qbal", "c_mktsegment")
      .orderBy("version", "c_custkey")
  }

  // ---- A37: theta-sketch Jaccard similarity between distinct sets ----

  /** A37: pairwise Jaccard similarity between the customer sets of the
    * three order statuses (F/O/P), estimated from the THREE compact
    * theta sketches alone — |A∩B|/|A∪B| via
    * [[org.apache.spark.sql.graft.SketchAggs.thetaJaccardEstimate]]
    * (SURVEY §18.16 thread 3: the ratio DataSketches theta supports
    * that HLL structurally cannot). One scan builds all three
    * sketches; every pairwise readout is driver-side byte algebra —
    * the at-scale shape for "how much do these audiences overlap"
    * across N segments without N² scans. Exact intersection/union
    * cardinalities hash-anchor each row; the estimate lands as the
    * a36 ±tolerance flag (±0.05 absolute on a [0,1] quantity). */
  val a37ThetaJaccard: Q = (s, d) => {
    val base = orders(s, d).select(col("o_orderstatus").as("st"),
      col("o_custkey").cast("long").as("ck"))
    import org.apache.spark.sql.graft.SketchAggs
    val sk = base.groupBy("st")
      .agg(SketchAggs.thetaSketch(col("ck"), 12).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    require(Set("F", "O", "P").subsetOf(sk.keySet),
      s"a37: fixture is missing an order status — have ${sk.keys.mkString(",")}")
    val exact = base.groupBy("ck").agg(
      max(when(col("st") === "F", 1).otherwise(0)).as("inF"),
      max(when(col("st") === "O", 1).otherwise(0)).as("inO"),
      max(when(col("st") === "P", 1).otherwise(0)).as("inP"))
    val pairs = Seq(("F", "O"), ("F", "P"), ("O", "P"))
    val ex = exact.agg(
      sum(col("inF") * col("inO")).as("iFO"),
      sum(greatest(col("inF"), col("inO"))).as("uFO"),
      sum(col("inF") * col("inP")).as("iFP"),
      sum(greatest(col("inF"), col("inP"))).as("uFP"),
      sum(col("inO") * col("inP")).as("iOP"),
      sum(greatest(col("inO"), col("inP"))).as("uOP"))
      .collect()(0)
    val exMap = Map(
      ("F", "O") -> (ex.getLong(0), ex.getLong(1)),
      ("F", "P") -> (ex.getLong(2), ex.getLong(3)),
      ("O", "P") -> (ex.getLong(4), ex.getLong(5)))
    import s.implicits._
    pairs.map { case (a, b) =>
      val (i, u) = exMap((a, b))
      val est = SketchAggs.thetaJaccardEstimate(sk(a), sk(b))
      val exactJ = if (u == 0) 1.0 else i.toDouble / u
      (s"${a}_$b", i, u, math.abs(est - exactJ) <= 0.05)
    }.toDF("setpair", "inter_exact", "union_exact", "jaccard_ok")
      .orderBy("setpair")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "q64_delta_chain" -> q64DeltaChain,
    "q65_delete_dv" -> q65DeleteDv,
    "a37_theta_jaccard" -> a37ThetaJaccard)

  val oracleSql: Map[String, String] = Map(
    "q64_delta_chain" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) AS q,
        |    o_orderstatus AS st
        |  FROM orders),
        |v(ver) AS (VALUES (1), (2), (3), (4)),
        |state AS (
        |  SELECT ver, k, st,
        |    CASE
        |      WHEN ver >= 4 AND k % 23 = 0 THEN q + 9000
        |      WHEN ver >= 3 AND k % 19 = 0 AND k % 37 <> 0 THEN q + 5000
        |      WHEN ver >= 2 AND k % 17 = 0 AND k % 31 <> 0 THEN q + 1000
        |      ELSE q END AS qprice,
        |    CASE
        |      WHEN ver >= 4 AND k % 23 = 0 THEN TRUE
        |      WHEN ver >= 3 AND k % 37 = 0 AND k % 31 <> 0 THEN FALSE
        |      WHEN ver >= 3 AND k % 19 = 0 AND k % 37 <> 0 THEN TRUE
        |      WHEN ver >= 2 AND k % 31 = 0 THEN FALSE
        |      ELSE TRUE END AS present
        |  FROM base, v)
        |SELECT CAST(ver AS INTEGER) AS version, k AS o_orderkey, qprice,
        |  st AS o_orderstatus
        |FROM state WHERE present
        |ORDER BY version, o_orderkey""".stripMargin,
    "q65_delete_dv" ->
      """WITH base AS (
        |  SELECT c_custkey,
        |    CAST(floor(c_acctbal * 100 + 5e-1) AS BIGINT) AS qbal,
        |    c_mktsegment
        |  FROM customer),
        |v(ver) AS (VALUES (1), (2), (3))
        |SELECT CAST(ver AS INTEGER) AS version, c_custkey, qbal, c_mktsegment
        |FROM base, v
        |WHERE (ver < 2 OR c_custkey % 7 <> 0)
        |  AND (ver < 3 OR c_custkey % 11 <> 0)
        |ORDER BY version, c_custkey""".stripMargin,
    "a37_theta_jaccard" ->
      """WITH m AS (
        |  SELECT o_custkey AS ck,
        |    max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS inF,
        |    max(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS inO,
        |    max(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS inP
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(inF * inO) AS BIGINT) AS iFO,
        |    CAST(sum(greatest(inF, inO)) AS BIGINT) AS uFO,
        |    CAST(sum(inF * inP) AS BIGINT) AS iFP,
        |    CAST(sum(greatest(inF, inP)) AS BIGINT) AS uFP,
        |    CAST(sum(inO * inP) AS BIGINT) AS iOP,
        |    CAST(sum(greatest(inO, inP)) AS BIGINT) AS uOP
        |  FROM m)
        |SELECT 'F_O' AS setpair, iFO AS inter_exact, uFO AS union_exact,
        |  TRUE AS jaccard_ok FROM t
        |UNION ALL SELECT 'F_P', iFP, uFP, TRUE FROM t
        |UNION ALL SELECT 'O_P', iOP, uOP, TRUE FROM t
        |ORDER BY setpair""".stripMargin)
}

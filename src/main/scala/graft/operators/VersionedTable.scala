package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

/** Versioned snapshot table over a plain parquet directory — the
  * minimal lakehouse contract (VERDICT r12 item 2): MERGE-writes
  * produce immutable numbered versions and any committed version can
  * be read back exactly (time travel), with readers never observing a
  * half-written commit.
  *
  * Layout:
  * {{{
  *   baseDir/
  *     v1/  v2/  v3/ ...        immutable parquet snapshot per version
  *     _graft_manifest          one committed version number per line,
  *                              ascending; REPLACED ATOMICALLY per commit
  * }}}
  *
  * Commit protocol (single-writer): write the new snapshot dir `v{n+1}`
  * COMPLETELY, then publish it by writing the new manifest to a temp
  * file and `ATOMIC_MOVE`-renaming it over `_graft_manifest`. A reader
  * resolves the manifest first and only ever lists versions whose data
  * dirs were fully written before the rename — a crash mid-snapshot
  * leaves an orphan `v{n+1}` dir that no manifest references (invisible
  * garbage, never a torn read). This is the same publish-by-rename
  * discipline Delta/Iceberg use for their log/metadata pointer; the
  * manifest, the multi-writer claim ([[commitNextArbitrated]]) and the
  * staging janitor are [[TableLog]]'s, shared with [[DeltaChain]].
  *
  * Snapshot-chain form: every version is a FULL snapshot, not a delta.
  * That makes read-as-of O(1) (read one dir, zero log replay) and lets
  * a hash check pin every version byte-for-byte; the cost is write
  * amplification proportional to table size. At 100 TB a production
  * table stores per-commit deltas plus periodic compacted checkpoints
  * (exactly what the lp26 CDC-apply + q33 SCD2 ops provide the replay
  * math for); the version/manifest/time-travel surface here is
  * unchanged by that storage choice. The merge itself is
  * [[MergeUpsert]] — one full-outer shuffle on the merge keys, the
  * at-scale MERGE plan.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract area
  * SURVEY.md §2.11 (pipeline/curation ops), VERDICT r12 item 2.
  */
object VersionedTable {

  /** Committed versions, ascending; empty if the table does not exist. */
  def versions(baseDir: String): Seq[Int] = TableLog.versions(baseDir)

  /** Latest committed version, or 0 for a nonexistent table. */
  def latestVersion(baseDir: String): Int = TableLog.latestVersion(baseDir)

  private def snapshotDir(baseDir: String, version: Int): String =
    s"$baseDir/v$version"

  private def writeSnapshot(baseDir: String, version: Int, df: DataFrame): Int = {
    df.write.mode("errorifexists").parquet(snapshotDir(baseDir, version))
    TableLog.publishVersion(baseDir, version)
    version
  }

  /** Create the table at version 1 from an initial snapshot. */
  def create(baseDir: String, df: DataFrame): Int = {
    require(versions(baseDir).isEmpty,
      s"VersionedTable.create: $baseDir already has committed versions")
    Files.createDirectories(Paths.get(baseDir))
    writeSnapshot(baseDir, 1, df)
  }

  /** MERGE `changes` into the latest snapshot and commit the result as
    * the next version (see [[MergeUpsert.mergeUpsert]] for the
    * matched/not-matched/delete contract, including the
    * `insertUnmatchedDeletes` policy — pass `false` when `changes` is
    * a CDC feed, so this snapshot form and [[DeltaChain.commitDelta]]
    * agree on deletes of absent keys). Returns the new version. */
  def writeVersion(
      spark: SparkSession,
      baseDir: String,
      changes: DataFrame,
      keys: Seq[String],
      deleteCol: Option[String] = None,
      validateUniqueKeys: Boolean = false,
      insertUnmatchedDeletes: Boolean = true): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"VersionedTable.writeVersion: $baseDir has no v1 — create() first")
    val target = readAsOf(spark, baseDir, current)
    val merged = MergeUpsert.mergeUpsert(
      target, changes, keys, deleteCol, validateUniqueKeys,
      insertUnmatchedDeletes)
    writeSnapshot(baseDir, current + 1, merged)
  }

  /** OPTIMIZE: rewrite the latest snapshot into `numFiles` bin-packed
    * files and commit the rewrite as the next version. Data is
    * unchanged BY CONSTRUCTION (same frame, `coalesce` only merges
    * partitions, never reorders rows within one) — the commit exists
    * so readers atomically switch layouts and time travel still
    * reaches the pre-compaction file set. At 100 TB this is the
    * standard small-file compaction pass: `coalesce` is shuffle-free
    * (each output file concatenates whole input partitions); use a
    * [[ZOrder.cluster]] rewrite instead when re-clustering is the
    * goal. Returns the new version. */
  def compact(spark: SparkSession, baseDir: String, numFiles: Int): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"VersionedTable.compact: $baseDir has no v1 — create() first")
    writeSnapshot(baseDir, current + 1, read(spark, baseDir).coalesce(numFiles))
  }

  /** Commit an arbitrary frame as the next version — the general
    * commit primitive the specialized ops (merge/compact/DML) build
    * on; exposed for pipelines whose new state is computed outside the
    * table (e.g. a cascade anti-join against ANOTHER table's keys,
    * q62). The frame must carry the table's schema. */
  def commitNext(spark: SparkSession, baseDir: String, df: DataFrame): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"VersionedTable.commitNext: $baseDir has no v1 — create() first")
    val cur = read(spark, baseDir).columns.toSeq
    require(df.columns.toSeq.sorted == cur.sorted,
      s"VersionedTable.commitNext: schema mismatch — table has ${cur.mkString(",")}, " +
        s"frame has ${df.columns.mkString(",")}")
    writeSnapshot(baseDir, current + 1, df.select(cur.map(col): _*))
  }

  /** OPTIMIZE … ZORDER BY (x, y): rewrite the latest snapshot
    * Morton-clustered on two 16-bit-folded key columns and commit it —
    * [[compact]]'s re-CLUSTERING sibling (compact merges small files
    * without moving rows between them; this pays one range shuffle to
    * make zone maps prune on both keys, per [[ZOrder.cluster]]). Rows
    * are unchanged; only layout moves — time travel still reaches the
    * pre-rewrite file set. */
  def rewriteClustered(
      spark: SparkSession,
      baseDir: String,
      xCol: String,
      yCol: String,
      numFiles: Int): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"VersionedTable.rewriteClustered: $baseDir has no v1 — create() first")
    writeSnapshot(baseDir, current + 1,
      ZOrder.cluster(read(spark, baseDir), xCol, yCol, numFiles))
  }

  /** Optimistic multi-writer commit arbitration (VERDICT r13 item 3).
    * Single-writer commits race: two writers both reading version n
    * would both try to publish n+1 and the second manifest rename
    * silently drops the first writer's rows — the lost-update anomaly.
    * This variant serializes committers through [[TableLog.arbitrate]]'s
    * claim: each attempt reads the current version n, computes the new
    * state from it (`compute` receives the fresh snapshot — it IS the
    * rebase function on retry) and writes it to a private staging dir;
    * the writer that wins the claim on version n+1 renames staging →
    * v{n+1} and publishes. A loser discards its staging, waits for the
    * winner's publish, and recomputes against the new head for n+2.
    *
    * No lost update: every committed version derives from the state of
    * the version directly below it, so the history is linear by
    * construction (ConcurrentCommitSpec drives two deliberately
    * interleaved committers through one collision and proves both
    * writers' rows land). Orphaned claims and the atomicity caveats are
    * [[TableLog.arbitrate]]'s.
    *
    * Returns (committed version, attempts used). */
  def commitNextArbitrated(
      spark: SparkSession,
      baseDir: String,
      compute: DataFrame => DataFrame,
      maxAttempts: Int = 5,
      publishWaitMs: Long = 10000L): (Int, Int) = {
    val who = "VersionedTable.commitNextArbitrated"
    require(latestVersion(baseDir) > 0, s"$who: $baseDir has no v1 — create() first")
    var staging = Option.empty[Path]
    try TableLog.arbitrate(baseDir, who, maxAttempts, publishWaitMs) { next =>
      // a lost round's staging is stale: compute() reruns on the new head
      staging.foreach(TableLog.deleteRecursively)
      val snap = readAsOf(spark, baseDir, next - 1)
      val newState = compute(snap)
      val cur = snap.columns.toSeq
      require(newState.columns.toSeq.sorted == cur.sorted,
        s"$who: schema mismatch — table has " +
          s"${cur.mkString(",")}, frame has ${newState.columns.mkString(",")}")
      val dir = Paths.get(baseDir,
        s".stage_${java.util.UUID.randomUUID().toString.take(12)}")
      staging = Some(dir)
      newState.select(cur.map(col): _*)
        .write.mode("errorifexists").parquet(dir.toString)
      () => {
        Files.move(dir, Paths.get(snapshotDir(baseDir, next)),
          StandardCopyOption.ATOMIC_MOVE)
        TableLog.publishVersion(baseDir, next)
      }
    } finally {
      // a landed staging dir was renamed away: deleting it is a no-op
      staging.foreach(TableLog.deleteRecursively)
    }
  }

  /** DELETE FROM t WHERE cond — commits the retained rows as the next
    * version (copy-on-write deletes, the parquet-table strategy;
    * [[deleteWhereDV]] is the merge-on-read variant that keeps files
    * and masks rows). */
  def deleteWhere(spark: SparkSession, baseDir: String, cond: Column): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"VersionedTable.deleteWhere: $baseDir has no v1 — create() first")
    writeSnapshot(baseDir, current + 1, read(spark, baseDir).where(!cond))
  }

  // ---- deletion vectors: merge-on-read DELETE (VERDICT r13 item 4) ----

  private val DvBaseName = "_dv_base"
  private def dvBasePath(baseDir: String, v: Int) =
    Paths.get(snapshotDir(baseDir, v), DvBaseName)
  private def dvMaskDir(baseDir: String, v: Int) =
    s"${snapshotDir(baseDir, v)}/_dv"
  private def isDvVersion(baseDir: String, v: Int): Boolean =
    Files.exists(dvBasePath(baseDir, v))
  private def dvDataDirs(baseDir: String, v: Int): Seq[String] =
    new String(Files.readAllBytes(dvBasePath(baseDir, v)), StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq

  /** (data dirs, accumulated mask + its on-disk bytes if the version
    * is mask-based). A DV version's `_dv_base` lists its PLAIN
    * ancestor dir first, then any patch-row (`_dv_extra`) dirs
    * accumulated by merge-on-read UPDATE commits — all absolute, so
    * chained DV commits resolve in one read, never recursively. The
    * mask's parquet bytes come from a directory listing (no data
    * read) and feed [[withRowIdentity]]'s broadcast-or-shuffle gate. */
  private def resolveDv(
      spark: SparkSession,
      baseDir: String,
      v: Int): (Seq[String], Option[(DataFrame, Long)]) =
    if (isDvVersion(baseDir, v)) {
      val dataDirs = dvDataDirs(baseDir, v)
      val maskDir = dvMaskDir(baseDir, v)
      (dataDirs, Some((spark.read.parquet(maskDir), TableLog.census(maskDir).bytes)))
    } else (Seq(snapshotDir(baseDir, v)), None)

  /** Data files (base snapshot ∪ patch dirs) with their (file,
    * position) identity attached and the mask anti-joined away. The
    * mask is rows-deleted/superseded — tiny relative to the table at
    * realistic delete rates — so Spark broadcasts it and the anti-join
    * costs a map-side probe, ZERO shuffle of the data: the
    * merge-on-read contract. `_metadata.row_index` is the parquet
    * reader's per-file row position — stable because DV commits never
    * rewrite ANY data file (base or patch; the q65 file-census REQUIRE
    * pins exactly that), which also lets later masks target patch rows
    * the same way. */
  private def readMasked(
      spark: SparkSession,
      dataDirs: Seq[String],
      mask: DataFrame,
      maskBytes: Long): DataFrame =
    liveMasked(spark, dataDirs, mask, maskBytes)
      .drop("__graft_dv_file", "__graft_dv_pos")

  /** A mask sidecar is one of two formats, distinguished by schema:
    * (file_path, row_index) rows — one per deleted row — or
    * (file_path, bucket, bmp) BITMAPS: 4 KB bucket bitmaps built by
    * Spark's `bitmap_construct_agg`, one row per 32768 positions
    * touched (the §19.1-thread-4 density upgrade — a 30% delete of a
    * billion-row table is ~30 K bitmap rows, not 300 M row rows). */
  private def maskIsBitmap(mask: DataFrame): Boolean =
    mask.columns.contains("bmp")

  /** Dispatch the masked read on the sidecar's format. */
  private def liveMasked(
      spark: SparkSession,
      dataDirs: Seq[String],
      mask: DataFrame,
      maskBytes: Long): DataFrame =
    if (maskIsBitmap(mask))
      withRowIdentityBitmap(spark, dataDirs, mask, maskBytes)
    else withRowIdentity(spark, dataDirs, mask, maskBytes)

  /** `spark.sql.autoBroadcastJoinThreshold`, parsed the way Spark's
    * own conf layer does: a leading '-' survives byte-suffix parsing
    * ("-1" — the standard way to DISABLE auto-broadcast — must reach
    * the gate as a negative, not as a NumberFormatException; ADVICE
    * r15). Non-positive means never broadcast. */
  private def broadcastThreshold(spark: SparkSession): Long = {
    val raw =
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    if (raw.startsWith("-"))
      -org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw.substring(1))
    else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
  }

  /** The data files' rows with their (file, position) identity
    * attached — the base side of every masked read and DV commit. */
  private def identified(spark: SparkSession, dataDirs: Seq[String]): DataFrame =
    spark.read.parquet(dataDirs: _*)
      .withColumn("__graft_dv_file", col("_metadata.file_path"))
      .withColumn("__graft_dv_pos", col("_metadata.row_index"))

  /** Broadcast-or-shuffle gate (VERDICT r14 item 1): the mask is
    * broadcast only while its on-disk parquet bytes fit under
    * `spark.sql.autoBroadcastJoinThreshold`; past that — a delete
    * matching a large fraction of a huge table — the join degrades to
    * a SHUFFLED join instead of accumulating a driver-OOM-sized
    * broadcast (DvMaskFallbackSpec proves the reads are hash-identical
    * across both paths and that the big-mask plan carries no broadcast
    * exchange). Parquet bytes UNDERSTATE the in-memory relation
    * (dictionary/RLE compression), so the gate is conservative by the
    * same margin Spark's own file-stats auto-broadcast decision is. */
  private def gated(spark: SparkSession, mask: DataFrame, maskBytes: Long): DataFrame = {
    val threshold = broadcastThreshold(spark)
    if (threshold > 0 && maskBytes <= threshold)
      org.apache.spark.sql.functions.broadcast(mask)
    else mask
  }

  /** The live rows of (dataDirs ∖ row mask) KEEPING the identity
    * columns — a left-anti join on (file, position). */
  private def withRowIdentity(
      spark: SparkSession,
      dataDirs: Seq[String],
      mask: DataFrame,
      maskBytes: Long): DataFrame = {
    val base = identified(spark, dataDirs)
    val m = mask.select(col("file_path").as("__graft_m_file"),
      col("row_index").as("__graft_m_pos"))
    base.join(gated(spark, m, maskBytes),
        col("__graft_dv_file") === col("__graft_m_file") &&
          col("__graft_dv_pos") === col("__graft_m_pos"),
        "left_anti")
  }

  /** [[withRowIdentity]] for a BITMAP-format mask: each base row maps
    * its position to Spark's (bucket, bit) coordinates, left-joins the
    * per-(file, bucket) bitmap (same broadcast-or-shuffle gate), and
    * survives unless its bit is set —
    * [[org.apache.spark.sql.graft.BitmapKernels.BitmapContains]], a
    * codegen kernel, reads the bit straight off the 4 KB binary. Join
    * fan-in is (file, bucket) — 32768 rows share one mask row — so the
    * broadcast stays tiny at delete rates that would balloon the row
    * mask. */
  private def withRowIdentityBitmap(
      spark: SparkSession,
      dataDirs: Seq[String],
      mask: DataFrame,
      maskBytes: Long): DataFrame = {
    val base = identified(spark, dataDirs)
      .withColumn("__graft_dv_bkt",
        org.apache.spark.sql.functions.expr(
          "bitmap_bucket_number(__graft_dv_pos + 1)"))
      .withColumn("__graft_dv_bit",
        org.apache.spark.sql.functions.expr(
          "CAST(bitmap_bit_position(__graft_dv_pos + 1) AS BIGINT)"))
    val m = mask.select(col("file_path").as("__graft_m_file"),
      col("bucket").as("__graft_m_bkt"), col("bmp").as("__graft_m_bmp"))
    base.join(gated(spark, m, maskBytes),
        col("__graft_dv_file") === col("__graft_m_file") &&
          col("__graft_dv_bkt") === col("__graft_m_bkt"),
        "left_outer")
      .where(col("__graft_m_bmp").isNull ||
        !org.apache.spark.sql.graft.BitmapKernels.bitmapContainsBit(
          col("__graft_m_bmp"), col("__graft_dv_bit")))
      .drop("__graft_m_file", "__graft_m_bkt", "__graft_m_bmp",
        "__graft_dv_bkt", "__graft_dv_bit")
  }

  /** DELETE FROM t WHERE cond, merge-on-read: instead of rewriting the
    * retained rows ([[deleteWhere]]'s copy-on-write), commit a version
    * that keeps the base data files UNTOUCHED and carries a row-mask
    * sidecar — (file_path, row_index) per deleted row, accumulated
    * across chained DV deletes. Readers apply the mask as a broadcast
    * anti-join; any rewriting commit ([[compact]], [[deleteWhere]],
    * [[writeVersion]]) naturally materializes the mask away because it
    * reads through [[readAsOf]]. At 100 TB this is THE delete shape:
    * bytes written ∝ rows deleted (the q65 census proves ≪ the
    * copy-on-write twin), and the data files' immutability is what
    * keeps row_index a stable row identity. Time travel semantics are
    * identical to every other commit.
    *
    * Version-dir layout: `v{n}/_dv/` (mask parquet) + `v{n}/_dv_base`
    * (one line: the plain ancestor's data dir). Underscore-prefixed,
    * so a raw directory scan ignores both — only the manifest-driven
    * reader interprets them. VACUUM note: [[expire]] retains a plain
    * snapshot dir as long as any SURVIVING version's `_dv_base` points
    * at it, even when the manifest no longer lists that version —
    * files outliving their version is the normal lakehouse state of
    * affairs (Delta/Iceberg vacuum walks reachability the same way). */
  def deleteWhereDV(spark: SparkSession, baseDir: String, cond: Column): Int =
    commitDv(spark, baseDir, cond, None, bitmap = false, "VersionedTable.deleteWhereDV")

  /** UPDATE t SET col = expr, ... WHERE cond, merge-on-read: the
    * matched rows are MASKED (superseded, like a DV delete) and their
    * rewritten images land as PATCH ROWS in the new version's
    * `_dv_extra/` dir — base files still untouched, bytes written ∝
    * rows updated. Readers see (base ∪ patches) ∖ mask; later DV
    * commits can mask patch rows too (patch files are immutable, so
    * their (file, row_index) identity is as stable as the base's).
    * This is [[updateWhere]]'s merge-on-read twin, and together with
    * [[deleteWhereDV]] completes merge-on-read DML; any rewriting
    * commit still materializes the whole overlay away. */
  def updateWhereDV(
      spark: SparkSession,
      baseDir: String,
      cond: Column,
      assignments: Seq[(String, Column)]): Int =
    commitDv(spark, baseDir, cond, Some(assignments), bitmap = false,
      "VersionedTable.updateWhereDV")

  /** DELETE … merge-on-read with a BITMAP mask (§19.1 thread 4 /
    * VERDICT r14 item 1's density endgame): same contract as
    * [[deleteWhereDV]] — base files untouched, readers mask — but the
    * sidecar stores one (file, bucket, 4 KB bitmap) row per 32768
    * positions touched (Spark's own `bitmap_construct_agg` builds it;
    * [[org.apache.spark.sql.graft.BitmapKernels]] reads it back), so
    * mask SIZE tracks files × buckets, not rows deleted — a mask for
    * 30% of a huge table stays broadcast-small where the row mask
    * balloons past the q70 census. A chain may upgrade row → bitmap
    * (the old row mask folds in); bitmap → row is refused. */
  def deleteWhereDVBitmap(
      spark: SparkSession, baseDir: String, cond: Column): Int =
    commitDv(spark, baseDir, cond, None, bitmap = true,
      "VersionedTable.deleteWhereDVBitmap")

  /** [[updateWhereDV]] with the bitmap mask format — masked originals
    * tracked per (file, bucket) bitmap, rewritten images as patch
    * rows. */
  def updateWhereDVBitmap(
      spark: SparkSession,
      baseDir: String,
      cond: Column,
      assignments: Seq[(String, Column)]): Int =
    commitDv(spark, baseDir, cond, Some(assignments), bitmap = true,
      "VersionedTable.updateWhereDVBitmap")

  /** (file_path, row_index) rows → (file_path, bucket, bmp) bucket
    * bitmaps, Spark's bitmap coordinate convention (values are
    * 1-based: bucket/bit of row_index + 1). */
  private def rowsToBitmap(rows: DataFrame): DataFrame =
    rows.groupBy(col("file_path"),
        org.apache.spark.sql.functions.expr(
          "bitmap_bucket_number(row_index + 1)").as("bucket"))
      .agg(org.apache.spark.sql.functions.expr(
        "bitmap_construct_agg(bitmap_bit_position(row_index + 1))").as("bmp"))

  /** The one DV commit: mask the live rows matching `cond`; with
    * `assignments`, additionally write the masked rows' rewritten
    * images as this version's patch dir and append it to the data-dir
    * list. The two mask encodings differ only in how the new mask is
    * built: a row mask unions the prior rows with the new ones; a
    * bitmap mask converts the new deletions to bucket bitmaps and ORs
    * the prior mask in (either format — a row mask folds in at the
    * upgrade commit) via `bitmap_or_agg`, one row per (file, bucket).
    * Sidecars first, pointer second, manifest last — a crash at any
    * point leaves an unreferenced dir, never a torn version. */
  private def commitDv(
      spark: SparkSession,
      baseDir: String,
      cond: Column,
      assignments: Option[Seq[(String, Column)]],
      bitmap: Boolean,
      who: String): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"$who: $baseDir has no v1 — create() first")
    val cols = assignments.map { as =>
      val cols = read(spark, baseDir).columns.toSeq
      as.foreach { case (c, _) =>
        require(cols.contains(c), s"$who: $c is not a column of $baseDir")
      }
      cols
    }
    val next = current + 1
    val (dataDirs, oldMask) = resolveDv(spark, baseDir, current)
    // formats chain FORWARD only: once a chain upgraded to bitmap
    // masks, row-mask accumulation would have to explode bitmaps back
    // to rows — refuse instead of silently downgrading density
    if (!bitmap) oldMask.foreach { case (m, _) =>
      require(!maskIsBitmap(m),
        s"VersionedTable DV commit: $baseDir v$current carries a BITMAP " +
          "mask — continue with deleteWhereDVBitmap/updateWhereDVBitmap")
    }
    val live = oldMask match {
      case Some((m, mb)) => liveMasked(spark, dataDirs, m, mb)
      case None => identified(spark, dataDirs)
    }
    val deleted = live.where(cond)
      .select(col("__graft_dv_file").as("file_path"),
        col("__graft_dv_pos").as("row_index"))
    val fullMask =
      if (bitmap) {
        val newBmp = rowsToBitmap(deleted)
        val oldBmp = oldMask.map { case (m, _) =>
          if (maskIsBitmap(m)) m.select("file_path", "bucket", "bmp")
          else rowsToBitmap(m)
        }
        oldBmp.map(_.unionByName(newBmp)).getOrElse(newBmp)
          .groupBy("file_path", "bucket")
          .agg(org.apache.spark.sql.functions.expr("bitmap_or_agg(bmp)").as("bmp"))
      } else oldMask.map(_._1.unionByName(deleted)).getOrElse(deleted)
    // sorted within its one partition, so the same chain writes the
    // same mask bytes (and history's n_bytes) on every run
    fullMask.coalesce(1)
      .sortWithinPartitions("file_path", if (bitmap) "bucket" else "row_index")
      .write.mode("errorifexists").parquet(dvMaskDir(baseDir, next))
    val extraDir = assignments.zip(cols).map { case (as, cs) =>
      val dir = s"${snapshotDir(baseDir, next)}/_dv_extra"
      as.foldLeft(live.drop("__graft_dv_file", "__graft_dv_pos").where(cond)) {
        case (df, (c, e)) => df.withColumn(c, e)
      }.select(cs.map(col): _*)
        .coalesce(1).write.mode("errorifexists").parquet(dir)
      dir
    }
    // stored normalized so [[expire]]'s reachability compare never
    // depends on how the caller spelled baseDir (ADVICE r14)
    Files.write(dvBasePath(baseDir, next),
      (dataDirs ++ extraDir.toSeq)
        .map(p => Paths.get(p).normalize().toString)
        .mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    TableLog.publishVersion(baseDir, next)
    next
  }

  /** UPDATE t SET col = expr, ... WHERE cond — commits the rewritten
    * rows as the next version. Assignments apply only where `cond`
    * holds; all other rows pass through bit-unchanged. */
  def updateWhere(
      spark: SparkSession,
      baseDir: String,
      cond: Column,
      assignments: Seq[(String, Column)]): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"VersionedTable.updateWhere: $baseDir has no v1 — create() first")
    val cur = read(spark, baseDir)
    val updated = assignments.foldLeft(cur) { case (df, (c, e)) =>
      require(cur.columns.contains(c),
        s"VersionedTable.updateWhere: $c is not a column of $baseDir")
      df.withColumn(c, when(cond, e).otherwise(col(c)))
    }
    writeSnapshot(baseDir, current + 1, updated)
  }

  /** Change data feed between two committed versions: one row per
    * changed key, tagged `_change_type` ∈ {insert, delete,
    * update_preimage, update_postimage} (the Delta CDF vocabulary).
    * Diff semantics are BY KEY: a key present in both versions emits
    * the pre/post pair only when any non-key column differs. One
    * full-outer shuffle on the keys — the same at-scale plan as the
    * MERGE that produced the versions; no driver-side diffing. */
  def changes(
      spark: SparkSession,
      baseDir: String,
      fromVersion: Int,
      toVersion: Int,
      keys: Seq[String]): DataFrame = {
    require(fromVersion < toVersion,
      s"VersionedTable.changes: fromVersion $fromVersion must precede toVersion $toVersion")
    val pre  = readAsOf(spark, baseDir, fromVersion)
    val post = readAsOf(spark, baseDir, toVersion)
    val dataCols = pre.columns.toSeq
    require(keys.forall(dataCols.contains),
      s"VersionedTable.changes: keys ${keys.mkString(",")} must be table columns")
    val nonKey = dataCols.filterNot(keys.contains)
    // Presence derives from marker columns tagged BEFORE the join, not
    // from key-null tests: the <=> join condition matches null keys as
    // values, so a null-keyed row is a legitimate table row — under a
    // key-null presence test it fell into none of the four change
    // classes and silently vanished from the feed (ADVICE r13). After
    // the full outer join an unmatched side nulls ALL its columns
    // including the marker, so marker-not-null IS side-presence,
    // independent of the key's own nullability.
    val t = pre.select(dataCols.map(c => col(c).as(s"t_$c")): _*)
      .withColumn("__graft_in_pre", lit(true))
    val s = post.select(dataCols.map(c => col(c).as(s"s_$c")): _*)
      .withColumn("__graft_in_post", lit(true))
    val joinCond = keys.map(k => col(s"t_$k") <=> col(s"s_$k")).reduce(_ && _)
    val joined = t.join(s, joinCond, "full_outer")
    val inPre  = col("__graft_in_pre").isNotNull
    val inPost = col("__graft_in_post").isNotNull
    val differs =
      if (nonKey.isEmpty) lit(false)
      else nonKey.map(c => !(col(s"t_$c") <=> col(s"s_$c"))).reduce(_ || _)
    def shaped(prefix: String, tag: String) =
      dataCols.map(c => col(s"${prefix}_$c").as(c)) :+ lit(tag).as("_change_type")
    val inserts = joined.where(!inPre && inPost).select(shaped("s", "insert"): _*)
    val deletes = joined.where(inPre && !inPost).select(shaped("t", "delete"): _*)
    val updPre  = joined.where(inPre && inPost && differs)
      .select(shaped("t", "update_preimage"): _*)
    val updPost = joined.where(inPre && inPost && differs)
      .select(shaped("s", "update_postimage"): _*)
    inserts.unionByName(deletes).unionByName(updPre).unionByName(updPost)
  }

  /** ALTER TABLE ADD COLUMN — commits the widened schema as the next
    * version, backfilling every existing row with `default` (a literal
    * or an expression over existing columns). Earlier snapshots keep
    * their narrower schema: time travel returns what the table LOOKED
    * LIKE, exactly (the Delta/Iceberg schema-evolution contract;
    * full-snapshot form makes it a rewrite here, while a metadata-only
    * add at 100 TB leaves old files narrow and lets the reader
    * backfill — the version/travel surface is unchanged by that
    * storage choice). */
  def addColumn(
      spark: SparkSession,
      baseDir: String,
      name: String,
      default: Column): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"VersionedTable.addColumn: $baseDir has no v1 — create() first")
    val cur = read(spark, baseDir)
    require(!cur.columns.contains(name),
      s"VersionedTable.addColumn: $name already exists in $baseDir")
    writeSnapshot(baseDir, current + 1, cur.withColumn(name, default))
  }

  /** ALTER TABLE DROP COLUMN — full-snapshot form: commits the
    * narrowed rewrite as the next version (this storage mode's ALTERs
    * are rewrites by design, like [[addColumn]];
    * [[DeltaChain.dropColumn]] is the metadata-only sibling at 100 TB).
    * Earlier snapshots keep the column — time travel below the drop
    * returns the old shape. */
  def dropColumn(spark: SparkSession, baseDir: String, name: String): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"VersionedTable.dropColumn: $baseDir has no v1 — create() first")
    val cur = read(spark, baseDir)
    require(cur.columns.contains(name),
      s"VersionedTable.dropColumn: $name is not a column of $baseDir")
    require(cur.columns.length > 1,
      s"VersionedTable.dropColumn: $name is the only column of $baseDir")
    writeSnapshot(baseDir, current + 1, cur.drop(name))
  }

  /** ALTER TABLE RENAME COLUMN — full-snapshot form: commits the
    * renamed rewrite as the next version; values carry over, earlier
    * snapshots keep the old name ([[DeltaChain.renameColumn]] is the
    * metadata-only sibling). */
  def renameColumn(
      spark: SparkSession, baseDir: String, from: String, to: String): Int = {
    val current = latestVersion(baseDir)
    require(current > 0, s"VersionedTable.renameColumn: $baseDir has no v1 — create() first")
    val cur = read(spark, baseDir)
    require(cur.columns.contains(from),
      s"VersionedTable.renameColumn: $from is not a column of $baseDir")
    require(!cur.columns.contains(to),
      s"VersionedTable.renameColumn: $to already exists in $baseDir")
    writeSnapshot(baseDir, current + 1, cur.withColumnRenamed(from, to))
  }

  /** VACUUM: drop every committed version strictly below `keepFrom`.
    * Publish-then-delete ordering — the manifest stops referencing the
    * expired versions ATOMICALLY before any data dir is removed, so a
    * concurrent reader either resolved the old manifest already (and
    * races only against physical deletion, the same window every
    * vacuum implementation has) or resolves the new one and never
    * sees an expired version. Time travel below `keepFrom` then fails
    * loudly in [[readAsOf]]'s committed-versions check.
    *
    * Staging janitor (VERDICT r15 item 5): also sweeps `.stage_*` dirs
    * older than `staleStagingMs` through [[TableLog.sweepStale]] — a
    * writer killed `-9` mid-arbitration leaks its staged snapshot
    * forever otherwise; the age gate keeps a live writer's staging
    * safe. */
  def expire(
      baseDir: String,
      keepFrom: Int,
      staleStagingMs: Long = TableLog.StaleStagingMs): Seq[Int] = {
    val vs = versions(baseDir)
    require(vs.contains(keepFrom),
      s"VersionedTable.expire: keepFrom $keepFrom not a committed version of $baseDir")
    val (drop, keep) = vs.partition(_ < keepFrom)
    TableLog.publish(baseDir, keep)
    // Reachability, not manifest membership, governs PHYSICAL deletion:
    // a surviving deletion-vector version's base pointer may target a
    // dropped version's data dir — that dir must outlive its manifest
    // entry (the Delta/Iceberg vacuum rule: walk what live versions
    // reference before touching bytes). Time travel to the dropped
    // version still fails loudly — the manifest is gone either way.
    // every path a surviving DV version reads: its plain ancestor dir
    // plus any patch (`_dv_extra`) dirs — the latter live INSIDE older
    // version dirs, so retention must test "equal or underneath", not
    // just dir equality
    // both sides NORMALIZED before comparing: `_dv_base` stores the
    // baseDir string verbatim (a trailing slash or '.' segment rides
    // along) while the candidate dir below is Paths.get(...)-built —
    // raw string equality would miss the reference and vacuum a dir a
    // surviving DV version still reads (ADVICE r14)
    val referenced: Set[String] = keep.filter(isDvVersion(baseDir, _))
      .flatMap(dvDataDirs(baseDir, _))
      .map(r => Paths.get(r).normalize().toString).toSet
    def isReferenced(dir: String): Boolean = {
      val d = Paths.get(dir).normalize().toString
      referenced.exists(r => r == d || r.startsWith(d + "/"))
    }
    // Sweep set: the versions dropped NOW plus any on-disk v-dir below
    // keepFrom that an EARLIER expire retained by reference (its
    // manifest entry is long gone, so `drop` alone would never revisit
    // it — it must be reclaimed the moment the referencing DV version
    // dies). Restricting the orphan scan to numbers < keepFrom keeps
    // the in-flight-commit guarantee: an unpublished writer dir is
    // always latestVersion+1 ≥ keepFrom and is never touched.
    val onDisk = TableLog.numberedDirs(baseDir, "v")
      .filter(v => v < keepFrom && !keep.contains(v))
    (drop ++ onDisk).distinct.foreach { v =>
      val dir = Paths.get(snapshotDir(baseDir, v))
      if (!isReferenced(dir.toString)) TableLog.deleteRecursively(dir)
    }
    TableLog.sweepStale(baseDir, ".stage_", staleStagingMs)
    keep
  }

  /** DESCRIBE HISTORY: one row per committed version — version number,
    * row count, data-file count, and total bytes. Row counts come from
    * parquet footers via Spark's metadata-only count (no data pages
    * read); file counts and bytes are direct directory listings. At
    * 100 TB this is a manifest walk, not a table scan. */
  def history(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    versions(baseDir).map { v =>
      // recursive walk: a DV version's payload (mask + base pointer)
      // lives one level down; for plain versions this matches the old
      // top-level listing (n_files counts parquet, n_bytes everything
      // the commit wrote — for a DV commit that's the sidecar only,
      // which is what makes history the bytes-written census)
      val c = TableLog.census(snapshotDir(baseDir, v))
      (v, readAsOf(spark, baseDir, v).count(), c.files, c.allBytes)
    }.toDF("version", "n_rows", "n_files", "n_bytes")
  }

  /** Time travel: read the exact committed snapshot `version` — a
    * plain dir scan for snapshot versions, base-files + broadcast mask
    * anti-join for deletion-vector versions. */
  def readAsOf(spark: SparkSession, baseDir: String, version: Int): DataFrame = {
    require(versions(baseDir).contains(version),
      s"VersionedTable.readAsOf: version $version not in committed " +
        s"versions ${versions(baseDir).mkString("[", ",", "]")} of $baseDir")
    resolveDv(spark, baseDir, version) match {
      case (dataDirs, Some((mask, maskBytes))) =>
        readMasked(spark, dataDirs, mask, maskBytes)
      case (dataDirs, None) => spark.read.parquet(dataDirs: _*)
    }
  }

  /** Latest snapshot (the plain-read a non-time-travel user does). */
  def read(spark: SparkSession, baseDir: String): DataFrame =
    readAsOf(spark, baseDir, latestVersion(baseDir))
}

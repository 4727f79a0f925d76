package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-commit storage for a versioned keyed table — the at-scale
  * sibling of [[VersionedTable]] (VERDICT r13 item 2). VersionedTable
  * commits a FULL snapshot per version: read-as-of is O(1) but every
  * commit rewrites the whole table — write amplification ∝ table size,
  * untenable at 100 TB. This layout commits per-version CHANGE files
  * plus a checkpoint snapshot every `checkpointEvery` commits, so
  * commit cost is ∝ the delta and read-as-of is one checkpoint scan
  * plus a bounded replay — exactly the Delta-log/Iceberg-manifest
  * storage trade, built from the ops this repo already proved: the
  * replay is merge-on-read, the checkpoint probed by an anti-join on
  * the deltas' keys and only the deltas folded by [[Upsert.applyCdc]]
  * (the lp26 fold — one pass by key, cost ∝ rows touched, regardless
  * of how many commits the chain holds).
  *
  * Layout:
  * {{{
  *   baseDir/
  *     _graft_manifest     committed versions, ascending; ATOMIC_MOVE-
  *                         published per commit ([[TableLog]]'s
  *                         publish-by-rename, shared with VersionedTable)
  *     _graft_delta_meta   keys + checkpoint cadence, written once at
  *                         create (layout facts a reader must know)
  *     c1/                 checkpoint parquet: the FULL state at v1
  *       _graft_schema     its recorded schema (see below)
  *     d2/ d3/ …           per-version change files: table columns +
  *                         `_op` ∈ {U, D} (upsert / delete-by-key)
  *       _graft_schema     its recorded schema
  *     c4/ …               periodic checkpoint (ALSO has d4 — the
  *                         change record stays, so the changelog is
  *                         complete at every version)
  *     .stage_d_<id>/      an in-flight commit's staged change files
  *       _graft_schema     and schema; renamed to d{v} whole
  * }}}
  *
  * Every chain directory is written by [[writeDir]], which lands the
  * schema sidecar with the parquet before the manifest can publish the
  * version, and read by [[readDir]] under that schema — so no read of a
  * delta, checkpoint or staging dir starts a footer-inference job. A
  * published dir never changes, so its recorded schema holds for good;
  * only a dir written before sidecars existed is read by inference.
  *
  * Commit protocol: write `d{n+1}` (and `c{n+1}` when the cadence is
  * due) COMPLETELY, then publish the manifest, then append any meta
  * line — every writer lands through [[landCommit]], so a crash
  * mid-commit leaves orphan dirs no manifest references, never a torn
  * read (identical guarantee to VersionedTable; the manifest rename is
  * the single visibility point for BOTH dirs of a checkpoint commit).
  *
  * Keyed contract: this storage mode REQUIRES a primary key (declared
  * at create) — a delta row replaces or deletes BY KEY, which is what
  * makes replay a window pass instead of positional bookkeeping. Key
  * tuples must be unique within each committed delta (validated,
  * ANSI-MERGE style) and non-null (asserted at commit — fail loudly,
  * the changes() lesson from ADVICE r13), and unique within every
  * checkpoint: the replay probes checkpoint rows by key, so each
  * untouched checkpoint row is returned as stored.
  *
  * Scale shape at 100 TB: commits write O(|delta|) bytes (the q64 key
  * requires this with a byte census against a full-snapshot twin);
  * `readAsOf` scans one checkpoint + ≤`checkpointEvery` deltas and
  * shuffles only the delta rows: the checkpoint is scanned once and
  * probed against the deltas' keys (broadcast while the deltas' files
  * fit Spark's `autoBroadcastJoinThreshold`; past it a shuffle join,
  * the cost a whole-table fold pays), never shuffled. Each run of
  * consecutive deltas that share a recorded schema is one scan, so the
  * driver pays one scan node per run, not per version. `changelog`
  * between versions is a pure union of stored delta files — zero
  * joins, the CDC-feed read path that VersionedTable.changes needs a
  * full-outer diff for.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract area
  * SURVEY.md §2.11 + the 100 TB efficiency brief, VERDICT r13 item 2.
  */
object DeltaChain {

  private val MetaName = "_graft_delta_meta"
  private val OpCol = "_op"

  /** A metadata-only schema change, applied at READ to files stored
    * before it (the Delta/Iceberg column-mapping contract — zero data
    * rewritten at 100 TB). Events are totally ordered by version (each
    * is its own commit), and a reader projects any stored file to any
    * later version's shape by folding the events between the two. */
  sealed trait SchemaEvent { def version: Int }

  /** ADD COLUMN: the column exists from `version` on; rows stored
    * before it backfill AT READ with `defaultSql` evaluated over the
    * row's own columns. */
  final case class AddedColumn(version: Int, name: String, defaultSql: String)
    extends SchemaEvent

  /** DROP COLUMN: the column is gone from `version` on. Old versions
    * keep the old shape (time travel below the drop still returns the
    * column); a later re-add of the SAME name is a fresh incarnation —
    * pre-drop values never leak into it. */
  final case class DroppedColumn(version: Int, name: String)
    extends SchemaEvent

  /** RENAME COLUMN: `from` becomes `to` at `version` — values carry
    * over; only the name moves. Old versions keep the old name. */
  final case class RenamedColumn(version: Int, from: String, to: String)
    extends SchemaEvent

  /** A CHECK constraint active from `version` on: every LATER
    * commit's upsert rows must satisfy `sql` (ANSI CHECK semantics —
    * a NULL predicate passes, only FALSE violates). Enforcement is at
    * the write boundary over the DELTA rows (the Delta Lake ADD
    * CONSTRAINT contract: existing data is not re-validated; the
    * add is metadata-only). */
  final case class Constraint(version: Int, name: String, sql: String)

  final case class Meta(
      keys: Seq[String],
      checkpointEvery: Int,
      schemaEvents: Seq[SchemaEvent] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      constraints: Seq[Constraint] = Seq.empty,
      constraintDrops: Seq[(Int, String)] = Seq.empty,
      kinds: Map[Int, String] = Map.empty) {
    /** The additions view (streaming backfill + history need it). */
    def addedCols: Seq[AddedColumn] =
      schemaEvents.collect { case a: AddedColumn => a }
  }

  private def metaPath(baseDir: String) = Paths.get(baseDir, MetaName)

  /** Table metadata: line 1 is `keys=<k1,k2>;every=<n>` (written once
    * at create); each later line is one event, tab-separated (column
    * names cannot contain tabs and a default expression with a
    * literal tab is rejected at [[addColumn]]):
    * `addcol<TAB>version<TAB>name<TAB>defaultSql`,
    * `dropcol<TAB>version<TAB>name`,
    * `renamecol<TAB>version<TAB>from<TAB>to`,
    * `constraint<TAB>version<TAB>name<TAB>sql`,
    * `dropconstraint<TAB>version<TAB>name`, or
    * `kind<TAB>version<TAB>kind` (the operation KIND recorded at
    * commit time for commits whose artifacts alone can't name it —
    * optimize / restore; ADVICE r15). No JSON parser dependency,
    * atomically replaced per change. */
  def meta(baseDir: String): Meta = {
    val lines = new String(Files.readAllBytes(metaPath(baseDir)),
      StandardCharsets.UTF_8).split("\n").map(_.trim).filter(_.nonEmpty)
    val fields = lines.head.split(";").map { f =>
      val Array(k, v) = f.split("=", 2); k -> v
    }.toMap
    // ignore event lines bound to versions ABOVE the committed head —
    // with the manifest-first ordering such a line cannot normally
    // exist, but a hand-edited or partially-restored meta file must
    // not conjure a column no commit carries (ADVICE r14).
    // `<= latest`, not manifest membership: truncate drops old
    // versions from the manifest while their columns live on.
    val latest = latestVersion(baseDir)
    val events: Seq[SchemaEvent] = lines.tail.flatMap { l =>
      if (l.startsWith("addcol\t")) {
        val Array(_, v, n, d) = l.split("\t", 4)
        Some(AddedColumn(v.toInt, n, d))
      } else if (l.startsWith("dropcol\t")) {
        val Array(_, v, n) = l.split("\t", 3)
        Some(DroppedColumn(v.toInt, n))
      } else if (l.startsWith("renamecol\t")) {
        val Array(_, v, f, t) = l.split("\t", 4)
        Some(RenamedColumn(v.toInt, f, t))
      } else None
    }.toSeq.filter(_.version <= latest).sortBy(_.version)
    val parts = fields.get("parts").toSeq
      .flatMap(_.split(",").toSeq).filter(_.nonEmpty)
    val cons = lines.tail.filter(_.startsWith("constraint\t")).map { l =>
      val Array(_, v, n, sql) = l.split("\t", 4)
      Constraint(v.toInt, n, sql)
    }.toSeq.filter(_.version <= latest).sortBy(_.version)
    val droppedC = lines.tail.filter(_.startsWith("dropconstraint\t")).map { l =>
      val Array(_, v, n) = l.split("\t", 3)
      (v.toInt, n)
    }.toSeq.filter(_._1 <= latest)
    val kinds = lines.tail.filter(_.startsWith("kind\t")).map { l =>
      val Array(_, v, k) = l.split("\t", 3)
      v.toInt -> k
    }.toSeq.filter(_._1 <= latest).toMap
    Meta(fields("keys").split(",").toSeq, fields("every").toInt, events, parts,
      cons, droppedC, kinds)
  }

  /** The constraints the NEXT commit must enforce: per name, the
    * latest add/drop event wins (a dropped name may be re-added). */
  private def activeConstraints(m: Meta): Seq[Constraint] =
    m.constraints.filter { c =>
      val laterAdd = m.constraints.exists(o => o.name == c.name && o.version > c.version)
      val laterDrop = m.constraintDrops.exists { case (v, n) => n == c.name && v > c.version }
      !laterAdd && !laterDrop
    }

  /** Project a frame STORED at version `storedV` to the logical shape
    * at `upTo`: fold every schema event in (storedV, upTo] in version
    * order — an add backfills `defaultSql` over the frame's own
    * (already-projected) columns, a drop removes the column (its
    * values are destroyed, so a later re-add of the same name
    * backfills fresh — pre-drop values never leak), a rename moves
    * the values under the new name. Because the fold applies events
    * in order, each add's default evaluates against the column NAMES
    * as of its own version — a default authored before a later rename
    * still resolves. */
  private def projectTo(
      df: DataFrame, m: Meta, storedV: Int, upTo: Int): DataFrame =
    m.schemaEvents.filter(e => e.version > storedV && e.version <= upTo)
      .foldLeft(df) { (d, e) =>
        e match {
          case AddedColumn(_, n, dflt) =>
            if (d.columns.contains(n)) d else d.withColumn(n, expr(dflt))
          case DroppedColumn(_, n)    => d.drop(n)
          case RenamedColumn(_, f, t) => d.withColumnRenamed(f, t)
        }
      }

  /** The table's column list as of `version`: the latest checkpoint's
    * stored columns with every later metadata event folded in. */
  private def tableColsAt(
      spark: SparkSession,
      baseDir: String,
      m: Meta,
      version: Int): Seq[String] = {
    val cp = diskCheckpoints(baseDir).filter(_ <= version).max
    val base = storedSchema(spark, checkpointDir(baseDir, cp)).fieldNames.toSeq
    m.schemaEvents.filter(e => e.version > cp && e.version <= version)
      .foldLeft(base) { (cols, e) =>
        e match {
          case AddedColumn(_, n, _) =>
            if (cols.contains(n)) cols else cols :+ n
          case DroppedColumn(_, n)    => cols.filterNot(_ == n)
          case RenamedColumn(_, f, t) => cols.map(c => if (c == f) t else c)
        }
      }
  }

  private val SchemaSidecar = "_graft_schema"

  /** A chain directory's stored schema — from the sidecar [[writeDir]]
    * lands with it (authoritative: survives Hive partition-column type
    * inference, readable even when the dir holds no rows; ADVICE r15),
    * falling back to the parquet footer (one inference job) for a dir
    * written before sidecars. New sidecars are JSON, which keeps field
    * metadata and UDTs the way the footer does; older checkpoint
    * sidecars are DDL. */
  private def storedSchema(
      spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType =
    sidecar(dir) match {
      case None => spark.read.parquet(dir).schema
      case Some(s) if s.startsWith("{") =>
        org.apache.spark.sql.types.DataType.fromJson(s)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      case Some(s) => org.apache.spark.sql.types.StructType.fromDDL(s)
    }

  /** A chain directory's sidecar text; None for a dir written before
    * sidecars. */
  private def sidecar(dir: String): Option[String] = {
    val p = Paths.get(dir, SchemaSidecar)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    else None
  }

  /** Read a chain directory (checkpoint, change record or staging dir)
    * under its stored schema — partition-column TYPES come from the
    * sidecar, never from Hive dir-name inference (which would silently
    * retype a numeric-looking string partition value, e.g. '01' -> 1,
    * and corrupt replay; ADVICE r15), and no footer is read at plan
    * time. */
  private def readDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(storedSchema(spark, dir)).parquet(dir)

  def versions(baseDir: String): Seq[Int] = TableLog.versions(baseDir)
  def latestVersion(baseDir: String): Int = TableLog.latestVersion(baseDir)

  private def checkpointDir(baseDir: String, v: Int) = s"$baseDir/c$v"
  private def deltaDir(baseDir: String, v: Int) = s"$baseDir/d$v"
  private def hasCheckpoint(baseDir: String, v: Int): Boolean =
    Files.exists(Paths.get(checkpointDir(baseDir, v)))

  /** Create the table at version 1: one checkpoint, no delta. The
    * keys of `df` must be unique: every replay probes the checkpoint by
    * key and returns the rows no delta touches as stored, duplicates
    * included. Not validated here (it would cost a job per create);
    * every checkpoint a replay writes is unique by construction.
    *
    * `partitionBy` (the 100 TB layout knob): checkpoints — the BIG
    * scans every read pays — are written Hive-partitioned on these
    * columns, so a partition-filtered `readAsOf` prunes checkpoint
    * FILES at planning time (the q71 key asserts it from inputFiles).
    * Deltas stay UNpartitioned deliberately: they are small by the
    * storage form's own contract (∝ batch), an empty change record
    * (addColumn/optimize) must stay schema-readable (a partitioned
    * empty write leaves no footer to read), and the streaming change
    * feed reads delta files whose partition values would otherwise
    * live only in dir names. */
  def create(
      baseDir: String,
      df: DataFrame,
      keys: Seq[String],
      checkpointEvery: Int = 4,
      partitionBy: Seq[String] = Seq.empty): Int = {
    require(versions(baseDir).isEmpty,
      s"DeltaChain.create: $baseDir already has committed versions")
    require(keys.nonEmpty && keys.forall(df.columns.contains),
      s"DeltaChain.create: keys ${keys.mkString(",")} must be table columns")
    require(checkpointEvery >= 1, "DeltaChain.create: checkpointEvery >= 1")
    require(partitionBy.forall(df.columns.contains),
      s"DeltaChain.create: partition cols ${partitionBy.mkString(",")} " +
        "must be table columns")
    require(partitionBy.forall(c => !keys.contains(c)) || partitionBy.isEmpty,
      "DeltaChain.create: partitioning on a key column partitions every " +
        "upsert to a singleton dir — pick a coarser column")
    Files.createDirectories(Paths.get(baseDir))
    writeDir(df, checkpointDir(baseDir, 1), partitionBy)
    val partsLine =
      if (partitionBy.isEmpty) "" else s";parts=${partitionBy.mkString(",")}"
    Files.write(metaPath(baseDir),
      s"keys=${keys.mkString(",")};every=$checkpointEvery$partsLine"
        .getBytes(StandardCharsets.UTF_8))
    TableLog.publish(baseDir, Seq(1))
    1
  }

  /** Write a chain directory: `df` as parquet (Hive-partitioned on
    * `parts`, for checkpoints) plus its schema sidecar. Every writer —
    * checkpoints, staged deltas, empty change records — goes through
    * here, and always before the manifest publishes the version (a
    * staging dir carries its sidecar through the rename), so a reader
    * never resolves a directory without it. */
  private def writeDir(
      df: DataFrame, dir: String, parts: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode("errorifexists")
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(dir)
    // A partitioned write of an EMPTY state leaves no parquet footer at
    // all (no partition dirs land) — the anchor would be unreadable for
    // every later tableColsAt/readAsOf. Land one empty, UNpartitioned
    // file carrying the full schema as the readable sentinel; the dir
    // is immutable per version, so the mixed layout never accretes
    // (ADVICE r15).
    if (parts.nonEmpty && TableLog.census(dir).files == 0)
      df.limit(0).coalesce(1).write.mode("append").parquet(dir)
    Files.write(Paths.get(dir, SchemaSidecar),
      df.schema.json.getBytes(StandardCharsets.UTF_8))
  }

  /** Commit a change batch as the next version. `delta` carries every
    * table column plus, optionally, a boolean `deleteCol`: true rows
    * delete their key, all others upsert (replace-or-insert whole-row,
    * the MERGE vocabulary). CONTRACT (ADVICE r14): a delete of an
    * ABSENT key is a no-op — CDC-apply semantics ([[Upsert.applyCdc]]
    * replay), idempotent under at-least-once redelivery. That differs
    * from ANSI MERGE's default, where a not-matched delete-flagged row
    * INSERTS; the snapshot form matches this contract when
    * [[VersionedTable.writeVersion]] is called with
    * `insertUnmatchedDeletes = false` (DeleteAbsentSemanticsSpec pins
    * the equivalence). Bytes written ∝ |delta|, plus a full
    * checkpoint when the cadence is due. Returns the new version. */
  def commitDelta(
      spark: SparkSession,
      baseDir: String,
      delta: DataFrame,
      deleteCol: Option[String] = None): Int =
    commitStaged(spark, baseDir, delta, deleteCol, "DeltaChain.commitDelta", None)

  /** [[commitDelta]]'s body, plus the `kind` line a [[restore]] records:
    * stage, validate, then land with the checkpoint when the cadence
    * is due — the authoritative column list is the latest checkpoint's
    * stored schema plus metadata-only events (one sidecar read, never a
    * replay). */
  private def commitStaged(
      spark: SparkSession,
      baseDir: String,
      delta: DataFrame,
      deleteCol: Option[String],
      who: String,
      kind: Option[String]): Int = {
    val (m, current) = head(baseDir, who)
    val tableCols = tableColsAt(spark, baseDir, m, current)
    val staging = stage(spark, baseDir, delta, deleteCol, m.keys, tableCols,
      activeConstraints(m), who)
    landStaged(spark, baseDir, m, tableCols, current + 1, staging,
      kind.map("kind" -> _))
  }

  /** STAGE ONCE, validate from the staged files: the caller's delta
    * lineage is computed exactly once (a validate-then-write order ran
    * it twice — once for the validation aggregate, once for the
    * write). A failed validation deletes the staging dir and throws
    * with nothing committed; a crash in between leaves only a
    * janitor-swept `.stage_d_*` dir. Returns the staging dir. */
  private def stage(
      spark: SparkSession,
      baseDir: String,
      delta: DataFrame,
      deleteCol: Option[String],
      keys: Seq[String],
      tableCols: Seq[String],
      constraints: Seq[Constraint],
      who: String): Path = {
    val shaped = shape(delta, tableCols, deleteCol, who)
    val staging = Paths.get(baseDir,
      s".stage_d_${java.util.UUID.randomUUID().toString.take(12)}")
    writeDir(shaped, staging.toString)
    try validateStaged(spark, staging.toString, keys, who, constraints)
    catch { case t: Throwable => TableLog.deleteRecursively(staging); throw t }
    staging
  }

  /** Land a staged delta as version `next`: atomically rename it into
    * `d{next}`, plus the checkpoint when the cadence is due. */
  private def landStaged(
      spark: SparkSession,
      baseDir: String,
      m: Meta,
      tableCols: Seq[String],
      next: Int,
      staging: Path,
      event: Option[(String, String)]): Int = {
    val due = next - diskCheckpoints(baseDir).max >= m.checkpointEvery
    landCommit(spark, baseDir, m, tableCols, next,
      dir => Files.move(staging, Paths.get(dir), StandardCopyOption.ATOMIC_MOVE),
      if (due) Some(identity) else None, event)
  }

  /** The one order every commit after [[create]] lands in — a
    * crash-consistency rule:
    *  1. the change record `d{next}`, placed by `placeRecord`;
    *  2. when `layout` is given, the checkpoint `c{next}`: the replay
    *     from the last checkpoint through `layout` (the just-placed
    *     record is readable before the publish — the manifest, not dir
    *     existence, is the reader-visibility point);
    *  3. the manifest publish;
    *  4. the meta line `event` (tag, payload), if any.
    * Manifest first, meta line second (ADVICE r14): the reverse order
    * left a phantom addcol entry bound to an uncommitted version on a
    * crash between the two writes — after orphan-dir cleanup the next
    * ordinary commit reused that version number and the phantom column
    * sprang into existence for every reader. With this order a crash
    * between the writes leaves v{next} committed without its line: a
    * schema change becomes an empty no-op commit (re-running lands it
    * at the next version), an optimize or restore is labeled `delta` —
    * an audit-label blemish, never a data defect; meta()'s
    * committed-version filter is the second line of defense. Kinds are
    * recorded AT COMMIT (ADVICE r15): history() never infers
    * "optimize" from the empty-delta+checkpoint artifact shape, which a
    * zero-row data delta landing on the checkpoint cadence shares. */
  private def landCommit(
      spark: SparkSession,
      baseDir: String,
      m: Meta,
      tableCols: Seq[String],
      next: Int,
      placeRecord: String => Unit,
      layout: Option[DataFrame => DataFrame],
      event: Option[(String, String)]): Int = {
    val lastCp = diskCheckpoints(baseDir).max // disk view: see truncate
    placeRecord(deltaDir(baseDir, next))
    layout.foreach { f =>
      writeDir(f(replay(spark, baseDir, m, lastCp, next, tableCols)),
        checkpointDir(baseDir, next), m.partitionCols)
    }
    TableLog.publishVersion(baseDir, next)
    event.foreach { case (tag, payload) =>
      val raw = new String(Files.readAllBytes(metaPath(baseDir)),
        StandardCharsets.UTF_8)
      TableLog.replaceAtomically(metaPath(baseDir),
        raw.stripSuffix("\n") + s"\n$tag\t$next\t$payload\n")
    }
    next
  }

  /** Commit version `current + 1` with an EMPTY change record: zero
    * rows carrying exactly `recordCols` + `_op`, shaped from the anchor
    * checkpoint through `transform` — the schema-bearing `d{v}` every
    * metadata-only commit writes (keeps the every-version-has-d{v}
    * replay/changelog invariant and makes the commit changelog-neutral).
    * `layout` forces a checkpoint (optimize). */
  private def commitEmpty(
      spark: SparkSession,
      baseDir: String,
      m: Meta,
      current: Int,
      recordCols: Seq[String],
      event: (String, String),
      transform: DataFrame => DataFrame = identity,
      layout: Option[DataFrame => DataFrame] = None): Int = {
    val cp = diskCheckpoints(baseDir).max
    landCommit(spark, baseDir, m, recordCols, current + 1,
      dir => writeDir(
        transform(projectTo(readDir(spark, checkpointDir(baseDir, cp)), m, cp, current)
            .where(lit(false)))
          .select(recordCols.map(col) :+ lit("U").as(OpCol): _*)
          .coalesce(1),
        dir),
      layout, Some(event))
  }

  /** (meta, head version) of an existing chain, for the writer `who`. */
  private def head(baseDir: String, who: String): (Meta, Int) = {
    val m = meta(baseDir)
    val current = latestVersion(baseDir)
    require(current > 0, s"$who: $baseDir has no v1 — create() first")
    (m, current)
  }

  /** Shape a caller delta to (table columns + `_op`) — the PLAN-TIME
    * half of the write boundary: exact column-set checks fail before
    * any data is computed. */
  private def shape(
      delta: DataFrame,
      tableCols: Seq[String],
      deleteCol: Option[String],
      who: String): DataFrame = {
    require(tableCols.forall(delta.columns.contains),
      s"$who: delta must carry every table column " +
        s"(${tableCols.mkString(",")}); has ${delta.columns.mkString(",")}")
    // EXACT column set, not subset (ADVICE r14): a silent select of
    // tableCols would drop any extra column — a caller that misspells
    // a newly added column (or forgot addColumn) loses that data with
    // no error, contrary to this module's fail-loudly write boundary.
    val allowed = tableCols.toSet ++ deleteCol
    val unexpected = delta.columns.filterNot(allowed.contains)
    require(unexpected.isEmpty,
      s"$who: delta carries column(s) the table does not have: " +
        s"${unexpected.mkString(",")} — addColumn first, or drop them " +
        "explicitly (a silent drop here would lose data)")
    val op = deleteCol match {
      case Some(d) => when(col(d), lit("D")).otherwise(lit("U"))
      case None    => lit("U")
    }
    delta.select(tableCols.map(col) :+ op.as(OpCol): _*)
  }

  /** Enforce the ANSI-MERGE write-boundary preconditions over a STAGED
    * delta dir, fail-loudly: unique key tuples per commit (a duplicate
    * would tie on `_seq` and replay one of the two
    * nondeterministically), non-null keys (the replay window GROUPS
    * null keys — legal — but a caller deleting "key = null" almost
    * always holds a data bug), and every active CHECK constraint.
    *
    * Runs AFTER the staging write (guide §1.2: the caller's delta
    * lineage is computed ONCE — the old validate-then-write order
    * recomputed an arbitrary upstream plan twice per commit). Reading
    * the staged parquet back prunes to keys + constraint columns +
    * `_op`, so validation cost is ∝ staged key/constraint bytes, not
    * the delta's full compute; the read is under the staged sidecar,
    * so it starts no footer-inference job. The caller deletes the
    * staging dir on failure — nothing is committed (the manifest, not
    * dir existence, is the reader-visibility point, and `.stage_d_*`
    * dirs are janitor-swept). */
  private def validateStaged(
      spark: SparkSession,
      stagedDir: String,
      keys: Seq[String],
      who: String,
      constraints: Seq[Constraint] = Seq.empty): Unit = {
    // ONE validation aggregate carries the key checks AND every active
    // CHECK constraint's violation count (ANSI semantics: NULL passes,
    // only FALSE violates; delete rows are exempt — they carry the
    // writer's payload for a row leaving the table)
    val conCounts: Seq[org.apache.spark.sql.Column] = constraints.map { c =>
      count(when(col(OpCol) === "U" && (expr(c.sql) <=> lit(false)), 1))
    }
    val counted = readDir(spark, stagedDir)
      .agg(count(lit(1)), countDistinct(keys.head, keys.tail: _*) +:
        count(when(keys.map(col(_).isNull).reduce(_ || _), 1)) +:
        conCounts: _*)
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    val Seq(total, distinct, nullKeys) = counted.take(3)
    require(nullKeys == 0,
      s"$who: $nullKeys delta row(s) carry a NULL key on (${keys.mkString(",")})")
    require(total == distinct,
      s"$who: ${total - distinct} duplicate key row(s) " +
        s"in the delta on (${keys.mkString(",")})")
    constraints.zip(counted.drop(3)).foreach { case (c, violations) =>
      require(violations == 0,
        s"$who: $violations delta row(s) violate CHECK constraint " +
          s"'${c.name}' (${c.sql}) — nothing was committed")
    }
  }

  /** The version of the change record a row was read from: its file's
    * own parent dir, the LAST /d<digits>/ path segment (an unanchored
    * extract took the FIRST match, so a baseDir containing '/d7/'
    * stamped every row 7; ADVICE r15). */
  private def recordVersion: org.apache.spark.sql.Column =
    regexp_extract(col("_metadata.file_path"), "/d(\\d+)/[^/]*$", 1).cast("int")

  /** The change records of versions (from, to], one frame per RUN: a
    * maximal range of consecutive versions whose sidecars are
    * byte-identical and inside which no schema event lands. Each run
    * is ONE multi-path scan under that schema, projected to version
    * `to`'s shape (no event inside the run, so every file in it
    * projects alike), with `_seq` — the version each row was stored
    * at, from its file's own `d<v>` dir — as the last column. A scan
    * node costs its own file listing and Hadoop-conf broadcast on the
    * driver, so a replay pays that per run, not per version. A dir
    * without a sidecar is its own run, read through the footer. A run
    * stops short of Spark's parallel-listing threshold, so building
    * the scan lists its dirs on the driver and starts no job. */
  private def deltaRuns(
      spark: SparkSession,
      baseDir: String,
      m: Meta,
      from: Int,
      to: Int): Seq[DataFrame] = {
    val events = m.schemaEvents.map(_.version).toSet
    val maxRun =
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32").toInt
    val runs = ((from + 1) to to).map(v => v -> sidecar(deltaDir(baseDir, v)))
      .foldLeft(List.empty[(Vector[Int], Option[String])]) {
        case ((run, s) :: done, (v, sv))
            if sv.isDefined && sv == s && !events(v) && run.size < maxRun =>
          (run :+ v, s) :: done
        case (done, (v, sv)) => (Vector(v), sv) :: done
      }.reverse
    runs.map { case (run, s) =>
      val dirs = run.map(deltaDir(baseDir, _))
      val raw =
        if (s.isEmpty) readDir(spark, dirs.head)
        else spark.read.schema(storedSchema(spark, dirs.head)).parquet(dirs: _*)
      val p = projectTo(raw.withColumn("_seq", recordVersion), m, run.head, to)
      p.select(p.columns.filter(_ != "_seq").map(col) :+ col("_seq"): _*)
    }
  }

  /** Every delta in (cp, to] as one frame: `tableCols` at version `to`,
    * the stored `_op`, and `_seq`. */
  private def deltaRecords(
      spark: SparkSession,
      baseDir: String,
      m: Meta,
      cp: Int,
      to: Int,
      tableCols: Seq[String]): DataFrame =
    deltaRuns(spark, baseDir, m, cp, to)
      .map(_.select(tableCols.map(col) :+ col(OpCol) :+ col("_seq"): _*))
      .reduce(_.unionByName(_))

  /** Checkpoint `cp`, projected to version `to`'s shape and `tableCols`. */
  private def checkpointRows(
      spark: SparkSession,
      baseDir: String,
      m: Meta,
      cp: Int,
      to: Int,
      tableCols: Seq[String]): DataFrame =
    projectTo(readDir(spark, checkpointDir(baseDir, cp)), m, cp, to)
      .select(tableCols.map(col): _*)

  /** The tagged record stream a per-key fold over the whole history
    * reads ([[changesRange]], [[restore]]): the checkpoint rows of
    * version `cp` (`_op` = I, `_seq` = cp) ∪ `deltas`. */
  private def records(cpRows: DataFrame, cp: Int, deltas: DataFrame): DataFrame =
    cpRows.withColumn(OpCol, lit("I")).withColumn("_seq", lit(cp))
      .unionByName(deltas)

  /** The keys the `deltas` stored above version `from` touch — the same
    * delta frame the fold reads, filtered, never a second per-dir read;
    * duplicates are harmless to the semi-join that consumes it. */
  private def touchedKeys(deltas: DataFrame, keys: Seq[String], from: Int): DataFrame =
    deltas.where(col("_seq") > from).select(keys.map(col): _*)

  /** Checkpoint `fromCp` + deltas (fromCp, to] → the exact state at
    * `to`, merge-on-read: the checkpoint is scanned once and PROBED —
    * its rows whose key no delta touches pass through an anti-join
    * against the deltas' keys — and [[Upsert.applyCdc]] folds only the
    * delta rows, keeping the last write per touched key and dropping
    * deleted keys. Only delta rows are shuffled: Spark broadcasts the
    * key side when the deltas' files fit its `autoBroadcastJoinThreshold`,
    * and past it falls back to a shuffle join, the cost the
    * whole-table fold always paid. Equal to that fold whenever the
    * checkpoint's keys are unique, which every checkpoint a replay
    * writes is by construction and [[create]] requires of its input. */
  private def replay(
      spark: SparkSession,
      baseDir: String,
      m: Meta,
      fromCp: Int,
      to: Int,
      tableCols: Seq[String]): DataFrame = {
    val deltas = deltaRecords(spark, baseDir, m, fromCp, to, tableCols)
    checkpointRows(spark, baseDir, m, fromCp, to, tableCols)
      .join(deltas.select(m.keys.map(col): _*), m.keys, "left_anti")
      .select(tableCols.map(col): _*)
      .unionByName(Upsert.applyCdc(deltas, m.keys, "_seq", OpCol)
        .select(tableCols.map(col): _*))
  }

  /** Time travel: nearest checkpoint at-or-below `version` + replay.
    * Hash-identical to a full snapshot of the same chain (the q64
    * oracle-checked equivalence). */
  def readAsOf(spark: SparkSession, baseDir: String, version: Int): DataFrame = {
    require(versions(baseDir).contains(version),
      s"DeltaChain.readAsOf: version $version not in committed " +
        s"versions ${versions(baseDir).mkString("[", ",", "]")} of $baseDir")
    if (hasCheckpoint(baseDir, version))
      readDir(spark, checkpointDir(baseDir, version))
    else {
      // disk-based resolution: after truncate the anchor checkpoint
      // may outlive its manifest entry (see [[truncate]])
      val cp = diskCheckpoints(baseDir).filter(_ <= version).max
      val m = meta(baseDir)
      replay(spark, baseDir, m, cp, version, tableColsAt(spark, baseDir, m, version))
    }
  }

  /** Latest state. */
  def read(spark: SparkSession, baseDir: String): DataFrame =
    readAsOf(spark, baseDir, latestVersion(baseDir))

  /** The stored change feed between two committed versions: a pure
    * union of the delta files in (fromVersion, toVersion], each row
    * tagged `_commit_version` and `_change_type` ∈ {upsert, delete}.
    * ZERO joins — this is the read path a CDC consumer wants, and the
    * structural advantage over [[VersionedTable.changes]]'s full-outer
    * snapshot diff: cost ∝ change bytes, never table size. (Upsert is
    * not split into insert vs update_pre/postimage here because the
    * pre-state is not stored with the delta; consumers needing
    * preimages join against `readAsOf(fromVersion)`.) */
  def changelog(
      spark: SparkSession,
      baseDir: String,
      fromVersion: Int,
      toVersion: Int): DataFrame = {
    val vs = versions(baseDir)
    require(fromVersion < toVersion && vs.contains(fromVersion) && vs.contains(toVersion),
      s"DeltaChain.changelog: need committed fromVersion < toVersion, " +
        s"got $fromVersion, $toVersion of ${vs.mkString("[", ",", "]")}")
    // pre-event deltas project like every other reader, so a window
    // spanning a schema change unions cleanly and the consumer sees one
    // schema (the window-end's)
    deltaRuns(spark, baseDir, meta(baseDir), fromVersion, toVersion)
      .map(_.withColumnRenamed("_seq", "_commit_version"))
      .reduce(_.unionByName(_))
      .withColumn("_change_type",
        when(col(OpCol) === "D", lit("delete")).otherwise(lit("upsert")))
      .drop(OpCol)
  }

  /** The full Delta-CDF vocabulary for ONE commit — stored delta rows
    * enriched with preimages recovered from the PRIOR version's state:
    * insert / delete / update_preimage / update_postimage, exactly
    * [[VersionedTable.changes]]'s contract. Structurally cheaper than
    * the snapshot diff: the join's build side is the DELTA (small by
    * construction — AQE broadcasts it), so the prior state is PROBED,
    * never shuffled — cost ∝ delta + one state read, not two
    * full-table shuffles. The prior STATE is the authority for
    * preimage payloads (a delete row's stored payload is whatever the
    * writer happened to send; the state is what the table actually
    * held), and a stored delete of an absent key emits nothing — the
    * replay no-op surfaces as a CDF no-op, consistently. Both sides
    * take the commit's own shape, so a schema-change commit (an empty
    * change record) reads as empty under its new columns. */
  def changesAt(spark: SparkSession, baseDir: String, version: Int): DataFrame = {
    require(version >= 2 && versions(baseDir).contains(version),
      s"DeltaChain.changesAt: need a committed version >= 2, got $version " +
        s"of ${versions(baseDir).mkString("[", ",", "]")}")
    val m = meta(baseDir)
    val prev = projectTo(readAsOf(spark, baseDir, version - 1), m, version - 1, version)
    val dataCols = prev.columns.toSeq
    val old = prev.select(dataCols.map(c => col(c).as(s"__old_$c")): _*)
      .withColumn("__graft_in_prev", lit(true))
    val d = projectTo(
      readDir(spark, deltaDir(baseDir, version)), m, version, version)
    val joinCond = m.keys.map(k => col(k) <=> col(s"__old_$k")).reduce(_ && _)
    val joined = d.join(old, joinCond, "left_outer")
    val present = col("__graft_in_prev").isNotNull
    def newShape(tag: String) =
      dataCols.map(col) :+ lit(tag).as("_change_type")
    def oldShape(tag: String) =
      dataCols.map(c => col(s"__old_$c").as(c)) :+ lit(tag).as("_change_type")
    val inserts = joined.where(col(OpCol) === "U" && !present)
      .select(newShape("insert"): _*)
    val updPre = joined.where(col(OpCol) === "U" && present)
      .select(oldShape("update_preimage"): _*)
    val updPost = joined.where(col(OpCol) === "U" && present)
      .select(newShape("update_postimage"): _*)
    val deletes = joined.where(col(OpCol) === "D" && present)
      .select(oldShape("delete"): _*)
    inserts.unionByName(updPre).unionByName(updPost).unionByName(deletes)
  }

  /** OPTIMIZE (small-file compaction) for the delta form — VERDICT
    * r14 item 2, the missing lifecycle step for t28-style streaming
    * ingest, which commits one small delta dir per micro-batch. The
    * commit writes ONE empty change record (`d{next}` — a data no-op,
    * so the changelog contract is untouched: zero rows contributed)
    * plus a FORCED checkpoint `c{next}` holding the full state
    * bin-packed into `numFiles` files. After it, the head read is one
    * compact checkpoint scan instead of anchor-checkpoint + the whole
    * small-file delta run; every COMMITTED version still replays from
    * its original anchor, byte-identical (history preserved — the q69
    * key REQUIREs hash-identity across all versions, files ↓ at head).
    * Old small files are reclaimed later by [[truncate]] once the new
    * checkpoint becomes the anchor — the same two-step
    * OPTIMIZE-then-VACUUM lifecycle Delta/Iceberg run. At 100 TB,
    * partition this by table region (the operator compacts whatever
    * the chain holds; a production scheduler runs it per partition).
    * Returns the new version. */
  def optimize(spark: SparkSession, baseDir: String, numFiles: Int = 1): Int = {
    val (m, current) = head(baseDir, "DeltaChain.optimize")
    require(numFiles >= 1, "DeltaChain.optimize: numFiles >= 1")
    commitEmpty(spark, baseDir, m, current, tableColsAt(spark, baseDir, m, current),
      "kind" -> "optimize", layout = Some(_.coalesce(numFiles)))
  }

  /** OPTIMIZE … ZORDER BY (x, y) for the delta form — [[optimize]]
    * with the forced checkpoint Morton-clustered on two key columns
    * ([[ZOrder.cluster]]: one range shuffle) instead of bin-packed by
    * coalesce, so zone maps on the compacted head prune on BOTH
    * columns. Same commit shape (empty change record + checkpoint),
    * same history/changelog neutrality; rows are unchanged, only
    * layout moves. Returns the new version. */
  def optimizeClustered(
      spark: SparkSession,
      baseDir: String,
      xCol: String,
      yCol: String,
      numFiles: Int): Int = {
    val (m, current) = head(baseDir, "DeltaChain.optimizeClustered")
    val tableCols = tableColsAt(spark, baseDir, m, current)
    require(Seq(xCol, yCol).forall(tableCols.contains),
      s"DeltaChain.optimizeClustered: ($xCol, $yCol) must be table columns")
    commitEmpty(spark, baseDir, m, current, tableCols, "kind" -> "optimize",
      layout = Some(ZOrder.cluster(_, xCol, yCol, numFiles)))
  }

  /** Parquet bytes of the change records of versions `vs` — file
    * listings only, no data read; the currency of [[rangePruneActive]]
    * and [[restoreScanBytes]]. */
  private def deltaBytes(baseDir: String, vs: Range): Long =
    vs.map(v => TableLog.census(deltaDir(baseDir, v)).bytes).sum

  /** [[changesRange]]'s touched-key-prune decision, from file metadata
    * alone: prune only when the emission window's delta bytes are under
    * 1/4 of the bytes the replay scans regardless (anchor checkpoint +
    * every delta since it). Exposed to the bench so the cdf_range probe
    * can report which arm ran next to its timing. */
  private[graft] def rangePruneActive(
      baseDir: String, fromVersion: Int, toVersion: Int): Boolean = {
    val cpv = diskCheckpoints(baseDir).filter(_ <= fromVersion).max
    val windowBytes = deltaBytes(baseDir, (fromVersion + 1) to toVersion)
    val scanBytes = TableLog.census(checkpointDir(baseDir, cpv)).bytes +
      deltaBytes(baseDir, (cpv + 1) to toVersion)
    windowBytes * 4L < scanBytes
  }

  /** The bytes a [[restore]] to `toVersion` scans at the CURRENT head
    * (anchor checkpoint + every delta since it) — file listing only, no
    * data read. VERDICT r17 "what's wrong" #4's cost counter: restore's
    * touched-key union re-reads history since the anchor checkpoint
    * (bounded by checkpointEvery); this makes that cost a measured
    * number on the restore probe instead of an assumption. Call BEFORE
    * the restore commits, so the restoring delta itself is not counted. */
  private[graft] def restoreScanBytes(baseDir: String, toVersion: Int): Long = {
    val current = latestVersion(baseDir)
    val cpv = diskCheckpoints(baseDir).filter(_ <= toVersion).max
    TableLog.census(checkpointDir(baseDir, cpv)).bytes +
      deltaBytes(baseDir, (cpv + 1) to current)
  }

  /** Batched CDF over a version RANGE in ONE replay + ONE window pass
    * — the flat-slope fix for per-version [[changesAt]] loops (VERDICT
    * r14 item 4): changesAt(v) replays readAsOf(v−1) from the anchor
    * checkpoint EVERY call, so maintaining a view across k versions
    * costs O(k²) delta reads; here the checkpoint and every delta in
    * (anchor, toVersion] union ONCE, and a per-key `lag` over the
    * commit sequence recovers each change row's preimage — the
    * previous write to that key IS the key's state at v−1, because a
    * commit holds at most one row per key (the write-boundary
    * uniqueness REQUIRE). Emits exactly ⋃ changesAt(v) for v in
    * (fromVersion, toVersion] — same vocabulary (insert / delete /
    * update_preimage / update_postimage, state-authoritative
    * preimages, no-op deletes dropped), each row tagged
    * `_commit_version` (q66b REQUIREs the set-equivalence in-key).
    * ONE shuffle on the key; the deltas are read one scan per run
    * ([[deltaRuns]]), so chain length only widens those scans. */
  def changesRange(
      spark: SparkSession,
      baseDir: String,
      fromVersion: Int,
      toVersion: Int): DataFrame = {
    val vs = versions(baseDir)
    require(fromVersion < toVersion && vs.contains(fromVersion) && vs.contains(toVersion),
      s"DeltaChain.changesRange: need committed fromVersion < toVersion, " +
        s"got $fromVersion, $toVersion of ${vs.mkString("[", ",", "]")}")
    val m = meta(baseDir)
    val cpv = diskCheckpoints(baseDir).filter(_ <= fromVersion).max
    val tableCols = tableColsAt(spark, baseDir, m, toVersion)
    val deltas = deltaRecords(spark, baseDir, m, cpv, toVersion, tableCols)
    val all = records(
      checkpointRows(spark, baseDir, m, cpv, toVersion, tableCols), cpv, deltas)
    // Prune to keys actually touched INSIDE the emission window before
    // the one shuffle (guide §2.3): a key with no record in
    // (fromVersion, toVersion] emits nothing and supplies a preimage to
    // nothing — checkpoint/pre-window rows exist here only to carry
    // preimages for keys that ARE touched. The semi-join keeps every
    // record of every touched key (lag() per key unchanged → output
    // identical, q66b's in-key set-equivalence REQUIRE re-verifies it),
    // while the window sort/shuffle then carries bytes ∝ rows touched
    // in the window, never ∝ table size. The touched keys are the
    // window's rows of the same delta frame the pass reads.
    //
    // CARDINALITY GUARD (VERDICT r17 "what's wrong" #2): the prune
    // itself re-reads every window delta and semi-joins — worth it when
    // touched ≪ table (the CDC case), pure overhead when the window
    // rewrites most of the table (the r17 cdf_range probe: 105k delta
    // rows over a 150k base, range_ms 1,219 → 2,968). Decide from file
    // metadata alone (directory listings, no data read): skip the
    // semi-join when the window's
    // delta bytes are ≥ 1/4 of everything the pass scans anyway
    // (checkpoint + history since it) — past that point the touched-key
    // set approaches table scale and the "degrades to the shuffle we
    // were paying" arm IS the shuffle, minus the prune's own re-read.
    val joined =
      if (rangePruneActive(baseDir, fromVersion, toVersion))
        all.join(touchedKeys(deltas, m.keys, fromVersion), m.keys, "left_semi")
      else all
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(m.keys.map(col): _*).orderBy(col("_seq"))
    val prevCols = tableCols.map(c => lag(col(c), 1).over(w).as(s"__prev_$c"))
    val withPrev = joined.select(
      (tableCols.map(col) :+ col(OpCol) :+ col("_seq")) ++
        prevCols :+ lag(col(OpCol), 1).over(w).as("__prev_op"): _*)
    val present = col("__prev_op").isNotNull && col("__prev_op") =!= "D"
    def payload(f: String => org.apache.spark.sql.Column) =
      struct(tableCols.map(c => f(c).as(c)): _*)
    val newP = payload(col)
    val oldP = payload(c => col(s"__prev_$c"))
    def change(tag: String, p: org.apache.spark.sql.Column) =
      struct(lit(tag).as("_t"), p.as("_p"))
    // per-row change multiset as a null-compacted array: unmet `when`
    // branches are null structs, filtered away — a delete of an absent
    // key yields the empty array (the no-op), and the array type is
    // inferred, never hand-spelled
    val changesArr = filter(
      array(
        when(col(OpCol) === "U" && !present, change("insert", newP)),
        when(col(OpCol) === "U" && present, change("update_preimage", oldP)),
        when(col(OpCol) === "U" && present, change("update_postimage", newP)),
        when(col(OpCol) === "D" && present, change("delete", oldP))),
      _.isNotNull)
    withPrev
      .where(col("_seq") > fromVersion)
      .select(col("_seq").as("_commit_version"), explode(changesArr).as("_c"))
      .select(tableCols.map(c => col(s"_c._p.$c").as(c)) :+
        col("_c._t").as("_change_type") :+ col("_commit_version"): _*)
  }

  /** Optimistic multi-writer delta commit — [[TableLog.arbitrate]]'s
    * claim protocol applied to the delta form: stage the shaped delta
    * ONCE, CAS-claim the version with an atomic create-new marker,
    * winner renames staging → `d{v}` (plus the due checkpoint) and
    * publishes through [[commitDelta]]'s landing path; the loser
    * KEEPS its staged files, awaits the winner's publish, and re-links
    * THE SAME staged delta against the next number — the payload is
    * version-independent, so a retry costs one rename, never a
    * re-write (stage-once, VERDICT r14 item 3). Rebase semantics are
    * last-writer-wins BY KEY (the table's replay contract): when two
    * racing deltas touch the same key, whichever commits LAST owns the
    * final row — serialized, never torn, and exactly what MERGE gives
    * sequential writers; writers needing read-my-state arbitration
    * compute through the snapshot form's `compute`-function protocol
    * instead. Same honest caveats as the snapshot variant (POSIX/HDFS
    * atomicity; orphaned claims fail loudly via the loser's wait
    * deadline). Returns (version, attempts). */
  def commitDeltaArbitrated(
      spark: SparkSession,
      baseDir: String,
      delta: DataFrame,
      deleteCol: Option[String] = None,
      maxAttempts: Int = 5,
      publishWaitMs: Long = 10000L): (Int, Int) = {
    val who = "DeltaChain.commitDeltaArbitrated"
    require(latestVersion(baseDir) > 0, s"$who: $baseDir has no v1 — create() first")
    // STAGE ONCE (VERDICT r14 item 3): unlike the snapshot form, whose
    // compute() must re-run against each new head, the delta payload
    // is version-independent — a loser re-LINKS the same staged files
    // on retry instead of re-writing them, so contention costs
    // attempts × (one rename), not attempts × |delta| of write
    // amplification (DeltaArbitrationSpec counts the staged bytes
    // across a forced loss). The events that invalidate staging are a
    // concurrent schema change altering the table's column list or a
    // concurrent constraint add/drop changing what the write boundary
    // must enforce — META IS RE-READ AT THE TOP OF EVERY ATTEMPT
    // (ADVICE r15: a once-read meta let a loser's retry commit a
    // staged delta without enforcing a constraint another writer
    // added concurrently), and either change re-stages (the rare
    // path).
    var staged = Option.empty[(Path, Seq[String], Seq[Constraint])]
    try TableLog.arbitrate(baseDir, who, maxAttempts, publishWaitMs) { next =>
      val m = meta(baseDir)
      val tableCols = tableColsAt(spark, baseDir, m, next - 1)
      val cons = activeConstraints(m)
      if (!staged.exists { case (_, c, k) => c == tableCols && k == cons }) {
        staged.foreach(st => TableLog.deleteRecursively(st._1))
        staged = Some((stage(spark, baseDir, delta, deleteCol, m.keys, tableCols,
          cons, who), tableCols, cons))
      }
      val staging = staged.get._1
      () => landStaged(spark, baseDir, m, tableCols, next, staging, None)
    } finally {
      // a landed staging dir was renamed away: deleting it is a no-op
      staged.foreach(st => TableLog.deleteRecursively(st._1))
    }
  }

  /** ALTER TABLE ADD COLUMN, metadata-only (the at-scale form of
    * [[VersionedTable.addColumn]], which rewrites the snapshot): the
    * commit writes ONE empty delta file (the version's change record,
    * carrying the widened schema) and one metadata line — zero data
    * rewritten, at any table size. Every row stored before this
    * version backfills AT READ with `defaultSql` evaluated over the
    * row's own columns (so a derived default, e.g.
    * `CAST(qprice DIV 100000 AS BIGINT)`, tracks each row's current
    * values exactly as a rewrite would have). Time travel below the
    * addition returns the narrower schema — the q59 schema-evolution
    * contract, unchanged by the storage form. Later commits MUST
    * carry the column (shapeAndValidate enforces the widened list).
    * Returns the new version. */
  def addColumn(
      spark: SparkSession,
      baseDir: String,
      name: String,
      defaultSql: String): Int = {
    val (m, current) = head(baseDir, "DeltaChain.addColumn")
    require(!name.contains("\t") && !defaultSql.contains("\t") &&
      !name.contains("\n") && !defaultSql.contains("\n"),
      "DeltaChain.addColumn: tabs/newlines are the metadata separators")
    val curCols = tableColsAt(spark, baseDir, m, current)
    require(!curCols.contains(name),
      s"DeltaChain.addColumn: $name already exists in $baseDir")
    // the empty change record: zero rows, widened schema — keeps the
    // replay/changelog invariant that every version v >= 2 has d{v}
    commitEmpty(spark, baseDir, m, current, curCols :+ name,
      "addcol" -> s"$name\t$defaultSql", _.withColumn(name, expr(defaultSql)))
  }

  /** Does `sql` reference column `name`? Word-boundary text test —
    * conservative (a name inside a string literal also matches), which
    * errs toward refusing a drop/rename, never toward breaking a
    * stored expression. Backtick is deliberately NOT in the boundary
    * classes: a quoted identifier (`name`) must match like a bare one
    * (ADVICE r16 — with backtick in the class, a constraint written
    * as `qbal` > 0 slipped past the fail-closed drop/rename check and
    * left an unresolvable stored expression behind). */
  private def referencesColumn(sql: String, name: String): Boolean =
    ("(?i)(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(name) +
      "(?![A-Za-z0-9_])").r.findFirstIn(sql).isDefined

  /** Shared preconditions for DROP/RENAME COLUMN: the column must not
    * be a key (replay groups by key names across ALL versions), a
    * partition column (the checkpoint layout is keyed to it), a column
    * an ACTIVE CHECK constraint tests (the constraint would silently
    * stop binding — drop the constraint first, loudly), or a column a
    * LIVE added column's read-time default references (the streaming
    * feed re-evaluates those defaults under head names). */
  private def requireDroppable(
      m: Meta, curCols: Seq[String], name: String, who: String): Unit = {
    require(curCols.contains(name),
      s"$who: $name is not a current table column (${curCols.mkString(",")})")
    require(!m.keys.contains(name),
      s"$who: $name is a key column — keys are immutable for the chain's lifetime")
    require(!m.partitionCols.contains(name),
      s"$who: $name is a partition column — the checkpoint layout depends on it")
    activeConstraints(m).foreach { c =>
      require(!referencesColumn(c.sql, name),
        s"$who: active CHECK constraint '${c.name}' (${c.sql}) references " +
          s"$name — drop the constraint first")
    }
    // live added incarnations: the latest add of a currently-present
    // column whose default the read path still evaluates
    m.schemaEvents.collect { case a: AddedColumn => a }
      .groupBy(_.name).values.map(_.maxBy(_.version))
      .filter(a => curCols.contains(a.name) && a.name != name)
      .foreach { a =>
        require(!referencesColumn(a.defaultSql, name),
          s"$who: added column ${a.name}'s read-time default " +
            s"(${a.defaultSql}) references $name — pre-addition rows " +
            "would no longer backfill")
      }
  }

  /** ALTER TABLE DROP COLUMN, metadata-only (the Delta column-mapping
    * contract): one empty change record (carrying the NARROWED schema)
    * plus one metadata line — zero data rewritten at any table size.
    * Old versions keep the old shape (time travel below the drop still
    * returns the column); later commits MUST carry the narrowed list
    * (shapeAndValidate rejects the dropped name by name); a later
    * re-add of the SAME name is a fresh incarnation — pre-drop values
    * never leak into it. Constraints or live read-time defaults that
    * reference the column refuse the drop loudly. Returns the new
    * version. */
  def dropColumn(spark: SparkSession, baseDir: String, name: String): Int = {
    val (m, current) = head(baseDir, "DeltaChain.dropColumn")
    require(!name.contains("\t") && !name.contains("\n"),
      "DeltaChain.dropColumn: tabs/newlines are the metadata separators")
    val curCols = tableColsAt(spark, baseDir, m, current)
    requireDroppable(m, curCols, name, "DeltaChain.dropColumn")
    require(curCols.size > 1,
      s"DeltaChain.dropColumn: $name is the only column of $baseDir")
    commitEmpty(spark, baseDir, m, current, curCols.filterNot(_ == name),
      "dropcol" -> name)
  }

  /** ALTER TABLE RENAME COLUMN, metadata-only: one empty change record
    * (carrying the renamed schema) plus one metadata line — values
    * carry over at read, zero data rewritten. Old versions keep the
    * old name; later commits MUST use the new one. Same refusal set as
    * [[dropColumn]] (a rename would silently unbind constraints and
    * read-time defaults that name the column), plus the target name
    * must be free. Returns the new version. */
  def renameColumn(
      spark: SparkSession, baseDir: String, from: String, to: String): Int = {
    val (m, current) = head(baseDir, "DeltaChain.renameColumn")
    require(Seq(from, to).forall(n => !n.contains("\t") && !n.contains("\n")),
      "DeltaChain.renameColumn: tabs/newlines are the metadata separators")
    require(from != to, "DeltaChain.renameColumn: from and to are the same name")
    val curCols = tableColsAt(spark, baseDir, m, current)
    requireDroppable(m, curCols, from, "DeltaChain.renameColumn")
    require(!curCols.contains(to),
      s"DeltaChain.renameColumn: $to already exists in $baseDir")
    commitEmpty(spark, baseDir, m, current,
      curCols.map(c => if (c == from) to else c),
      "renamecol" -> s"$from\t$to", _.withColumnRenamed(from, to))
  }

  /** ALTER TABLE ADD CONSTRAINT (CHECK), metadata-only: commits one
    * empty change record + one metadata line; every LATER commit's
    * upsert rows must satisfy `sql` — validated inside the write
    * boundary's single aggregate pass, failing loudly BY NAME with
    * nothing committed (the Delta Lake contract: existing rows are not
    * re-validated, so the add costs metadata at any table size; pass
    * `validateExisting = true` to additionally pay one scan proving
    * the current state satisfies it before the constraint lands).
    * Same manifest-first crash ordering as [[addColumn]]. Returns the
    * new version. */
  def addConstraint(
      spark: SparkSession,
      baseDir: String,
      name: String,
      sql: String,
      validateExisting: Boolean = false): Int = {
    val (m, current) = head(baseDir, "DeltaChain.addConstraint")
    require(!name.contains("\t") && !sql.contains("\t") &&
      !name.contains("\n") && !sql.contains("\n"),
      "DeltaChain.addConstraint: tabs/newlines are the metadata separators")
    require(!activeConstraints(m).exists(_.name == name),
      s"DeltaChain.addConstraint: '$name' is already active on $baseDir")
    // the predicate must RESOLVE against the current schema — catch a
    // mis-spelled column at ADD time, not at the next writer's commit
    // (analysis only; no job runs unless validateExisting)
    try readAsOf(spark, baseDir, current).where(expr(sql))
      .queryExecution.analyzed
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"DeltaChain.addConstraint: '$name' ($sql) does not resolve " +
            s"against the table's columns: ${e.getMessage}")
    }
    if (validateExisting) {
      val bad = readAsOf(spark, baseDir, current)
        .where(expr(sql) <=> lit(false)).count()
      require(bad == 0,
        s"DeltaChain.addConstraint: $bad existing row(s) violate '$name' " +
          s"($sql) — constraint not added")
    }
    commitEmpty(spark, baseDir, m, current, tableColsAt(spark, baseDir, m, current),
      "constraint" -> s"$name\t$sql")
  }

  /** ALTER TABLE DROP CONSTRAINT — metadata-only, same shape as
    * [[addConstraint]]; later commits stop enforcing `name` (the name
    * may be re-added later with a different predicate). */
  def dropConstraint(
      spark: SparkSession,
      baseDir: String,
      name: String): Int = {
    val (m, current) = head(baseDir, "DeltaChain.dropConstraint")
    require(activeConstraints(m).exists(_.name == name),
      s"DeltaChain.dropConstraint: no active constraint '$name' on $baseDir")
    commitEmpty(spark, baseDir, m, current, tableColsAt(spark, baseDir, m, current),
      "dropconstraint" -> name)
  }

  /** The stored change feed as a STRUCTURED STREAM — the read side
    * that closes t28's loop (VERDICT r14 item 7): t28 streams deltas
    * IN; this streams the changelog OUT, so ingest → CDF →
    * replica/incremental-MV runs as one continuous pipeline. A file
    * stream over the `d*` delta dirs (checkpoints and metadata never
    * match the glob), each row tagged `_commit_version` recovered from
    * its file path and `_change_type` ∈ {upsert, delete} — the
    * [[changelog]] vocabulary, streaming. Rows at-or-below
    * `fromVersion` are filtered out (the consumer's resume point).
    *
    * Ordering contract (hardened, VERDICT r15 item 3): successive
    * commits create their delta files strictly in commit order (d{v+1}
    * only begins after v's publish), and each micro-batch takes EVERY
    * new file the listing found — so a batch can carry several commits
    * and a consumer replays them sorted by `_commit_version` (t29).
    * The old per-file trigger delivered files in (mtime, path) order,
    * where `d10 < d9` LEXICOGRAPHICALLY — two commits landing in the
    * same mtime granule arrived out of order; whole-listing batches
    * cannot split that pair. A consumer that must not reorder should
    * still assert monotone versions across batches — a listing racing
    * an in-flight commit can, rarely, defer one version to the next
    * batch (fail loudly, never silently re-order). Schema changes: the
    * stream carries the schema fixed AT START (as-of the head version
    * when called) — files stored before a rename/drop/add project
    * per-row to the head shape via their own `_commit_version` (the
    * batch readers' file-level projection can't fire here: a wide
    * declared schema NULL-surfaces missing columns instead of omitting
    * them); a consumer outliving a later schema change restarts with
    * the new shape (the standard streaming-source stance). */
  def readChangeFeedStream(
      spark: SparkSession,
      baseDir: String,
      fromVersion: Int): DataFrame = {
    val m = meta(baseDir)
    val head = latestVersion(baseDir)
    require(head > 0, s"DeltaChain.readChangeFeedStream: $baseDir has no v1")
    val tableCols = tableColsAt(spark, baseDir, m, head)
    val eventsDesc = m.schemaEvents.filter(_.version <= head).sortBy(-_.version)
    // Types of the CURRENT physical columns — from the newest stored
    // delta when one exists (it carries every current column + _op); a
    // freshly created chain has only c1 on disk (ADVICE r15: the old
    // head-delta read crashed here), so fall back to the checkpoint
    // sidecar plus a string _op.
    val headFields: Map[String, org.apache.spark.sql.types.DataType] = {
      val dd = diskDeltas(baseDir)
      if (dd.nonEmpty)
        storedSchema(spark, deltaDir(baseDir, dd.max))
          .map(f => f.name -> f.dataType).toMap
      else
        storedSchema(spark, checkpointDir(baseDir, diskCheckpoints(baseDir).max))
          .map(f => f.name -> f.dataType).toMap +
          (OpCol -> org.apache.spark.sql.types.StringType)
    }
    // Per head column: its PHYSICAL-NAME TIMELINE — (fromVersion,
    // storedName) segments, newest first — plus (birthVersion,
    // defaultSql) when the incarnation was born by an ADD. Walking the
    // event log newest-first: a rename TO the current name opens a new
    // segment and redirects the walk to the old name; an add OF the
    // current name is the incarnation's birth — rows below it backfill
    // the default, INCLUDING rows that physically carry a pre-drop
    // column of the same name (destroyed values must never leak).
    def timeline(c: String): (Seq[(Int, String)], Option[(Int, String)]) = {
      var segs = List.empty[(Int, String)]
      var name = c
      var birth = Option.empty[(Int, String)]
      eventsDesc.foreach { e =>
        if (birth.isEmpty) e match {
          case RenamedColumn(v, f, t) if t == name =>
            segs :+= (v -> name); name = f
          case AddedColumn(v, n, d) if n == name =>
            birth = Some(v -> d)
          case _ => ()
        }
      }
      segs :+= (birth.map(_._1).getOrElse(1) -> name)
      (segs, birth)
    }
    val lines = tableCols.map(c => c -> timeline(c)).toMap
    // Declared read schema: every physical name any segment uses (old
    // files carry old names; the reader NULL-fills whichever a given
    // file lacks), each typed by the head column its segment feeds.
    val physNames =
      (tableCols.flatMap(c => lines(c)._1.map(_._2)) :+ OpCol).distinct
    val schema = org.apache.spark.sql.types.StructType(
      physNames.map { n =>
        // ALL head columns whose timeline stores under this physical
        // name must agree on the type: original `a` renamed away plus
        // a fresh `a` added with a DIFFERENT type would otherwise read
        // old files under whichever incarnation matched first —
        // parquet read errors or silently corrupt values (ADVICE r16).
        // Schema evolution does not support type changes; refuse loudly.
        val owners = tableCols.filter(c => lines(c)._1.exists(_._2 == n))
        val types = owners.map(headFields).distinct
        require(types.size <= 1,
          s"DeltaChain.readChangeFeedStream: physical column '$n' is " +
            s"stored by incarnations with conflicting types " +
            s"(${owners.mkString(",")}: ${types.mkString(" vs ")}) — " +
            "schema evolution does not support type changes, so old " +
            "files cannot be read under one declared type")
        org.apache.spark.sql.types.StructField(
          n, types.headOption.getOrElse(headFields(n)))
      })
    val raw = spark.readStream
      .schema(schema)
      .parquet(s"$baseDir/d*")
    val withVer = raw.withColumn("_commit_version", recordVersion)
    // pass 1: segment-resolve each head column's RAW value per row —
    // which physical name held it at the row's commit version (null
    // below the incarnation's birth)
    val segResolved = tableCols.foldLeft(withVer) { (d, c) =>
      val raw0 = lines(c)._1.foldRight(
        lit(null).cast(headFields(c)): org.apache.spark.sql.Column) {
        case ((from, nm), acc) =>
          when(col("_commit_version") >= from, col(nm)).otherwise(acc)
      }
      d.withColumn(s"__cfs_$c", raw0)
    }
    val logical = segResolved.select(
      tableCols.map(c => col(s"__cfs_$c").as(c)) :+
        col(OpCol) :+ col("_commit_version"): _*)
    // pass 2, ascending birth order: pre-birth rows evaluate the
    // read-time default over LOGICAL columns — pass 1 already
    // version-resolved those, and rename/drop of a column a live
    // default references is refused at write time, so add-time names
    // ARE head names here
    val backfilled = tableCols
      .flatMap(c => lines(c)._2.map { case (bv, dflt) => (bv, c, dflt) })
      .sortBy(_._1)
      .foldLeft(logical) { case (df, (bv, c, dflt)) =>
        df.withColumn(c,
          when(col("_commit_version") < bv, expr(dflt)).otherwise(col(c)))
      }
    backfilled
      .where(col("_commit_version") > fromVersion)
      .withColumn("_change_type",
        when(col(OpCol) === "D", lit("delete")).otherwise(lit("upsert")))
      .drop(OpCol)
  }

  /** Log retention (the delta form's VACUUM): drop every version
    * strictly below `keepFrom` — manifest first (atomically, so a
    * reader never resolves a version whose files are mid-delete),
    * then the physical delta/checkpoint dirs. `keepFrom` must carry a
    * checkpoint (or one must exist at-or-below it that SURVIVES):
    * every retained version's replay path needs a checkpoint at or
    * below it, so the boundary rule is: the newest checkpoint
    * at-or-below `keepFrom` is retained even if its version number
    * falls below the cut — exactly Delta's "checkpoint retention
    * follows log retention" coupling, made explicit. Returns the
    * retained versions. Time travel below the cut fails loudly in
    * [[readAsOf]]'s committed-versions check; [[changesAt]]/
    * [[changelog]] windows reaching below it fail the same way.
    *
    * Staging janitor (VERDICT r15 item 5): truncate also sweeps
    * `.stage_d_*` dirs older than `staleStagingMs` — a writer killed
    * `-9` mid-arbitration leaks its staged delta forever otherwise
    * (the `finally` cleanup only covers JVM-visible exits). The age
    * gate keeps a LIVE writer's staging safe: its dir is at most one
    * commit old. */
  def truncate(
      baseDir: String,
      keepFrom: Int,
      staleStagingMs: Long = TableLog.StaleStagingMs): Seq[Int] = {
    val vs = versions(baseDir)
    require(vs.contains(keepFrom),
      s"DeltaChain.truncate: keepFrom $keepFrom not a committed version of $baseDir")
    val anchor = diskCheckpoints(baseDir).filter(_ <= keepFrom)
    require(anchor.nonEmpty,
      s"DeltaChain.truncate: no checkpoint at or below $keepFrom — " +
        "readAsOf(keepFrom) would have no replay base; checkpoint first")
    val anchorCp = anchor.max
    val keep = vs.filter(_ >= keepFrom)
    TableLog.publish(baseDir, keep)
    // Physical reclamation follows REPLAY reachability, not manifest
    // membership (the same rule [[VersionedTable.expire]] applies to
    // DV base snapshots): every retained version replays from the
    // anchor checkpoint plus the deltas ABOVE it, so
    //   - checkpoints below the anchor die,
    //   - deltas at-or-below the anchor die (replay starts AT the
    //     anchor; the anchor's own change record goes with the cut —
    //     changelog windows below keepFrom are gone by contract),
    //   - deltas in (anchor, keepFrom) SURVIVE as unmanifested replay
    //     fuel when the anchor sits below the cut — invisible to time
    //     travel, reclaimed by a later truncate once a newer
    //     checkpoint becomes the anchor.
    diskCheckpoints(baseDir).filter(_ < anchorCp)
      .foreach(v => TableLog.deleteRecursively(Paths.get(checkpointDir(baseDir, v))))
    diskDeltas(baseDir).filter(_ <= anchorCp)
      .foreach(v => TableLog.deleteRecursively(Paths.get(deltaDir(baseDir, v))))
    TableLog.sweepStale(baseDir, ".stage_d_", staleStagingMs)
    keep
  }

  /** Checkpoint/delta versions present ON DISK — the replay layer's
    * view. After [[truncate]] the anchor checkpoint (and the deltas
    * above it up to the cut) can legitimately outlive their manifest
    * entries, so replay resolution scans dirs, never the manifest. */
  private def diskCheckpoints(baseDir: String): Seq[Int] =
    TableLog.numberedDirs(baseDir, "c")
  private def diskDeltas(baseDir: String): Seq[Int] =
    TableLog.numberedDirs(baseDir, "d")

  /** DESCRIBE HISTORY for the delta form: one row per committed
    * version — number, OPERATION KIND (create / delta / add_column /
    * drop_column / rename_column / add_constraint / drop_constraint /
    * optimize / restore), the change rows it carried, and whether a
    * checkpoint landed. Kinds come from the commits' OWN metadata:
    * v1 is create, schema/constraint versions from their event lines,
    * optimize/restore from the `kind` line their commit records
    * (ADVICE r15: inferring "optimize" from the empty-delta+checkpoint
    * artifact shape mislabeled a legitimate zero-row data delta that
    * landed on the checkpoint cadence); everything else is a data
    * delta, except a manifest version whose change record a truncate
    * reclaimed (checkpoint_anchor). Row counts come from ONE multi-dir
    * scan, read under the `_op` column every change record stores (no
    * footer inference) and grouped by the path-extracted version —
    * O(1) Spark jobs for any chain length (ADVICE r15: the per-version
    * count() loop paid 10k job launches for a 10k-commit audit view);
    * bytes are directory listings. At 100 TB this is a manifest walk plus one
    * column-pruned scan of the (delta-sized) change records, never a
    * table scan. */
  def history(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    val m = meta(baseDir)
    val metaKind: Map[Int, String] =
      m.schemaEvents.map {
        case a: AddedColumn   => a.version -> "add_column"
        case d: DroppedColumn => d.version -> "drop_column"
        case r: RenamedColumn => r.version -> "rename_column"
      }.toMap ++
        m.constraints.map(_.version -> "add_constraint").toMap ++
        m.constraintDrops.map { case (v, _) => v -> "drop_constraint" }.toMap ++
        m.kinds
    val vs = versions(baseDir)
    val withDelta =
      vs.filter(v => Files.exists(Paths.get(deltaDir(baseDir, v))))
    // one job counts every version's change rows: read all delta dirs
    // under the one column every change record stores, `_op` (no
    // footer inference), and group by the file's own version, so schema
    // drift across rename/drop boundaries never touches the scan
    val counts: Map[Int, Long] =
      if (withDelta.isEmpty) Map.empty
      else spark.read
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            OpCol, org.apache.spark.sql.types.StringType))))
        .parquet(withDelta.map(deltaDir(baseDir, _)): _*)
        .select(recordVersion.as("__v"))
        .groupBy("__v").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    vs.map { v =>
      val hasDelta = Files.exists(Paths.get(deltaDir(baseDir, v)))
      val hasCp = hasCheckpoint(baseDir, v)
      val kind =
        if (v == 1) "create"
        else metaKind.getOrElse(v,
          // a manifest version whose change record a truncate
          // reclaimed: only its checkpoint anchor survives
          if (!hasDelta && hasCp) "checkpoint_anchor" else "delta")
      (v, kind, counts.getOrElse(v, 0L), hasCp,
        TableLog.census(deltaDir(baseDir, v)).bytes,
        TableLog.census(checkpointDir(baseDir, v)).bytes)
    }.toDF("version", "kind", "delta_rows", "checkpointed",
      "delta_bytes", "checkpoint_bytes")
  }

  /** RESTORE TABLE t TO VERSION — rollback as a FORWARD commit
    * (VERDICT r15 item 2): the state at `toVersion` becomes the new
    * head by committing the DIFF between head and target as an
    * ordinary delta, so history is PRESERVED (every version including
    * the bad ones still time-travels), the changelog carries the
    * restoring rows, and downstream incremental MVs (q66b/t30) keep
    * folding straight through the restore. The delta is minimal —
    * upserts for keys whose target row differs from (or is missing
    * at) head, deletes for head keys the target lacks — so the commit
    * costs ∝ |rows the rollback touches|, never table size. Data is
    * restored UNDER THE CURRENT SCHEMA (the target state projects
    * forward through any add/drop/rename between the two versions);
    * constraints active at head validate the restoring rows like any
    * other write — a restore that would violate one fails loudly with
    * nothing committed. The commit records kind `restore` for the
    * audit view (written after the publish, the addColumn crash
    * ordering: a crash between the two leaves a correct restore
    * commit labeled `delta` — an audit-label blemish, never a data
    * defect). Returns the new version. */
  def restore(spark: SparkSession, baseDir: String, toVersion: Int): Int = {
    val m = meta(baseDir)
    val current = latestVersion(baseDir)
    require(versions(baseDir).contains(toVersion) && toVersion < current,
      s"DeltaChain.restore: need a committed toVersion below the head " +
        s"($current), got $toVersion of ${versions(baseDir).mkString("[", ",", "]")}")
    val tableCols = tableColsAt(spark, baseDir, m, current)
    // Changelog inversion (guide §2.3 "shuffle fewer bytes"; VERDICT
    // r16's filed asymptotic soft spot): the restoring delta depends
    // ONLY on keys touched in (toVersion, current] — an untouched key
    // is identical in both states by definition. The old form computed
    // two full readAsOf states and diffed them with exceptAll + an
    // anti-join: ~five table-scale shuffles (exceptAll hashes FULL
    // rows of both states) to find a diff that is usually tiny. Here
    // ONE pass over the same artifacts (anchor checkpoint + deltas —
    // exactly what the two readAsOf calls already required, so no new
    // fallback window is needed) is semi-join-pruned to touched keys —
    // the rows above toVersion of the same delta frame the pass reads,
    // one scan per run — BEFORE its only shuffle, then a single per-key
    // aggregate recovers both endpoint states: the latest record
    // at-or-below toVersion is the key's state at toVersion (absent when
    // none or deleted), the latest record overall is its state at head. Rows
    // emitted are EXACTLY the old form's: upsert the toVersion row
    // where it differs from (or is missing at) head; delete head keys
    // the target lacks. Shuffled bytes ∝ rows touched since
    // toVersion, never table size; the checkpoint is scanned (not
    // shuffled) once.
    val cpv = diskCheckpoints(baseDir).filter(_ <= toVersion).max
    val pay = struct(tableCols.map(col): _*)
    val deltas = deltaRecords(spark, baseDir, m, cpv, current, tableCols)
    val grouped =
      records(checkpointRows(spark, baseDir, m, cpv, current, tableCols), cpv, deltas)
      .join(touchedKeys(deltas, m.keys, toVersion), m.keys, "left_semi")
      .groupBy(m.keys.map(col): _*)
      .agg(
        max_by(struct(col(OpCol).as("op"), pay.as("p")),
          when(col("_seq") <= toVersion, col("_seq"))).as("o"),
        max_by(struct(col(OpCol).as("op"), pay.as("p")),
          col("_seq")).as("h"))
    val oldPresent = col("o").isNotNull && col("o.op") =!= "D"
    val newPresent = col("h").isNotNull && col("h.op") =!= "D"
    // one pass over the aggregate: an upsert carries the target row,
    // a delete the head row
    val del = "__graft_restore_del"
    val restoring = grouped
      .where((oldPresent && (!newPresent || !(col("o.p") <=> col("h.p")))) ||
        (!oldPresent && newPresent))
      .select(when(oldPresent, col("o.p")).otherwise(col("h.p")).as("__p"),
        (!oldPresent).as(del))
      .select(col("__p.*"), col(del))
    commitStaged(spark, baseDir, restoring, Some(del), "DeltaChain.restore",
      Some("restore"))
  }

  /** Per-commit storage census: version, kind, file count, bytes for
    * the delta and (when present) checkpoint dirs — the evidence that
    * commit cost tracks the delta, not the table (directory listings
    * only; no data read). */
  def commitBytes(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    versions(baseDir).map { v =>
      val d = TableLog.census(deltaDir(baseDir, v))
      val c = TableLog.census(checkpointDir(baseDir, v))
      (v, d.files, d.bytes, c.files, c.bytes)
    }.toDF("version", "delta_files", "delta_bytes",
      "checkpoint_files", "checkpoint_bytes")
  }
}

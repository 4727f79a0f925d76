package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DeltaChain, TableLog}

/** Packaged change-feed replication consumer (SURVEY §21.1 thread 3 —
  * the wait-for-contiguous upgrade over t29's fail-loudly stance).
  *
  * [[DeltaChain.readChangeFeedStream]] delivers whole-listing batches,
  * so commits arrive in order in practice; the one residual window is
  * a listing racing an in-flight commit, which can defer ONE version
  * to the next batch — and in pathological cases deliver v+1's file
  * in an earlier batch than v's. A bare foreachBatch replicator must
  * then either fail (t29's REQUIRE) or corrupt order. This consumer
  * HEALS instead: a version that arrives before its predecessor is
  * spilled to a side dir (one small parquet dir per pending version —
  * never driver memory, cost ∝ the gap), and every successful apply
  * drains the spill until the next gap. Liveness stays loud: a gap
  * older than `maxPendingBatches` applies is an error naming the
  * missing version — silence is never an option, only bounded
  * patience.
  *
  * Usage (the t29 shape):
  * {{{
  *   val rep = new FeedReplicator(spark, repDir, spillDir)
  *   feed.writeStream.foreachBatch { (b, _) => rep.applyBatch(b); () }
  *     .trigger(Trigger.AvailableNow()).start()
  * }}}
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); public
  * contract shape: Delta CDF consumer patterns (apply-in-commit-order
  * with at-least-once batches).
  */
final class FeedReplicator(
    spark: SparkSession,
    repDir: String,
    spillDir: String,
    maxPendingBatches: Int = 3) {

  private var applied = DeltaChain.latestVersion(repDir)
  private var gapAge = 0

  // A crash between writing a spill temp dir and its atomic move leaks
  // an orphan .tmp_v* forever — no other janitor covers spillDir
  // (DeltaChain's sweep is scoped to .stage_d_* under the table dir).
  // Swept at construction by the tables' own age-gated janitor: a
  // .tmp_v* past the gate is a dead writer's residue, and its version
  // is re-deliverable at-least-once, so deletion is safe (ADVICE r17).
  // A younger one may be another live consumer's mid-spill on a shared
  // spill dir, and survives (ADVICE r18).
  TableLog.sweepStale(spillDir, ".tmp_v")

  /** Last source version applied to the replica. */
  def lastApplied: Int = applied

  private def pendingPath(v: Int) = Paths.get(spillDir, s"v$v")

  private def commitOne(df: DataFrame): Unit = {
    // source/replica numbering must stay aligned — if the replica's
    // head ever drifts (an external writer, or a replica seeded at a
    // different version), silently incrementing `applied` would drop
    // wrong batches as "redelivery" (ADVICE r16). Checked BEFORE the
    // commit (ADVICE r17): the post-commit form detected the same drift
    // one batch late, after already committing onto the foreign head at
    // a misaligned version. Drift now fails with the replica unmutated.
    val head = DeltaChain.latestVersion(repDir)
    require(head == applied,
      s"FeedReplicator: replica $repDir is at v$head but the consumer " +
        s"has applied v$applied — replica head drifted from the source " +
        "numbering (external writer, or seeded at a different version)")
    val v = DeltaChain.commitDelta(spark, repDir,
      df.withColumn("del", col("_change_type") === "delete")
        .drop("_commit_version", "_change_type")
        .coalesce(1),
      Some("del"))
    require(v == applied + 1,
      s"FeedReplicator: replica $repDir advanced to v$v but the consumer " +
        s"expected v${applied + 1} — concurrent writer raced this commit")
    applied += 1
  }

  private def drainSpill(): Unit = {
    while (Files.exists(pendingPath(applied + 1))) {
      val p = pendingPath(applied + 1)
      commitOne(spark.read.parquet(p.toString))
      TableLog.deleteRecursively(p)
    }
  }

  /** Apply one micro-batch: in-order versions commit immediately,
    * early arrivals spill, and the spill drains whenever the gap
    * closes. Returns the last applied version. */
  def applyBatch(batch: DataFrame): Int = {
    val snap = batch.persist()
    try {
      val versions = snap.select("_commit_version").distinct()
        .collect().map(_.getInt(0)).sorted
      var progressed = false
      versions.foreach { v =>
        if (v <= applied) {
          // at-least-once redelivery of an applied version: drop it
        } else if (v == applied + 1) {
          commitOne(snap.where(col("_commit_version") === v))
          drainSpill()
          progressed = true
        } else {
          // spill atomically: write to a temp dir, rename into place —
          // a crash mid-write must never leave a partial v$N dir that
          // a later Files.exists guard would trust and drainSpill would
          // silently commit truncated (ADVICE r16). An existing dir
          // WITHOUT parquet's _SUCCESS marker is such a partial — it is
          // deleted and rewritten from this redelivery.
          val p = pendingPath(v)
          if (Files.exists(p) && !Files.exists(p.resolve("_SUCCESS")))
            TableLog.deleteRecursively(p)
          if (!Files.exists(p)) {
            val tmp = Paths.get(spillDir,
              s".tmp_v${v}_${java.util.UUID.randomUUID().toString.take(8)}")
            snap.where(col("_commit_version") === v)
              .coalesce(1)
              .write.mode("errorifexists").parquet(tmp.toString)
            Files.move(tmp, p,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
        }
      }
      // the patience clock only runs while something is actually
      // WAITING: a pure-redelivery batch (every version <= applied,
      // nothing spilled) is not a gap
      val pendingExists = TableLog.numberedDirs(spillDir, "v").nonEmpty
      if (progressed || !pendingExists) gapAge = 0
      else {
        gapAge += 1
        if (gapAge > maxPendingBatches)
          throw new IllegalStateException(
            s"FeedReplicator: v${applied + 1} still missing after $gapAge " +
              s"batches (pending: ${versions.mkString(",")}) — the source " +
              "chain may have been truncated below the resume point")
      }
      applied
    } finally { snap.unpersist(); () }
  }
}

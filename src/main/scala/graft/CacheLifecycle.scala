package graft

import org.apache.spark.sql.SparkSession

/** Block-manager hygiene BETWEEN registry queries.
  *
  * The round-11 driver bench showed lj2/ls3 — the two probes that run
  * LAST in the bench JVM — at 3–6× their fresh-JVM isolated bands with
  * zero code change, while every earlier probe stayed in band. The
  * repo's query style leaves two kinds of block-manager residue behind
  * a completed query:
  *
  *  - multi-consumer `persist()` frames (lj2's docArrs/pref, lj3's
  *    docArrs, m207's standardized table, the BPE trainer's per-round
  *    word table) that must stay cached THROUGH the caller's
  *    materialization and therefore cannot unpersist inside the query
  *    function, and
  *  - `localCheckpoint(true)` blocks (66 sites) that the ContextCleaner
  *    reclaims only after a GC notices the dropped reference.
  *
  * Across a 604-query drive that residue accumulates in the block
  * manager: storage-pool pressure evicts/steals from the unified
  * execution pool, so LATE queries inherit a degraded JVM and their
  * timings stop meaning anything. This sweep puts every drive loop
  * (Verify, Tripwire, Bench, Cli probe) back into a defined JVM state
  * after each materialization, and its counts double as leak ACCOUNTING:
  * Tripwire fails by name when a key outside [[persistAllowlist]]
  * leaves a plain (non-checkpoint) persisted RDD behind.
  */
object CacheLifecycle {

  /** What one sweep reclaimed: `plain` = persisted RDDs that are NOT
    * local checkpoints (a leak unless the key is allowlisted);
    * `checkpoints` = localCheckpoint residue (by-design transient —
    * GC-reclaimed eventually, swept here deterministically). */
  final case class Swept(plain: Int, checkpoints: Int) {
    def total: Int = plain + checkpoints
  }

  /** Registry keys whose query function persists a genuinely
    * multi-consumer frame that must stay cached through the CALLER's
    * materialization (the function returns a lazy frame; unpersisting
    * inside it would recompute the dominant lineage 2–4× at write
    * time). Every other key must leave zero plain persists behind. */
  val persistAllowlist: Set[String] = Set(
    "lj2_prefix_jaccard", // docArrs (3 consumers) + pref (2) — SurfaceR8c
    "lj3_containment",    // docArrs (3 consumers) — SurfaceR10f
    "m207_lasso_cd",      // standardized zt, 16 sweep passes — SurfaceR11h
    "lt14_bpe_merges",    // bpeLearn per-round word table — SurfaceR10
    "lp79_bpe_apply",     // same trainer via SurfaceR11g
    // MLlib-INTERNAL persists (observed by the r12 drive accounting,
    // not ours to unpersist mid-query): ALS caches its user/item
    // factor RDDs inside the fitted model; LDA's EM optimizer keeps
    // its graph RDDs cached until the model is GC'd. The sweep still
    // reclaims them right after each drive materialization.
    "m7_als",
    "m40_lda")

  /** Unpersist every persistent RDD and clear the SQL cache. Returns
    * the leak accounting. Safe ONLY between queries: unpersisting a
    * locally-checkpointed RDD truncates its lineage irrecoverably, so
    * nothing may re-read a prior query's frames after the sweep —
    * which is exactly the drive-loop contract (each iteration builds
    * its frames from scratch). `blocking = true` so the NEXT timing
    * starts from a defined block-manager state, not mid-eviction. */
  def sweep(spark: SparkSession): Swept = {
    val snapshot = spark.sparkContext.getPersistentRDDs.values.toList
    val (ck, plain) = snapshot.partition(
      org.apache.spark.rdd.GraftRddInspect.isLocalCheckpoint)
    spark.catalog.clearCache() // Dataset-level cache entries (df.persist)
    snapshot.foreach(_.unpersist(blocking = true))
    Swept(plain.size, ck.size)
  }
}

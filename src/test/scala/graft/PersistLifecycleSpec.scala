package graft

/** Persist/localCheckpoint lifecycle audit (VERDICT r11 item 2).
  *
  * Every drive loop (Verify/Tripwire/Bench/Cli probe) now sweeps the
  * block manager between queries via [[CacheLifecycle.sweep]]. This spec
  * pins the CONTRACT that sweep relies on:
  *
  *  - the keys on [[CacheLifecycle.persistAllowlist]] really do leave
  *    plain persisted frames behind (so the allowlist documents live
  *    behavior, not history);
  *  - a self-cleaning persist site (x14, ProductQuantizer's fit input)
  *    leaves NOTHING plain behind — if one regresses, it must either
  *    be fixed or explicitly allowlisted in the diff;
  *  - after a sweep the block manager is EMPTY (zero persistent RDDs,
  *    zero SQL-cache entries), i.e. the next query starts from a
  *    defined JVM state;
  *  - the sweep is non-destructive for correctness: a swept query
  *    re-driven afterwards produces identical results.
  *
  * The registry-wide version of this check runs inside Tripwire (which
  * drives all entries every round and fails BY NAME on a
  * non-allowlisted plain leak); this spec keeps the mechanism itself
  * honest on a fast targeted subset.
  */
class PersistLifecycleSpec extends SparkSpec {

  private def drive(key: String): Unit =
    SparkEntry.queries(key)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  private def plainResidue(): Int =
    spark.sparkContext.getPersistentRDDs.values
      .count(r => !org.apache.spark.rdd.GraftRddInspect.isLocalCheckpoint(r))

  test("allowlisted multi-consumer queries leave plain persists; sweep clears them") {
    for (key <- Seq("lj2_prefix_jaccard", "lj3_containment")) {
      CacheLifecycle.sweep(spark)
      drive(key)
      assert(plainResidue() > 0,
        s"$key is persist-allowlisted but left no plain cached RDD — " +
          "either its persists were removed (drop it from the allowlist) " +
          "or the accounting broke")
      val swept = CacheLifecycle.sweep(spark)
      assert(swept.plain > 0)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"block manager not empty after sweeping $key")
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("self-cleaning persist sites leave no plain residue") {
    // x14 persists and unpersists around its own materialization — the
    // pattern every single-consumer persist site must follow.
    CacheLifecycle.sweep(spark)
    drive("x14_cache_reuse")
    assert(plainResidue() === 0,
      "x14_cache_reuse regressed: plain persisted RDD left behind")
    CacheLifecycle.sweep(spark)
  }

  test("sweep between drives does not change results (non-destructive)") {
    CacheLifecycle.sweep(spark)
    val fn = SparkEntry.queries("lj2_prefix_jaccard")
    val before = fn(spark, sfDir).collect().toSeq
    CacheLifecycle.sweep(spark)
    val after = fn(spark, sfDir).collect().toSeq
    assert(before === after)
    CacheLifecycle.sweep(spark)
  }

  test("localCheckpoint residue is counted separately and swept") {
    CacheLifecycle.sweep(spark)
    // lp19 global rowid goes through PrefixSum, which eagerly
    // localCheckpoints its ranged input — checkpoint residue, not a
    // plain leak.
    drive("lp19_global_rowid")
    val swept = CacheLifecycle.sweep(spark)
    assert(swept.checkpoints > 0,
      "expected localCheckpoint residue from the PrefixSum path")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("bench diagnostics: lj2 candidate count and ls3 fanout are computable and clean") {
    CacheLifecycle.sweep(spark)
    val cand = graft.queries.SurfaceR8c.lj2CandidateCount(spark, sfDir)
    assert(cand >= 0L)
    assert(plainResidue() === 0,
      "lj2CandidateCount must clean up its own persists")
    val fanout = graft.queries.SurfaceR8.ls3PostingsFanout(spark, sfDir)
    assert(fanout >= 0L)
    CacheLifecycle.sweep(spark)
  }
}

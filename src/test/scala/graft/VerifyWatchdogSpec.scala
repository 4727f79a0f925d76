package graft

import java.nio.file.Files

/** The wedged-query smoke test: Verify's budget machinery must survive
  * a DRIVER-side hang (which `cancelJobGroup` alone cannot unblock) and
  * continue with the remaining queries, and a dead query's partial
  * output must be removed, not left for the driver to score as WRONG.
  * The shared per-key run on top of it ([[QueryGuard.runKey]]) must
  * return the body's value, judge leaks by key, and sweep after every
  * run, a failed one too.
  */
class VerifyWatchdogSpec extends SparkSpec {

  test("watchdog: a driver-side wedge times out within budget; drive continues") {
    val t0 = System.nanoTime()
    // Thread.sleep stands in for awaitTermination()/an iterative driver
    // loop — no Spark job exists, so only the thread interrupt can stop it.
    val out = QueryGuard.run(spark.sparkContext, "spec-wedge", Some(2L)) {
      Thread.sleep(600000L)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    assert(out == QueryGuard.Timeout, s"expected Timeout, got $out")
    assert(wall < 30, f"watchdog returned in $wall%.1fs — must not wait out the wedge")
    // the drive continues: the next query still runs normally
    val next = QueryGuard.run(spark.sparkContext, "spec-next", Some(30L)) {
      assert(Tables.nation(spark, sfDir).count() == 25)
    }
    assert(next == QueryGuard.Ok)
  }

  test("watchdog: a failing query reports Failed with the real cause") {
    val out = QueryGuard.run(spark.sparkContext, "spec-fail", Some(30L)) {
      throw new IllegalArgumentException("boom")
    }
    out match {
      case QueryGuard.Failed(e) => assert(e.getMessage == "boom")
      case other => fail(s"expected Failed, got $other")
    }
  }

  test("watchdog: an in-budget query passes through untouched") {
    @volatile var ran = false
    val out = QueryGuard.run(spark.sparkContext, "spec-ok", Some(30L)) { ran = true }
    assert(out == QueryGuard.Ok && ran)
  }

  test("deleteRec removes a nested partial-output directory") {
    val root = Files.createTempDirectory("graft_delrec").toFile
    val sub = new java.io.File(root, "part=0"); sub.mkdirs()
    Files.writeString(new java.io.File(sub, "x.parquet").toPath, "partial")
    QueryGuard.deleteRec(root)
    assert(!root.exists())
  }

  test("runKey: the value comes back, leaks are judged by key, the sweep runs even on failure") {
    CacheLifecycle.sweep(spark) // start from an empty block manager
    def persisted() = { val df = spark.range(10).toDF("x").persist(); df.count(); df }
    def empty() = spark.sparkContext.getPersistentRDDs.isEmpty
    val leaky = QueryGuard.runKey(spark, "spec", "spec_leaky", Some(30L))(persisted().count())
    assert(leaky.outcome == QueryGuard.Ok && leaky.value.contains(10L) && leaky.wallS > 0)
    assert(leaky.leakedPersists == 1 && empty())
    val allowed = QueryGuard.runKey(spark, "spec", "lj2_prefix_jaccard", Some(30L))(persisted())
    assert(allowed.outcome == QueryGuard.Ok && allowed.leakedPersists == 0 && empty())
    val failed = QueryGuard.runKey(spark, "spec", "spec_failing", Some(30L)) {
      persisted(); throw new IllegalArgumentException("boom")
    }
    failed.outcome match {
      case QueryGuard.Failed(e) => assert(e.getMessage == "boom")
      case other => fail(s"expected Failed, got $other")
    }
    assert(failed.value.isEmpty && failed.leakedPersists == 1 && empty())
    assert(intercept[IllegalArgumentException](failed.get).getMessage == "boom")
  }
}

package graft

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._

/** Laws for [[graft.streaming.FeedReplicator]] — the
  * wait-for-contiguous change-feed consumer (SURVEY §21.1 thread 3).
  * Out-of-order and redelivered batches HEAL (early versions spill,
  * the gap drains on close), a never-closing gap fails loudly naming
  * the missing version, and the end-to-end streamed path reproduces
  * the source exactly.
  */
class FeedReplicatorSpec extends SparkSpec {
  import operators.DeltaChain
  import streaming.FeedReplicator

  private def fresh(tag: String): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_frep_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    QueryGuard.deleteRecOnExit(f)
    f.getAbsolutePath
  }

  private def mkSource(root: String): Unit = {
    import spark.implicits._
    DeltaChain.create(root, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      Seq("k"), checkpointEvery = 100)
    DeltaChain.commitDelta(spark, root,
      Seq((1L, 11L, false), (2L, 0L, true)).toDF("k", "n", "del"), Some("del"))
    DeltaChain.commitDelta(spark, root,
      Seq((3L, 30L)).toDF("k", "n"))
    DeltaChain.commitDelta(spark, root,
      Seq((1L, 12L)).toDF("k", "n"))
  }

  test("out-of-order and redelivered batches heal; replica converges exactly") {
    import spark.implicits._
    val src = fresh("src"); val rep = fresh("rep"); val spill = fresh("spill")
    mkSource(src)
    DeltaChain.create(rep, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      Seq("k"), checkpointEvery = 100)
    val r = new FeedReplicator(spark, rep, spill)
    def feedAt(v: Int) = DeltaChain.changelog(spark, src, v - 1, v)
    // v3 arrives FIRST (the pathological listing race), then v2 closes
    // the gap (draining v3), then v4; v2 is also REDELIVERED after
    assert(r.applyBatch(feedAt(3)) === 1) // spilled, nothing applied
    assert(r.applyBatch(feedAt(2)) === 3) // applies v2, drains v3
    assert(r.applyBatch(feedAt(2)) === 3) // redelivery: dropped
    assert(r.applyBatch(feedAt(4)) === 4)
    val srcHead = DeltaChain.read(spark, src)
    val repHead = DeltaChain.read(spark, rep)
    assert(srcHead.exceptAll(repHead).count() +
      repHead.exceptAll(srcHead).count() === 0)
  }

  test("pure redelivery never runs the patience clock") {
    import spark.implicits._
    val src = fresh("src4"); val rep = fresh("rep4"); val spill = fresh("spill4")
    mkSource(src)
    DeltaChain.create(rep, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      Seq("k"), checkpointEvery = 100)
    val r = new FeedReplicator(spark, rep, spill, maxPendingBatches = 1)
    def feedAt(v: Int) = DeltaChain.changelog(spark, src, v - 1, v)
    assert(r.applyBatch(feedAt(2)) === 2)
    // redeliver v2 more times than the patience bound: nothing is
    // pending, so the bound must never trip
    (1 to 4).foreach(_ => assert(r.applyBatch(feedAt(2)) === 2))
    assert(r.applyBatch(feedAt(3)) === 3)
  }

  test("a gap that never closes fails loudly naming the missing version") {
    import spark.implicits._
    val src = fresh("src2"); val rep = fresh("rep2"); val spill = fresh("spill2")
    mkSource(src)
    DeltaChain.create(rep, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      Seq("k"), checkpointEvery = 100)
    val r = new FeedReplicator(spark, rep, spill, maxPendingBatches = 2)
    def feedAt(v: Int) = DeltaChain.changelog(spark, src, v - 1, v)
    r.applyBatch(feedAt(3))
    r.applyBatch(feedAt(3))
    val e = intercept[IllegalStateException] { r.applyBatch(feedAt(3)) }
    assert(e.getMessage.contains("v2"))
  }

  test("a crash-partial spill dir is healed from redelivery, never committed truncated") {
    import spark.implicits._
    val src = fresh("src5"); val rep = fresh("rep5"); val spill = fresh("spill5")
    mkSource(src)
    DeltaChain.create(rep, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      Seq("k"), checkpointEvery = 100)
    // simulate a crash mid-spill: a v3 dir EXISTS but has no _SUCCESS
    // and holds truncated content (ADVICE r16 — the old exists-guard
    // trusted it and drainSpill silently committed the partial rows)
    val partial = new java.io.File(spill, "v3")
    assert(partial.mkdirs())
    java.nio.file.Files.write(partial.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))
    val r = new FeedReplicator(spark, rep, spill)
    def feedAt(v: Int) = DeltaChain.changelog(spark, src, v - 1, v)
    r.applyBatch(feedAt(3)) // redelivery must REPLACE the partial spill
    assert(r.applyBatch(feedAt(2)) === 3) // gap closes, v3 drains complete
    assert(DeltaChain.readAsOf(spark, rep, 3)
      .where(col("k") === 3L).select("n").collect().map(_.getLong(0)).toSeq
      === Seq(30L))
  }

  test("replica head drift fails loudly instead of silently misaligning versions") {
    import spark.implicits._
    val src = fresh("src6"); val rep = fresh("rep6"); val spill = fresh("spill6")
    mkSource(src)
    DeltaChain.create(rep, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      Seq("k"), checkpointEvery = 100)
    val r = new FeedReplicator(spark, rep, spill)
    def feedAt(v: Int) = DeltaChain.changelog(spark, src, v - 1, v)
    assert(r.applyBatch(feedAt(2)) === 2)
    // an EXTERNAL writer advances the replica behind the consumer's back
    DeltaChain.commitDelta(spark, rep, Seq((9L, 90L)).toDF("k", "n"))
    val e = intercept[IllegalArgumentException] { r.applyBatch(feedAt(3)) }
    assert(e.getMessage.contains("drifted"))
    // ADVICE r17: drift must be detected BEFORE committing — the old
    // post-commit require had already committed one batch onto the
    // foreign head (v4) by the time it fired. The replica head must
    // still be the external writer's v3, with no v4 delta on disk.
    assert(DeltaChain.latestVersion(rep) === 3)
    assert(!new java.io.File(rep, "d4").exists())
  }

  /** A spill temp dir holding one file, both last modified `ageMs` ago. */
  private def plantTmp(spill: String, name: String, ageMs: Long): java.io.File = {
    val d = new java.io.File(spill, name)
    assert(d.mkdirs())
    val f = d.toPath.resolve("part-00000.parquet")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
    val t = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs)
    java.nio.file.Files.setLastModifiedTime(f, t)
    java.nio.file.Files.setLastModifiedTime(d.toPath, t)
    d
  }

  test("stale spill temp dirs from a dead writer are swept at construction") {
    import spark.implicits._
    val src = fresh("src7"); val rep = fresh("rep7"); val spill = fresh("spill7")
    mkSource(src)
    DeltaChain.create(rep, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      Seq("k"), checkpointEvery = 100)
    // a crash between the spill write and its atomic move leaves an
    // orphan .tmp_v* dir no janitor covered (ADVICE r17) — simulate one,
    // past the staging janitor's age gate
    val stale = plantTmp(spill, ".tmp_v3_deadbeef", ageMs = 48L * 3600 * 1000)
    val r = new FeedReplicator(spark, rep, spill)
    assert(!stale.exists(), "construction must sweep dead .tmp_v* residue")
    // a fresh .tmp_v* may be another live consumer's mid-spill on the
    // same spill dir (ADVICE r18): a second construction must leave it
    val live = plantTmp(spill, ".tmp_v4_live1234", ageMs = 0)
    new FeedReplicator(spark, rep, spill)
    assert(live.exists(), "the age gate must protect a live consumer's spill")
    // and the consumer still works end to end afterwards
    def feedAt(v: Int) = DeltaChain.changelog(spark, src, v - 1, v)
    assert(r.applyBatch(feedAt(2)) === 2)
  }

  test("end-to-end: the streamed feed through the replicator == the source head") {
    import spark.implicits._
    val src = fresh("src3"); val rep = fresh("rep3")
    val spill = fresh("spill3"); val ck = fresh("ck3")
    mkSource(src)
    DeltaChain.create(rep, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      Seq("k"), checkpointEvery = 100)
    val r = new FeedReplicator(spark, rep, spill)
    val q = DeltaChain.readChangeFeedStream(spark, src, fromVersion = 1)
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        r.applyBatch(b); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000L), "replicator drain expired")
    assert(r.lastApplied === DeltaChain.latestVersion(src))
    val srcHead = DeltaChain.read(spark, src)
    val repHead = DeltaChain.read(spark, rep)
    assert(srcHead.exceptAll(repHead).count() +
      repHead.exceptAll(srcHead).count() === 0)
  }
}

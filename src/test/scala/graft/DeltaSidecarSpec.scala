package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ListenerBridge

/** Laws of DeltaChain's recorded schemas: every chain directory carries
  * a `_graft_schema` sidecar, and a read of a directory that has one
  * starts no footer-inference job. A chain laid out as before sidecars
  * existed (DDL sidecars on checkpoints only, none on deltas) reads
  * through the footer, and must read exactly the same.
  */
class DeltaSidecarSpec extends SparkSpec {
  import operators.DeltaChain
  import ChainLayouts.{hashed, legacyCopy, sidecars}

  private def freshRoot(): String = ChainLayouts.freshRoot("graft_sidecar")

  /** Runs `body` under a fresh job group and returns the call sites of
    * the jobs it started: (all of them, those outside any SQL
    * execution). Schema inference runs while a DataFrame is being
    * built, so it is never inside an execution; writes and collects
    * always are. */
  private def jobsOf(body: => Unit): (Seq[String], Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"sidecar-${java.util.UUID.randomUUID()}"
    val all, outside = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          val site = e.stageInfos.map(_.name).mkString(",")
          all.add(site)
          if (e.properties.getProperty("spark.sql.execution.id") == null)
            outside.add(site)
        }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "sidecar law")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBridge.drain(sc)
      sc.removeSparkListener(l)
    }
    (all.asScala.toSeq, outside.asScala.toSeq)
  }

  /** Every read the chain offers at `head`, with `changesAt` at the
    * data commits `cdfAt`. */
  private def allReads(head: Int, cdfAt: Seq[Int])(root: String): Seq[(String, DataFrame)] =
    (1 to head).map(v => s"asOf($v)" -> DeltaChain.readAsOf(spark, root, v)) ++
      cdfAt.map(v => s"changesAt($v)" -> DeltaChain.changesAt(spark, root, v)) ++
      Seq(
        s"changelog(1,$head)" -> DeltaChain.changelog(spark, root, 1, head),
        s"changesRange(1,$head)" -> DeltaChain.changesRange(spark, root, 1, head),
        s"changesRange(${head - 1},$head)" ->
          DeltaChain.changesRange(spark, root, head - 1, head))

  private def assertSameReads(root: String, legacy: String)(
      reads: String => Seq[(String, DataFrame)]): Unit = {
    assert(DeltaChain.readChangeFeedStream(spark, root, 1).schema ===
      DeltaChain.readChangeFeedStream(spark, legacy, 1).schema)
    val (got, want) = (hashed(reads(root)), hashed(reads(legacy)))
    assert(got.keySet === want.keySet)
    got.foreach { case (n, g) =>
      assert(g === want(n), s"$n differs from the footer-inferred read")
    }
  }

  test("a read of a directory with a sidecar starts no inference job") {
    import spark.implicits._
    val root = freshRoot()
    DeltaChain.create(root, (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq("k"), checkpointEvery = 4)
    (2 to 6).foreach { i =>
      DeltaChain.commitDelta(spark, root,
        Seq((i.toLong, s"u$i", false), (i + 10L, "", true), (100L + i, s"n$i", false))
          .toDF("k", "v", "del"), Some("del"))
    }
    // v5 checkpointed; every chain dir and nothing else holds a sidecar
    assert(sidecars(root).map(_.getParent.getFileName.toString).sorted ===
      Seq("c1", "c5", "d2", "d3", "d4", "d5", "d6"))
    val (built, _) = jobsOf {
      DeltaChain.readAsOf(spark, root, 4)
      DeltaChain.readAsOf(spark, root, 6)
      DeltaChain.changesRange(spark, root, 1, 6)
      DeltaChain.changesRange(spark, root, 5, 6)
      DeltaChain.changelog(spark, root, 2, 6)
      DeltaChain.changesAt(spark, root, 6)
      DeltaChain.readChangeFeedStream(spark, root, 1)
    }
    assert(built.isEmpty, s"building reads started jobs: ${built.mkString("; ")}")
    // two commits and a restore (which lands the v9 checkpoint) run
    // only writes and validation aggregates — no job outside an SQL
    // execution
    val (ran, outside) = jobsOf {
      DeltaChain.commitDelta(spark, root, Seq((1L, "w")).toDF("k", "v"))
      DeltaChain.commitDelta(spark, root, Seq((2L, "w")).toDF("k", "v"))
      DeltaChain.restore(spark, root, 2)
    }
    assert(ran.nonEmpty)
    assert(outside.isEmpty, s"inference jobs during commits: ${outside.mkString("; ")}")
    assert(DeltaChain.readAsOf(spark, root, 9).as[(Long, String)].collect().toMap ===
      DeltaChain.readAsOf(spark, root, 2).as[(Long, String)].collect().toMap)
  }

  test("a chain without delta sidecars reads through the footer, identically") {
    import spark.implicits._
    val root = freshRoot()
    DeltaChain.create(root, (1L to 30L).map(k => (k, k * 10, s"s$k")).toDF("k", "n", "s"),
      Seq("k"), checkpointEvery = 3)
    (2 to 5).foreach { i =>
      DeltaChain.commitDelta(spark, root,
        Seq((i.toLong, i * 7L, s"u$i", false), (i + 20L, 0L, "", true),
          (50L + i, i.toLong, s"n$i", false)).toDF("k", "n", "s", "del"), Some("del"))
    }
    val legacy = legacyCopy(root)
    assert(sidecars(legacy).size === 2) // c1 and c4, in DDL
    assertSameReads(root, legacy)(allReads(5, Seq(3, 5)))
    // both forms keep committing: on the legacy chain a commit and a
    // restore read the footers of the deltas they replay, write JSON
    // sidecars, and land the same state
    Seq(root, legacy).foreach { r =>
      DeltaChain.commitDelta(spark, r, Seq((1L, -1L, "z")).toDF("k", "n", "s"))
      DeltaChain.restore(spark, r, 3)
    }
    assertSameReads(root, legacy)(r => Seq(
      "asOf(7)" -> DeltaChain.readAsOf(spark, r, 7),
      "changesRange(5,7)" -> DeltaChain.changesRange(spark, r, 5, 7)))
  }

  test("a chain across add, rename and drop column reads identically without delta sidecars") {
    import spark.implicits._
    val root = freshRoot()
    DeltaChain.create(root, (1L to 12L).map(k => (k, k * 2, k * 3)).toDF("k", "a", "b"),
      Seq("k"), checkpointEvery = 3)
    DeltaChain.commitDelta(spark, root, Seq((1L, 100L, 101L)).toDF("k", "a", "b"))  // v2
    DeltaChain.addColumn(spark, root, "c", "k * 5")                                 // v3
    DeltaChain.commitDelta(spark, root,
      Seq((2L, 200L, 201L, 7L), (13L, 1L, 2L, 3L)).toDF("k", "a", "b", "c"))       // v4, cp
    DeltaChain.renameColumn(spark, root, "b", "b2")                                 // v5
    DeltaChain.commitDelta(spark, root,
      Seq((3L, 300L, 301L, 8L, true)).toDF("k", "a", "b2", "c", "del"), Some("del")) // v6
    DeltaChain.dropColumn(spark, root, "a")                                         // v7
    DeltaChain.commitDelta(spark, root, Seq((4L, 401L, 9L)).toDF("k", "b2", "c"))   // v8, cp
    assert(DeltaChain.read(spark, root).columns.toSeq === Seq("k", "b2", "c"))
    // a rename or drop commit changes no row and reads in its own shape
    Seq(5, 7).foreach { v =>
      val feed = DeltaChain.changesAt(spark, root, v)
      assert(feed.columns.toSeq ===
        DeltaChain.readAsOf(spark, root, v).columns.toSeq :+ "_change_type")
      assert(feed.isEmpty, s"changesAt($v)")
    }
    assertSameReads(root, legacyCopy(root))(allReads(8, 2 to 8))
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Laws of DeltaChain's merge-on-read replay: the anchor checkpoint is
  * scanned once and probed by an anti-join against the deltas' keys,
  * the deltas alone are folded, and each run of deltas that share a
  * recorded schema is one scan. The reference is the whole-history
  * form, rebuilt here from per-directory reads: [[Upsert.applyCdc]]
  * over checkpoint ∪ every delta for time travel, the per-key `lag`
  * pass over the same stream for the change range, and the state diff
  * for restore. Every chain is seeded and random, and carries deletes,
  * deletes of absent keys and a re-insert after a delete.
  */
class MergeOnReadSpec extends SparkSpec {
  import operators.{DeltaChain, Upsert}
  import ChainLayouts.{copyTree, legacyCopy}

  private def freshRoot(): String = ChainLayouts.freshRoot("graft_mor")

  private def sidecar(dir: String): Option[String] = {
    val p = Paths.get(dir, "_graft_schema")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8")) else None
  }

  /** The whole-history form every read took before merge-on-read: each
    * chain directory read on its own, every replay one fold over
    * checkpoint ∪ deltas. */
  private object Ref {
    def dirs(root: String, prefix: String): Seq[Int] =
      operators.TableLog.numberedDirs(root, prefix)

    def read(dir: String): DataFrame = sidecar(dir) match {
      case Some(s) if s.startsWith("{") =>
        spark.read.schema(DataType.fromJson(s).asInstanceOf[StructType]).parquet(dir)
      case Some(s) => spark.read.schema(StructType.fromDDL(s)).parquet(dir)
      case None => spark.read.parquet(dir)
    }

    def events(root: String, from: Int, to: Int): Seq[DeltaChain.SchemaEvent] =
      DeltaChain.meta(root).schemaEvents.filter(e => e.version > from && e.version <= to)

    def project(df: DataFrame, root: String, storedV: Int, upTo: Int): DataFrame =
      events(root, storedV, upTo).foldLeft(df) {
        case (d, DeltaChain.AddedColumn(_, n, dflt)) =>
          if (d.columns.contains(n)) d else d.withColumn(n, expr(dflt))
        case (d, DeltaChain.DroppedColumn(_, n)) => d.drop(n)
        case (d, DeltaChain.RenamedColumn(_, f, t)) => d.withColumnRenamed(f, t)
      }

    def anchor(root: String, v: Int): Int = dirs(root, "c").filter(_ <= v).max

    def cols(root: String, v: Int): Seq[String] = {
      val cp = anchor(root, v)
      project(read(s"$root/c$cp"), root, cp, v).columns.toSeq
    }

    def records(root: String, cp: Int, to: Int, tableCols: Seq[String]): DataFrame =
      ((cp + 1) to to).map { v =>
        project(read(s"$root/d$v"), root, v, to)
          .select(tableCols.map(col) :+ col("_op"): _*).withColumn("_seq", lit(v))
      }.foldLeft(project(read(s"$root/c$cp"), root, cp, to)
        .select(tableCols.map(col) :+ lit("I").as("_op"): _*)
        .withColumn("_seq", lit(cp)))(_.unionByName(_))

    def asOf(root: String, v: Int): DataFrame =
      if (dirs(root, "c").contains(v)) read(s"$root/c$v")
      else {
        val keys = DeltaChain.meta(root).keys
        val tableCols = cols(root, v)
        Upsert.applyCdc(records(root, anchor(root, v), v, tableCols), keys, "_seq", "_op")
          .select(tableCols.map(col): _*)
      }

    def changesRange(root: String, from: Int, to: Int): DataFrame = {
      val keys = DeltaChain.meta(root).keys
      val tableCols = cols(root, to)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(col("_seq"))
      val withPrev = records(root, anchor(root, from), to, tableCols).select(
        (tableCols.map(col) :+ col("_op") :+ col("_seq")) ++
          tableCols.map(c => lag(col(c), 1).over(w).as(s"__prev_$c")) :+
          lag(col("_op"), 1).over(w).as("__prev_op"): _*)
      val present = col("__prev_op").isNotNull && col("__prev_op") =!= "D"
      def payload(f: String => org.apache.spark.sql.Column) =
        struct(tableCols.map(c => f(c).as(c)): _*)
      def change(tag: String, p: org.apache.spark.sql.Column) =
        struct(lit(tag).as("_t"), p.as("_p"))
      val changes = filter(array(
        when(col("_op") === "U" && !present, change("insert", payload(col))),
        when(col("_op") === "U" && present,
          change("update_preimage", payload(c => col(s"__prev_$c")))),
        when(col("_op") === "U" && present, change("update_postimage", payload(col))),
        when(col("_op") === "D" && present,
          change("delete", payload(c => col(s"__prev_$c"))))), _.isNotNull)
      withPrev.where(col("_seq") > from)
        .select(col("_seq").as("_commit_version"), explode(changes).as("_c"))
        .select(tableCols.map(c => col(s"_c._p.$c").as(c)) :+
          col("_c._t").as("_change_type") :+ col("_commit_version"): _*)
    }
  }

  /** Time travel at every version, the change range over `windows`,
    * and a restore to every earlier version (each on its own copy of
    * the chain) all equal the whole-history reference. A restore is
    * judged twice: its committed change record against the state diff
    * of head and target, and the new head against the target state. */
  private def assertLaw(root: String, windows: Seq[(Int, Int)]): Unit = {
    val vs = DeltaChain.versions(root)
    val head = vs.max
    val headCols = Ref.cols(root, head)
    val keys = DeltaChain.meta(root).keys
    val pairs =
      vs.map(v => s"asOf($v)" -> (DeltaChain.readAsOf(spark, root, v), Ref.asOf(root, v))) ++
      windows.map { case (f, t) =>
        s"changesRange($f,$t)" ->
          (DeltaChain.changesRange(spark, root, f, t), Ref.changesRange(root, f, t))
      } ++
      vs.filter(_ < head).flatMap { t =>
        val copy = copyTree(root)
        val v = DeltaChain.restore(spark, copy, t)
        val target = Ref.project(Ref.asOf(root, t), root, t, head).select(headCols.map(col): _*)
        val now = Ref.asOf(root, head)
        val diff = target.exceptAll(now).withColumn("_op", lit("U"))
          .unionByName(now.join(target.select(keys.map(col): _*), keys, "left_anti")
            .select(headCols.map(col): _*).withColumn("_op", lit("D")))
        Seq(s"restore($t) record" ->
            (Ref.read(s"$copy/d$v").select(headCols.map(col) :+ col("_op"): _*), diff),
          s"restore($t) state" -> (Ref.asOf(copy, v), target))
      }
    // column names, not the schema: nullability differs between forms
    def names(h: Map[String, (StructType, Long, String)]) =
      h.map { case (n, (schema, rows, sum)) => n -> (schema.fieldNames.toSeq, rows, sum) }
    val got = names(ChainLayouts.hashed(pairs.map { case (n, (g, _)) => n -> g }))
    val want = names(ChainLayouts.hashed(pairs.map { case (n, (_, w)) => n -> w }))
    pairs.foreach { case (n, _) =>
      assert(got(n) === want(n), s"$n differs from the whole-history fold")
    }
    assert(want.values.exists(_._2 > 0))
  }

  /** Seeded random change batches over a chain's keys: upserts of live
    * and new keys, deletes of live keys, a delete of a key never
    * present, and a re-insert of the key the previous batch deleted.
    * Each row is (key, value, delete?). */
  private class Batches(seed: Long, firstKeys: Int) {
    private val rng = new scala.util.Random(seed)
    private var live = (1L to firstKeys).toSet
    private var lastDeleted = Option.empty[Long]
    def next(): Seq[(Long, Long, Boolean)] = {
      val touched = rng.shuffle(live.toSeq.sorted).take(8)
      val deleted = touched.take(3)
      val fresh = Seq.fill(3)(100000L + rng.nextInt(1000)) ++ lastDeleted
      val rows = touched.drop(3).map(k => (k, rng.nextInt(1000).toLong, false)) ++
        deleted.map(k => (k, -1L, true)) :+ ((900000L + rng.nextInt(1000), -2L, true))
      val inserts = fresh.distinct.filterNot(k => live(k) || touched.contains(k))
        .map(k => (k, rng.nextInt(1000).toLong, false))
      live = live ++ inserts.map(_._1) -- deleted
      lastDeleted = deleted.headOption
      rows ++ inserts
    }
  }

  private val baseKeys = 2000

  /** Unpartitioned, checkpoint every 4: data commits across the c5 and
    * c9 checkpoints, an added column at v4 and a rename at v7. */
  private lazy val plainChain: String = {
    import spark.implicits._
    val root = freshRoot()
    val b = new Batches(11L, baseKeys)
    DeltaChain.create(root, (1L to baseKeys).map(k => (k, k * 10, s"s$k")).toDF("k", "a", "s")
      .repartition(2), Seq("k"), checkpointEvery = 4)
    def commit(sCol: String, withB: Boolean): Unit = {
      val df = b.next().map { case (k, n, d) => (k, n, s"t$n", d) }.toDF("k", "a", sCol, "del")
      DeltaChain.commitDelta(spark, root,
        if (withB) df.withColumn("b", col("a") * 3) else df, Some("del"))
    }
    Seq(2, 3).foreach(_ => commit("s", withB = false))
    DeltaChain.addColumn(spark, root, "b", "a * 2")                        // v4
    Seq(5, 6).foreach(_ => commit("s", withB = true))                      // c5
    DeltaChain.renameColumn(spark, root, "s", "s2")                        // v7
    (8 to 11).foreach(_ => commit("s2", withB = true))                     // c9
    assert(DeltaChain.versions(root) === (1 to 11))
    assert(Ref.dirs(root, "c") === Seq(1, 5, 9))
    root
  }

  private val plainWindows = Seq((1, 11), (2, 4), (3, 8), (5, 11), (8, 9), (10, 11))

  test("merge-on-read equals the whole-history fold across two checkpoints, an add and a rename") {
    val ranges = plainWindows.map { case (f, t) => DeltaChain.rangePruneActive(plainChain, f, t) }
    assert(ranges.contains(true) && ranges.contains(false), "both changesRange arms run")
    assertLaw(plainChain, plainWindows)
  }

  test("merge-on-read equals the whole-history fold on a partitioned chain") {
    import spark.implicits._
    val root = freshRoot()
    val b = new Batches(12L, baseKeys)
    def part(k: Long) = f"${k % 3}%02d"
    DeltaChain.create(root, (1L to baseKeys).map(k => (k, k * 10, part(k))).toDF("k", "a", "p"),
      Seq("k"), checkpointEvery = 3, partitionBy = Seq("p"))
    (2 to 7).foreach { _ =>
      DeltaChain.commitDelta(spark, root,
        b.next().map { case (k, n, d) => (k, n, part(k), d) }.toDF("k", "a", "p", "del"),
        Some("del"))
    }
    assert(Ref.dirs(root, "c") === Seq(1, 4, 7))
    assertLaw(root, Seq((1, 7), (2, 5), (4, 6), (6, 7)))
  }

  test("merge-on-read equals the whole-history fold on a chain in the pre-sidecar layout") {
    assertLaw(legacyCopy(plainChain), plainWindows)
  }

  /** Every scan of the executed plan with whether an Exchange sits
    * above it; adaptive stages are descended explicitly. */
  private def scans(
      p: SparkPlan, underExchange: Boolean = false): Seq[(FileSourceScanExec, Boolean)] =
    p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan, underExchange)
      case q: QueryStageExec => scans(q.plan, underExchange)
      case r: ReusedExchangeExec => scans(r.child, underExchange = true)
      case e: Exchange => e.children.flatMap(scans(_, underExchange = true))
      case f: FileSourceScanExec => Seq(f -> underExchange)
      case o => o.children.flatMap(scans(_, underExchange))
    }

  /** The delta runs of (cp, v]: consecutive versions with byte-identical
    * sidecars and no schema event inside. */
  private def expectedRuns(root: String, cp: Int, v: Int): Seq[Seq[Int]] = {
    val events = DeltaChain.meta(root).schemaEvents.map(_.version).toSet
    ((cp + 1) to v).foldLeft(Vector.empty[Vector[Int]]) { (runs, d) =>
      val car = sidecar(s"$root/d$d")
      runs.lastOption match {
        case Some(run) if car.isDefined && car == sidecar(s"$root/d${run.last}") && !events(d) =>
          runs.init :+ (run :+ d)
        case _ => runs :+ Vector(d)
      }
    }
  }

  test("readAsOf probes the checkpoint under no Exchange and scans each delta run once") {
    val legacy = legacyCopy(plainChain)
    val checked = Seq(plainChain, legacy).flatMap { root =>
      DeltaChain.versions(root).filterNot(Ref.dirs(root, "c").contains).map { v =>
        val df = DeltaChain.readAsOf(spark, root, v)
        df.collect()
        val all = scans(df.queryExecution.executedPlan)
        def dirsOf(f: FileSourceScanExec) = f.relation.location.rootPaths.map(_.getName)
        val (cps, deltas) = all.partition { case (f, _) => dirsOf(f).forall(_.startsWith("c")) }
        val cp = Ref.anchor(root, v)
        assert(cps.map { case (f, _) => dirsOf(f) } === Seq(Seq(s"c$cp")), s"asOf($v)")
        assert(cps.forall(!_._2), s"asOf($v): an Exchange sits above the checkpoint scan")
        val runs = expectedRuns(root, cp, v)
        assert(deltas.map { case (f, _) => dirsOf(f).map(_.drop(1).toInt).sorted }.distinct
          .sortBy(_.head) === runs, s"asOf($v): delta scans do not follow the runs")
        runs
      }
    }
    assert(checked.flatten.exists(_.size >= 2), "some run spans several versions")
  }

  test("a run stops at the parallel-listing threshold, so building a read starts no job") {
    import spark.implicits._
    val root = freshRoot()
    DeltaChain.create(root, (1L to 20L).map(k => (k, k)).toDF("k", "a"), Seq("k"),
      checkpointEvery = 100)
    (2 to 6).foreach(i => DeltaChain.commitDelta(spark, root, Seq((i.toLong, 0L)).toDF("k", "a")))
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.conf.set(key, "2")
    sc.addSparkListener(l)
    val df = try DeltaChain.readAsOf(spark, root, 6)
    finally {
      org.apache.spark.sql.graft.ListenerBridge.drain(sc)
      sc.removeSparkListener(l)
      spark.conf.unset(key)
    }
    assert(jobs.get === 0, "building the read started a job")
    df.collect()
    assert(scans(df.queryExecution.executedPlan).map(_._1.relation.location.rootPaths.size)
      .filter(_ > 1).distinct === Seq(2))
    assert(df.as[(Long, Long)].collect().toMap ===
      (1L to 20L).map(k => k -> (if (k >= 2 && k <= 6) 0L else k)).toMap)
  }
}

package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, expr}

import graft.{CacheLifecycle, GraftSession, ScaleUp, SparkEntry, Tables}
import graft.operators.DeltaChain

/** One benchmark run in one JVM: set-up, correctness gate and warm-up,
  * then a closed loop with one client thread over the seeded op sequence.
  *
  * Usage: Harness <plan.json>. The plan (written by `run.py`) names the
  * workload, the generated data directory, a work directory, the
  * measuring window, the trace flag and the op sequence. The harness
  * writes `result.json` (set-up phases, work counters, one record per
  * timed op, heap readings, CPU canary) and, when tracing, `spans.jsonl`
  * into the work directory. A failed correctness gate exits with code 3.
  */
object Harness {
  final case class Op(name: String, args: Seq[Int])
  /** op ids of the traced side probes start here, clear of loop ops */
  val ProbeOpBase = 1000000
  final case class OpRecord(seq: Int, name: String, kind: String, traced: Boolean,
      startNs: Long, endNs: Long, ok: Boolean, error: String,
      bytes: Long, files: Long)

  /** The lakehouse table: sf0.1 orders keyed by order, price in cents. */
  def lakeBase(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT)").as("qprice"))

  /** A seeded upsert batch: every order with key % m == r gets +m cents. */
  def lakeDelta(spark: SparkSession, dir: String, m: Int, r: Int): DataFrame =
    lakeBase(spark, dir).where(col("o_orderkey") % m === r)
      .withColumn("qprice", col("qprice") + m.toLong)

  /** DuckDB expression for an order's price after the given commits. */
  private def lakePriceSql(commits: Seq[(Int, Int)]): String = {
    val cases = commits.reverse.map { case (m, r) => s"WHEN o_orderkey % $m = $r THEN $m" }
    val bump = if (cases.isEmpty) "0" else cases.mkString("CASE ", " ", " ELSE 0 END")
    s"CAST(floor(o_totalprice * 100 + 5e-1) AS BIGINT) + $bump"
  }

  /** DuckDB SQL for the lakehouse state after the given commits. */
  def lakeOracleSql(commits: Seq[(Int, Int)]): String =
    s"SELECT o_orderkey, ${lakePriceSql(commits)} AS qprice FROM orders"

  /** DuckDB SQL for `changesRange(from, to)` over a chain created at
    * version 1 whose commit j (from 0) made version j + 2: each key a
    * commit in the range touched gives its price before the commit and
    * after it. */
  def lakeChangesSql(commits: Seq[(Int, Int)], from: Int, to: Int): String =
    commits.zipWithIndex.collect { case ((m, r), j) if j + 2 > from && j + 2 <= to =>
      val v = j + 2
      Seq("update_preimage" -> lakePriceSql(commits.take(j)),
        "update_postimage" -> lakePriceSql(Seq((m, r)))).map { case (tag, price) =>
        s"SELECT o_orderkey, $price AS qprice, '$tag' AS _change_type, " +
          s"CAST($v AS INTEGER) AS _commit_version FROM orders WHERE o_orderkey % $m = $r"
      }.mkString(" UNION ALL ")
    }.mkString(" UNION ALL ")

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def dirBytes(path: String): (Long, Long) = {
    val files = Option(new File(path).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.map(_.length()).sum, files.size.toLong)
  }

  /** A fixed integer loop: its wall time is a host-speed canary. */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }

  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      Seq("Old", "Tenured").exists(p.getName.contains))
  /** Old-generation usage right after forced full collections: retained
    * data, not garbage. Each reading collects twice, 100 ms apart, so
    * that Spark's context cleaner can drop what the first collection
    * released; the smallest of three readings leaves out what the cleaner
    * had not dropped yet. Read off the clock, before and after the
    * window, so the window's own collections stay in its time. */
  def oldGenLiveBytes(): Long = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    System.gc()
    oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
  }.min

  def main(args: Array[String]): Unit = {
    val plan: JsonNode = new ObjectMapper().readTree(new File(args(0)))
    val workload = plan.get("workload").asText()
    val dataDir = plan.get("data_dir").asText()
    val workDir = plan.get("work_dir").asText()
    val seconds = plan.get("seconds").asDouble()
    val trace = plan.get("trace").asInt() == 1
    val cores = plan.get("cores").asInt()
    val oracleCmd = plan.get("oracle_cmd").elements().asScala.map(_.asText()).toSeq
    val round = plan.get("round").asInt()
    val warmupRounds = plan.get("warmup_rounds").asInt()
    val textProbes = plan.get("text_probes").elements().asScala.map(_.asText()).toSeq
    val ops = plan.get("ops").elements().asScala.map { o =>
      val a = o.elements().asScala.toSeq
      Op(a.head.asText(), a.tail.map(_.asInt()))
    }.toIndexedSeq
    Files.createDirectories(Paths.get(workDir))

    val canaryBefore = canaryMs()
    val tSession = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - tSession) / 1e6

    // ---- generation the program itself performs (scaleup's decade) ----
    val tGen = System.nanoTime()
    val opDir = workload match {
      case "scaleup" =>
        val sdir = s"$workDir/scale"
        ScaleUp.scaledLineitem(spark, dataDir, 10).write.parquet(s"$sdir/lineitem.parquet")
        ScaleUp.scaledEvents(spark, dataDir, 10).write.parquet(s"$sdir/events.parquet")
        ScaleUp.scaledEmbeddings(spark, dataDir, 3).write.parquet(s"$sdir/embeddings.parquet")
        new ProcessBuilder("sync").start().waitFor()
        sdir
      case _ => dataDir
    }
    val genMs = (System.nanoTime() - tGen) / 1e6

    // ---- the ops: one public-API call each, forced by a noop write ----
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    var chain = ""
    var chains = 0
    def chainDir(n: Int) = s"$workDir/lake/c$n"
    /** Runs one op; returns (kind, bytes written, files written). */
    def runOp(op: Op, traced: Boolean, opId: Int): (String, Long, Long) = {
      val tr = if (traced) tracer else None
      def layer[T](name: String, parent: Option[Span])(body: => T): T = tr match {
        case Some(t) => t.span(name, parent, opId)(_ => body)
        case None => body
      }
      def root[T](body: Option[Span] => T): T = tr match {
        case Some(t) => t.span(s"op:${op.name}", None, opId)(s => body(Some(s)))
        case None => body(None)
      }
      if (workload != "lakehouse") root { opSpan =>
        val df = layer("construct", opSpan)(SparkEntry.queries(op.name)(spark, opDir))
        tr.foreach { t =>
          val ts = t.span("plan", opSpan, opId) { s =>
            df.queryExecution.executedPlan
            s
          }
          val ph = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            ph.get(p).foreach(x => ts.counters(s"${p}_ms") = x.durationMs.toDouble)
          }
        }
        layer("execute", opSpan)(force(df))
        (op.name, 0L, 0L)
      } else root { opSpan =>
        val name = s"lake.${op.name}"
        op.name match {
          case "create" =>
            chains += 1
            chain = chainDir(chains)
            layer(name, opSpan)(DeltaChain.create(chain, lakeBase(spark, opDir),
              Seq("o_orderkey"), 4))
            val (b, f) = dirBytes(s"$chain/c1")
            ("create", b, f)
          case "commit" | "restore" =>
            val before = DeltaChain.latestVersion(chain)
            val v = layer(name, opSpan) {
              if (op.name == "commit")
                DeltaChain.commitDelta(spark, chain, lakeDelta(spark, opDir, op.args(0), op.args(1)))
              else DeltaChain.restore(spark, chain, op.args(0))
            }
            require(v == before + 1, s"${op.name} produced version $v after $before")
            val (db, df) = dirBytes(s"$chain/d$v")
            val (cb, cf) = dirBytes(s"$chain/c$v")
            val kind = if (cf > 0) s"checkpoint_${op.name}" else op.name
            (kind, db + cb, df + cf)
          case "read_as_of" =>
            layer(name, opSpan)(force(DeltaChain.readAsOf(spark, chain, op.args(0))))
            ("read_as_of", 0L, 0L)
          case "changes_range" =>
            layer(name, opSpan)(force(DeltaChain.changesRange(spark, chain, op.args(0), op.args(1))))
            ("changes_range", 0L, 0L)
        }
      }
    }

    // the oracle starts now and waits for the gate's first output
    val oracleProc = new ProcessBuilder(oracleCmd.asJava)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()

    // ---- correctness gate and warm-up, both before the window ----
    // The gate writes each output as parquet and the oracle process checks
    // it as soon as it is written, so DuckDB runs alongside the rest of
    // set-up; its verdict is awaited before the window opens.
    val gateDir = s"$workDir/gate"
    val counters = mutable.LinkedHashMap.empty[String, Long]
    val toOracle = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(oracleProc.getOutputStream, "UTF-8"), true)
    def gateOut(name: String, df: DataFrame, sql: Option[String], equals: Option[String]): Unit = {
      val out = s"$gateDir/$name"
      df.write.mode("overwrite").parquet(out)
      toOracle.println(Json.obj(Seq("name" -> Json.str(name), "out" -> Json.str(out),
        "data" -> Json.str(opDir)) ++ sql.map("sql" -> Json.str(_)) ++
        equals.map("equals" -> Json.str(_))))
    }
    def gate(): Unit = if (workload == "lakehouse") {
      // The first warm-up cycle ran the loop's own create, seeded commits
      // and restore on chain c1. Its versions before the restore, and the
      // cycle's two reads, are checked against a DuckDB replay of the same
      // upserts; the restored head against readAsOf of the restore target.
      require(warmupRounds >= 1, "the lakehouse gate reads the first warm-up cycle's chain")
      val cycle = ops.take(round)
      def args(name: String) = cycle.find(_.name == name).get.args
      val commits = cycle.filter(_.name == "commit").map(o => (o.args(0), o.args(1)))
      val gateChain = chainDir(1)
      def asOf(v: Int) = gateOut(s"lake_as_of_$v", DeltaChain.readAsOf(spark, gateChain, v),
        Some(lakeOracleSql(commits.take(v - 1))), None)
      val target = args("restore")(0)
      Seq(1 + commits.size, args("read_as_of")(0), target).distinct.foreach(asOf)
      val Seq(from, to) = args("changes_range")
      gateOut(s"lake_changes_${from}_$to", DeltaChain.changesRange(spark, gateChain, from, to),
        Some(lakeChangesSql(commits, from, to)), None)
      gateOut("lake_restored", DeltaChain.read(spark, gateChain), None,
        Some(s"lake_as_of_$target"))
    } else {
      val oracle = SparkEntry.oracleSql
      ops.map(_.name).distinct.sorted.foreach { key =>
        gateOut(key, SparkEntry.queries(key)(spark, opDir), oracle.get(key), None)
        CacheLifecycle.sweep(spark)
      }
    }
    def warmUp(): Unit = ops.take(round * warmupRounds).foreach { op =>
      runOp(op, traced = false, -1)
      CacheLifecycle.sweep(spark)
    }
    def timedMs(body: => Unit): Double = {
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e6
    }
    // A query's gate run is its first, cold run, so the warm-up rounds
    // that follow are its second and third. The lakehouse gate reads the
    // chain that the first warm-up cycle builds, so it comes second.
    val (gateMs, warmupMs) =
      if (workload == "lakehouse") { val w = timedMs(warmUp()); (timedMs(gate()), w) }
      else { val g = timedMs(gate()); (g, timedMs(warmUp())) }
    toOracle.close()
    val tVerdict = System.nanoTime()
    val oracleExit = oracleProc.waitFor()
    val oracleMs = gateMs + (System.nanoTime() - tVerdict) / 1e6
    if (oracleExit != 0) {
      System.err.println(s"[perfbench] correctness gate FAILED (oracle exit $oracleExit)")
      spark.stop()
      sys.exit(3)
    }

    // ---- the closed loop, in whole rounds ----
    // A round is one pass over the workload's op mix (a seeded
    // permutation of the queries, or one lakehouse cycle). A new round
    // starts only if half of one (as long as the last) fits in the
    // window: the round count is the nearest whole number to the window,
    // and every run weighs every op of the mix equally. The heap's
    // retained size is read before the window and after it.
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val heapLive = mutable.ArrayBuffer(oldGenLiveBytes())
    val loopStartEpochMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    var roundStart = t0
    var lakeBroken = false
    var more = true
    while (more) {
      if (i > 0 && i % round == 0) {
        val now = System.nanoTime()
        more = now + (now - roundStart) / 2 <= deadline
        roundStart = now
      }
      if (more) {
        // a traced run traces every second op (shifted by one each round),
        // so every kind of op is timed both ways in the same JVM
        val traced = trace && (i + i / round) % 2 == 1
        val op = ops(i % ops.size)
        if (op.name == "create") lakeBroken = false
        val start = System.nanoTime()
        val rec = try {
          if (lakeBroken) throw new IllegalStateException("chain broken by an earlier failure")
          val (kind, b, f) = runOp(op, traced, i)
          OpRecord(i, op.name, kind, traced, start, System.nanoTime(), ok = true, "", b, f)
        } catch {
          case NonFatal(e) =>
            if (workload == "lakehouse") lakeBroken = true
            OpRecord(i, op.name, op.name, traced, start, System.nanoTime(), ok = false,
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300), 0L, 0L)
        }
        records += rec
        CacheLifecycle.sweep(spark)
        i += 1
      }
    }

    heapLive += oldGenLiveBytes()

    // ---- traced-only side probes, outside every op's interval ----
    val probes = mutable.ArrayBuffer.empty[OpRecord]
    tracer.foreach { t =>
      if (workload != "lakehouse") {
        // one direct Tables call per fixture the op's analyzed plan reads
        records.filter(r => r.traced && r.ok).map(_.name).distinct.foreach { key =>
          val df = SparkEntry.queries(key)(spark, opDir)
          val tables = df.queryExecution.analyzed.collect {
            case l: LogicalRelation => l.relation match {
              case h: HadoopFsRelation => h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
              case _ => Nil
            }
          }.flatten.distinct
          CacheLifecycle.sweep(spark)
          val opId = records.filter(r => r.traced && r.name == key).head.seq
          tables.foreach { name =>
            t.span(s"tables.read:$name", None, opId) { s =>
              s.detached = true
              if (name == "events") Tables.events(spark, opDir) else Tables.t(spark, opDir, name)
            }
          }
        }
      }
      if (textProbes.nonEmpty) {
        // the text operators no measured workload reaches: one traced
        // run each, plus their standing work counters
        textProbes.zipWithIndex.foreach { case (key, k) =>
          val id = ProbeOpBase + k
          val start = System.nanoTime()
          runOp(Op(key, Nil), traced = true, id)
          probes += OpRecord(id, key, key, traced = true, start, System.nanoTime(), ok = true, "", 0L, 0L)
          CacheLifecycle.sweep(spark)
        }
        counters("lj2_candidates") = graft.queries.SurfaceR8c.lj2CandidateCount(spark, opDir)
        counters("ls3_fanout") = graft.queries.SurfaceR8.ls3PostingsFanout(spark, opDir)
        CacheLifecycle.sweep(spark)
      }
    }
    val canaryAfter = canaryMs()
    tracer.foreach(_.writeJsonl(s"$workDir/spans.jsonl"))
    tracer.foreach(_.stop())

    def recJson(rs: Seq[OpRecord]) = rs.map { r =>
      Json.obj(Seq("seq" -> r.seq.toString, "name" -> Json.str(r.name),
        "kind" -> Json.str(r.kind), "traced" -> r.traced.toString,
        "start_ns" -> r.startNs.toString, "end_ns" -> r.endNs.toString,
        "ok" -> r.ok.toString, "error" -> Json.str(r.error),
        "bytes" -> r.bytes.toString, "files" -> r.files.toString))
    }
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "setup" -> Json.obj(Seq("session_ms" -> Json.num(sessionMs), "gen_ms" -> Json.num(genMs),
        "oracle_ms" -> Json.num(oracleMs), "warmup_ms" -> Json.num(warmupMs))),
      "counters" -> Json.obj(counters.toSeq.map { case (k, v) => k -> v.toString }),
      "loop_start_epoch_ms" -> loopStartEpochMs.toString,
      "heap_live_bytes" -> Json.arr(heapLive.toSeq.map(_.toString)),
      "canary_ms" -> Json.arr(Seq(Json.num(canaryBefore), Json.num(canaryAfter))),
      "ops" -> Json.arr(recJson(records.toSeq)),
      "probes" -> Json.arr(recJson(probes.toSeq))))
    Files.writeString(Paths.get(s"$workDir/result.json"), result)
    spark.stop()
  }
}

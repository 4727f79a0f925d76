package graft

/** Runtime-slope decision shared by [[Tripwire]] and its negative
  * control (ScaleSlopeSpec). A query is a slope breach when its
  * large-SF wall exceeds `cap ×` its small-SF wall, with the small
  * wall floored at `floorS` so per-query fixed overhead (session
  * dispatch, planning, JIT) cannot turn a sub-100 ms query's noise
  * into a flag. With sf0.001 → sf0.01 (10× lineitem/orders/events
  * rows) and the default cap 30, a linear operator passes with 3×
  * headroom while a quadratic one (100× work) is named.
  */
object SlopeGate {
  val DefaultCap = 30.0
  val DefaultFloorS = 0.2

  def breach(
      wSmall: Double,
      wLarge: Double,
      cap: Double = DefaultCap,
      floorS: Double = DefaultFloorS): Boolean =
    wLarge > cap * math.max(wSmall, floorS)
}

/** Registry-wide runtime gate: drive EVERY SparkEntry.queries entry at
  * a small SF under a per-query wall ceiling and FAIL BY NAME on any
  * breach. This is the tripwire round 6 lacked: the lt2 O(n²) frame ran
  * ~9 minutes at sf0.01 and silently zeroed the whole round's
  * correctness evidence — under this gate it would have been named in
  * seconds at sf0.001 and the run would have exited 1.
  *
  * Usage: runMain graft.Tripwire [sfDir]   (default /root/testdata/sf0.001)
  *   SPARK_GRAFT_TRIPWIRE_BUDGET_S  per-query ceiling, default 30
  *
  * SPARK_GRAFT_ONLY=k1,prefix2* restricts the drive to the keys
  * [[SparkEntry.select]] resolves (an entry is an exact key unless it
  * ends in `*`; exit 1 if an entry matches none) — the
  * decade-3 run (sf0.1 → the generated target/sf1) uses this to time
  * the headline + heavy-probe subset under a long budget without
  * paying an hours-long full-registry drive at 6 M rows.
  *
  * One drive loop of [[QueryGuard.runKey]] runs; the mode picks the
  * per-key check:
  *  - plain: a `noop`-format write (every operator computed, no
  *    count()-style column pruning), so a scale-killer hiding in an
  *    unaggregated column still pays its cost;
  *  - SCALE-SLOPE (round 11; a super-linear operator that is merely
  *    FAST at sf0.001 slips the ceiling): with SPARK_GRAFT_SLOPE_DIR
  *    naming a 10× fixture dir (sf0.01 from sf0.001) a key that passes
  *    reruns at that SF right after (the warmer run, biasing ratios
  *    DOWN) under SPARK_GRAFT_SLOPE_BUDGET_S (default 120), and fails BY
  *    NAME past [[SlopeGate.DefaultCap]]× its small wall;
  *  - SAME-SESSION DOUBLE DRIVE (VERDICT r13 item 5; the fresh-JVM
  *    determinism gate cannot see a key corrupting its OWN second run
  *    through session residue, like the r13 x33 temp-view leak): with
  *    SPARK_GRAFT_DOUBLE_DRIVE=1 each key runs twice in this session
  *    and the two [[Orc.contentHash]]es must match.
  * In every mode a key whose runs leave a plain persisted RDD behind is
  * an offender too — this drive is the repo-wide persist-lifecycle
  * audit (VERDICT r11 item 2). Exit 0 = no offender; 1 = offenders
  * listed on stderr, one line each.
  */
object Tripwire {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val budgetS = sys.env.get("SPARK_GRAFT_TRIPWIRE_BUDGET_S")
      .map(_.toLong).getOrElse(30L)
    val slopeDir = sys.env.get("SPARK_GRAFT_SLOPE_DIR")
    val slopeBudgetS = sys.env.get("SPARK_GRAFT_SLOPE_BUDGET_S")
      .map(_.toLong).getOrElse(120L)
    val doubleDrive = sys.env.get("SPARK_GRAFT_DOUBLE_DRIVE").contains("1")
    val queries = SparkEntry.queries
    // a misspelled SPARK_GRAFT_ONLY fails here, before any driving, so
    // the slope gate cannot record a vacuous "PASS: 0 queries"
    val selected = sys.env.get("SPARK_GRAFT_ONLY").map(SparkEntry.select(_))
      .getOrElse(queries.keys.toSeq)
    val spark = GraftSession.mainBuilder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    var slowest = ("", 0.0)

    def drive[T](name: String, tag: String, dir: String, budget: Long)(
        force: org.apache.spark.sql.DataFrame => T) =
      QueryGuard.runKey(spark, tag, name, Some(budget))(force(queries(name)(spark, dir)))
    def noop(name: String, tag: String, dir: String, budget: Long) =
      drive(name, tag, dir, budget)(_.write.format("noop").mode("overwrite").save())
    def log(name: String, line: String): Unit =
      System.err.println(s"[tripwire] $name $line")
    def offend(name: String, entry: String, line: String): Unit = {
      offenders += s"$name $entry"
      log(name, line)
    }
    // a run that timed out or failed, named with which run it was
    def unfinished(name: String, what: String, run: QueryGuard.Record[_], budget: Long): Unit =
      run.outcome match {
        case QueryGuard.Failed(e) => offend(name, s"${what}FAILED: ${e.getMessage}",
          f"${what}FAILED after ${run.wallS}%.1fs: ${e.getMessage}")
        case _ => offend(name, s"${what}TIMEOUT > ${budget}s", s"${what}TIMEOUT > ${budget}s")
      }

    selected.foreach { name =>
      val runs = if (doubleDrive) {
        val Seq(a, b) = Seq("dd-a", "dd-b").map(drive(name, _, sfDir, budgetS)(Orc.contentHash))
        (a.value, b.value) match {
          case (Some(h1), Some(h2)) if h1 == h2 =>
            log(name, f"dd ok ${a.wallS + b.wallS}%.1fs (${h1._1} rows)")
          case (Some(h1), Some(h2)) => offend(name, "SAME-SESSION NONDETERMINISM: " +
            s"drive1=(${h1._1},${h1._2}) drive2=(${h2._1},${h2._2})",
            "SAME-SESSION NONDETERMINISM")
          case (None, _) => unfinished(name, "dd drive1 ", a, budgetS)
          case _ => unfinished(name, "dd drive2 (drive1 ok) ", b, budgetS)
        }
        Seq(a, b)
      } else {
        val small = noop(name, "tripwire", sfDir, budgetS)
        val large = if (small.outcome != QueryGuard.Ok) None
          else slopeDir.map(noop(name, "slope", _, slopeBudgetS))
        val (wS, wL) = (small.wallS, large.fold(0.0)(_.wallS))
        if (small.outcome == QueryGuard.Ok && wS > slowest._2) slowest = (name, wS)
        (small.outcome, large.map(_.outcome)) match {
          case (QueryGuard.Ok, None) => log(name, f"ok $wS%.1fs")
          case (QueryGuard.Ok, Some(QueryGuard.Ok)) if SlopeGate.breach(wS, wL) =>
            offend(name, f"SLOPE $wS%.1fs -> $wL%.1fs (> ${SlopeGate.DefaultCap}%.0fx)",
              f"SLOPE BREACH $wS%.1fs -> $wL%.1fs")
          case (QueryGuard.Ok, Some(QueryGuard.Ok)) => log(name, f"ok $wS%.1fs -> $wL%.1fs")
          case (QueryGuard.Ok, _) => unfinished(name, "SLOPE ", large.get, slopeBudgetS)
          case _ => unfinished(name, "", small, budgetS)
        }
        small +: large.toSeq
      }
      val leaked = runs.map(_.leakedPersists).sum
      if (leaked > 0)
        offend(name, s"PERSIST LEAK: $leaked non-checkpoint cached RDD(s)",
          s"PERSIST LEAK: $leaked")
    }
    spark.stop()
    if (offenders.nonEmpty) {
      System.err.println(s"[tripwire] ${offenders.size} offender(s):")
      offenders.foreach(o => System.err.println(s"[tripwire]   $o"))
      sys.exit(1)
    }
    if (doubleDrive)
      println(s"[tripwire] PASS: ${selected.size} queries double-driven " +
        s"same-session, all hash-identical")
    else {
      val mode = slopeDir.map(d => s" + slope vs $d").getOrElse("")
      println(f"[tripwire] PASS: ${selected.size} queries under ${budgetS}s$mode " +
        f"(slowest ${slowest._1} ${slowest._2}%.1fs)")
    }
  }
}

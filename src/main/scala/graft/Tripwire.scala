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
  * SPARK_GRAFT_ONLY=k1,prefix2 restricts the drive to the keys
  * [[SparkEntry.select]] resolves (exit 1 if an entry matches none) — the
  * decade-3 run (sf0.1 → the generated target/sf1) uses this to time
  * the headline + heavy-probe subset under a long budget without
  * paying an hours-long full-registry drive at 6 M rows.
  *
  * SCALE-SLOPE MODE (round 11): the 30 s ceiling and the plan audit
  * catch shapes, but a super-linear operator that is merely FAST at
  * sf0.001 slips both. Set SPARK_GRAFT_SLOPE_DIR=/root/testdata/sf0.01
  * and every query ALSO runs at that second SF immediately after its
  * small-SF run (back-to-back, so the large run is the warmer of the
  * two — biasing ratios DOWN, i.e. against false positives); any query
  * whose runtime grows faster than SlopeGate's cap × data-ratio bound
  * is failed BY NAME. Knobs:
  *   SPARK_GRAFT_SLOPE_BUDGET_S  large-SF per-query ceiling, default 120
  *   SPARK_GRAFT_SLOPE_CAP       runtime-ratio cap, default 30
  *
  * Results are forced with a `noop`-format write (full computation of
  * every operator, no output, no count()-style column pruning), so a
  * scale-killer hiding in an unaggregated column still pays its cost.
  * Exit code 0 = all queries under ceiling (and slope, if enabled);
  * 1 = offenders listed on stderr, one line each.
  */
object Tripwire {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val budgetS = sys.env.get("SPARK_GRAFT_TRIPWIRE_BUDGET_S")
      .map(_.toLong).getOrElse(30L)
    val slopeDir = sys.env.get("SPARK_GRAFT_SLOPE_DIR")
    val slopeBudgetS = sys.env.get("SPARK_GRAFT_SLOPE_BUDGET_S")
      .map(_.toLong).getOrElse(120L)
    val slopeCap = sys.env.get("SPARK_GRAFT_SLOPE_CAP")
      .map(_.toDouble).getOrElse(SlopeGate.DefaultCap)
    val queries = SparkEntry.queries
    // a misspelled SPARK_GRAFT_ONLY fails here, before any driving, so
    // the slope gate cannot record a vacuous "PASS: 0 queries"
    val selected = sys.env.get("SPARK_GRAFT_ONLY").map(SparkEntry.select(_))
      .getOrElse(queries.keys.toSeq)
    val spark = GraftSession.mainBuilder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    var slowest = ("", 0.0)
    // SAME-SESSION double-drive mode (VERDICT r13 item 5): the standing
    // determinism gate drives the registry in two FRESH JVMs — it can
    // never see the class of bug where a key corrupts ITS OWN second
    // run through session residue (the r13 x33 temp-view leak was
    // caught only by accident at decade-3). With
    // SPARK_GRAFT_DOUBLE_DRIVE=1 every selected key runs twice in THIS
    // session and the two order-independent content hashes
    // ([[Orc.contentHash]], as in SpillGate) must match; a mismatch, or
    // a second run that errors where the first succeeded, fails the
    // gate BY NAME.
    val doubleDrive = sys.env.get("SPARK_GRAFT_DOUBLE_DRIVE").contains("1")
    def contentHash(name: String, slot: String): Either[String, (Long, String)] = {
      var h: Option[(Long, String)] = None
      QueryGuard.run(sc, s"dd-$slot-$name", Some(budgetS)) {
        h = Some(Orc.contentHash(queries(name)(spark, sfDir)))
      } match {
        case QueryGuard.Ok        => Right(h.get)
        case QueryGuard.Timeout   => Left(s"TIMEOUT > ${budgetS}s")
        case QueryGuard.Failed(e) => Left(s"FAILED: ${e.getMessage}")
      }
    }
    if (doubleDrive) {
      selected.foreach { name =>
        val t0 = System.nanoTime()
        val first = contentHash(name, "a")
        CacheLifecycle.sweep(spark) // defined state, but SAME session — no restart
        val second = contentHash(name, "b")
        val wall = (System.nanoTime() - t0) / 1e9
        (first, second) match {
          case (Right(a), Right(b)) if a == b =>
            System.err.println(f"[tripwire] $name dd ok $wall%.1fs (${a._1} rows)")
          case (Right(a), Right(b)) =>
            offenders += s"$name SAME-SESSION NONDETERMINISM: " +
              s"drive1=(${a._1},${a._2}) drive2=(${b._1},${b._2})"
            System.err.println(s"[tripwire] $name SAME-SESSION NONDETERMINISM")
          case (Left(e), _) =>
            offenders += s"$name dd drive1 $e"
            System.err.println(s"[tripwire] $name dd drive1 $e")
          case (_, Left(e)) =>
            offenders += s"$name dd drive2 $e (first drive succeeded — residue?)"
            System.err.println(s"[tripwire] $name dd drive2 $e")
        }
        val swept = CacheLifecycle.sweep(spark)
        if (swept.plain > 0 && !CacheLifecycle.persistAllowlist(name)) {
          offenders += s"$name PERSIST LEAK: ${swept.plain} non-checkpoint cached RDD(s)"
          System.err.println(s"[tripwire] $name PERSIST LEAK: ${swept.plain}")
        }
      }
      spark.stop()
      if (offenders.nonEmpty) {
        System.err.println(s"[tripwire] ${offenders.size} offender(s):")
        offenders.foreach(o => System.err.println(s"[tripwire]   $o"))
        sys.exit(1)
      }
      println(s"[tripwire] PASS: ${selected.size} queries double-driven " +
        s"same-session, all hash-identical")
      return
    }
    selected.foreach { name =>
      val fn = queries(name)
      val t0 = System.nanoTime()
      def wall = (System.nanoTime() - t0) / 1e9
      QueryGuard.run(sc, s"tripwire-$name", Some(budgetS)) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } match {
        case QueryGuard.Ok =>
          val wSmall = wall
          if (wSmall > slowest._2) slowest = (name, wSmall)
          slopeDir match {
            case None =>
              System.err.println(f"[tripwire] $name ok $wSmall%.1fs")
            case Some(dir) =>
              val t1 = System.nanoTime()
              def wall2 = (System.nanoTime() - t1) / 1e9
              QueryGuard.run(sc, s"slope-$name", Some(slopeBudgetS)) {
                fn(spark, dir).write.format("noop").mode("overwrite").save()
              } match {
                case QueryGuard.Ok =>
                  val wLarge = wall2
                  if (SlopeGate.breach(wSmall, wLarge, slopeCap)) {
                    offenders += f"$name SLOPE $wSmall%.1fs -> $wLarge%.1fs " +
                      f"(> ${slopeCap}%.0fx)"
                    System.err.println(
                      f"[tripwire] $name SLOPE BREACH $wSmall%.1fs -> $wLarge%.1fs")
                  } else {
                    System.err.println(
                      f"[tripwire] $name ok $wSmall%.1fs -> $wLarge%.1fs")
                  }
                case QueryGuard.Timeout =>
                  offenders += s"$name SLOPE TIMEOUT > ${slopeBudgetS}s"
                  System.err.println(
                    s"[tripwire] $name SLOPE TIMEOUT > ${slopeBudgetS}s")
                case QueryGuard.Failed(e) =>
                  offenders += s"$name SLOPE FAILED: ${e.getMessage}"
                  System.err.println(
                    f"[tripwire] $name SLOPE FAILED after $wall2%.1fs: ${e.getMessage}")
              }
          }
        case QueryGuard.Timeout =>
          offenders += s"$name TIMEOUT > ${budgetS}s"
          System.err.println(s"[tripwire] $name TIMEOUT > ${budgetS}s")
        case QueryGuard.Failed(e) =>
          offenders += s"$name FAILED: ${e.getMessage}"
          System.err.println(f"[tripwire] $name FAILED after $wall%.1fs: ${e.getMessage}")
      }
      // Registry-wide persist-lifecycle gate (VERDICT r11 item 2): this
      // drive touches EVERY entry each round, so leak accounting here IS
      // the repo-wide audit. A key that leaves a plain (non-checkpoint)
      // persisted RDD behind and is not on the named multi-consumer
      // allowlist fails the run by name; the sweep also puts the next
      // query's timing on a defined block-manager state.
      val swept = CacheLifecycle.sweep(spark)
      if (swept.plain > 0 && !CacheLifecycle.persistAllowlist(name)) {
        offenders += s"$name PERSIST LEAK: ${swept.plain} non-checkpoint cached RDD(s)"
        System.err.println(s"[tripwire] $name PERSIST LEAK: ${swept.plain}")
      }
    }
    spark.stop()
    if (offenders.nonEmpty) {
      System.err.println(s"[tripwire] ${offenders.size} offender(s):")
      offenders.foreach(o => System.err.println(s"[tripwire]   $o"))
      sys.exit(1)
    }
    val mode = slopeDir.map(d => s" + slope vs $d").getOrElse("")
    println(f"[tripwire] PASS: ${selected.size} queries under ${budgetS}s$mode " +
      f"(slowest ${slowest._1} ${slowest._2}%.1fs)")
  }
}

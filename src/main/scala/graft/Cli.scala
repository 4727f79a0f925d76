package graft

import org.apache.spark.sql.execution.FormattedMode

/** Developer tools over the registry, one subcommand each:
  *
  *  - `keys` prints every registry key, sorted, one per line, and builds
  *    no session (scripts/slope_full.sh batches the list).
  *  - `probe <key> [sfDir] [reps]` forces ONE registry query `reps` times
  *    (default 3) with a noop-format write (every column computed),
  *    each rep one [[QueryGuard.runKey]] (swept after it, so rep 1's
  *    residue neither warms nor taxes reps 2..N), and prints the walls
  *    as one JSON line. This is how BASELINE.md's isolated bands are
  *    produced: in-bench readings carry end-of-drive JVM heap state and
  *    whole-suite cache history, so their outliers are adjudicated
  *    against a fresh JVM's numbers (the lj2 lesson from r8; ls3's band
  *    is VERDICT r10 item 5). Run 1 includes session and codegen init.
  *  - `plan [sfDir] [key ...]` prints `explain("formatted")` for the named
  *    keys (default: the headline bench subset) under Bench's session
  *    confs, each between `===== PLAN key =====` / `===== END key =====`
  *    lines, so plan files committed under plans/ describe what the
  *    bench runs.
  *
  * `probe` runs on one core per available processor and `plan` on
  * `local[32]` (so its output stays comparable with plans/r17 and
  * plans/r18), unless SPARK_GRAFT_CPUS says otherwise; sfDir defaults
  * to the sf0.1 fixtures.
  *
  * Usage: runMain graft.Cli keys|probe|plan ...
  */
object Cli {
  private val DefaultSf = "/root/testdata/sf0.1"
  private val Usage = "usage: Cli keys | probe <key> [sfDir] [reps] | plan [sfDir] [key ...]"

  def main(args: Array[String]): Unit = args.toList match {
    case "keys" :: Nil => SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    case "probe" :: key :: rest => probe(key, rest.headOption.getOrElse(DefaultSf),
      rest.lift(1).map(_.toInt).getOrElse(3))
    case "plan" :: rest => plan(rest.headOption.getOrElse(DefaultSf),
      if (rest.length > 1) rest.tail else SparkEntry.benchQueries)
    case _ => sys.error(Usage)
  }

  private def probe(key: String, sfDir: String, reps: Int): Unit = {
    val fn = SparkEntry.queries.getOrElse(key, sys.error(s"unknown query key: $key"))
    val spark = GraftSession.mainBuilder(Runtime.getRuntime.availableProcessors).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val walls = (1 to reps).map { i =>
      val run = QueryGuard.runKey(spark, "probe", key, None) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      run.get
      System.err.println(f"[probe] $key run$i ${run.wallS}%.2fs")
      run.wallS
    }
    println(f"""{"probe":"$key","sf":"$sfDir","runs":[${
      walls.map(w => f"$w%.3f").mkString(",")}]}""")
    spark.stop()
  }

  private def plan(sfDir: String, keys: Seq[String]): Unit = {
    val spark = GraftSession.mainBuilder(32)
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown registry key: $name"))
      println(s"===== PLAN $name =====")
      try {
        // explainString is df.explain("formatted") returned as text, so
        // it lands in the delimited block even under log capture
        println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      } catch {
        case e: Throwable => println(s"PLAN FAILED: ${e.getMessage}")
      }
      println(s"===== END $name =====")
    }
    spark.stop()
  }
}

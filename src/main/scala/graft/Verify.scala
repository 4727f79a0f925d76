package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 6, where one slow query past the driver's time
  * budget zeroed the whole round's correctness evidence:
  *  - oracle_sql.json is written FIRST, before any query runs, so a
  *    mid-drive failure can never erase the oracle map;
  *  - per-query wall seconds are logged to stderr;
  *  - every query is one [[QueryGuard.runKey]]: the block manager is
  *    swept after it, and a plain persist left by a key outside the
  *    persist allowlist is logged as PERSIST LEAK;
  *  - every query runs on a disposable worker thread under
  *    SPARK_GRAFT_QUERY_BUDGET_S wall seconds (default 120; <=0
  *    disables) — on breach the job group is cancelled AND the worker
  *    thread interrupted (cancelJobGroup alone cannot unblock
  *    driver-side waits like streaming awaitTermination or iterative
  *    driver loops), the query is logged as TIMEOUT, and the drive
  *    CONTINUES with the remaining queries;
  *  - a timed-out or failed query's output directory is deleted, so the
  *    driver sees a MISSING result (scored as absent) instead of a
  *    partially-written parquet dir it would score as WRONG.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir>
  *   SPARK_GRAFT_ONLY=k1,prefix2*  drive only the keys
  *     [[SparkEntry.select]] resolves (and write only their slice of
  *     oracle_sql.json), so a new query family checks with
  *     `scripts/check.py` in seconds; an entry is an exact key unless
  *     it ends in `*`, and one that matches no key exits 1 before a
  *     session is built.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // default budget 120 s/query: the watchdog must engage on driver
    // runs without relying on the driver to export the env var (round-7
    // verdict #8); slowest r07 query was <10 s at sf0.01, so 120 s only
    // fires on a genuine wedge.
    val budgetS = sys.env.get("SPARK_GRAFT_QUERY_BUDGET_S")
      .map(_.toLong).orElse(Some(120L)).filter(_ > 0)
    val queries = SparkEntry.queries
    val selected = sys.env.get("SPARK_GRAFT_ONLY").map(SparkEntry.select(_))
      .getOrElse(queries.keys.toSeq)
    // local[4] by default: a double sum depends on its summation order,
    // so the oracle compare is pinned to four partitions
    val spark = GraftSession.mainBuilder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Oracle map FIRST: a hung/failed query later must not erase it.
    val json = SparkEntry.oracleSql.filter(kv => selected.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    selected.foreach { name =>
      val run = QueryGuard.runKey(spark, "verify", name, budgetS) {
        queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      run.outcome match {
        case QueryGuard.Ok =>
          // non-vacuity guard: q9b is the flagship value-bearing cosine
          // query — threshold drift silently emptying it bit once in r01
          if (name == "q9b_cosine_selfjoin_t038" &&
              spark.read.parquet(s"$outDir/$name").isEmpty)
            System.err.println(s"[verify] $name VACUOUS: 0 rows — threshold drift?")
          System.err.println(f"[verify] $name ok ${run.wallS}%.1fs")
        case QueryGuard.Timeout =>
          QueryGuard.deleteRec(new java.io.File(s"$outDir/$name"))
          System.err.println(s"[verify] $name TIMEOUT after ${budgetS.get}s — output removed, skipped")
        case QueryGuard.Failed(e) =>
          QueryGuard.deleteRec(new java.io.File(s"$outDir/$name"))
          System.err.println(f"[verify] $name failed after ${run.wallS}%.1fs: ${e.getMessage}")
      }
      if (run.leakedPersists > 0)
        System.err.println(
          s"[verify] $name PERSIST LEAK: ${run.leakedPersists} non-checkpoint cached RDD(s)")
    }
    spark.stop()
  }
}

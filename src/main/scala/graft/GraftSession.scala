package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: the one place that encodes the
  * 100 TB posture. Every main in this repo ([[mainBuilder]]), the test
  * session and the benchmark harness start from it, so a user of the
  * library runs under the configuration the engine is designed, tested
  * and measured against.
  *
  * What it pins and why (SURVEY.md §4.3):
  *  - the Graft extensions (vector kernels, bloom build/probe, as-of
  *    strategy, cosine rewrite) — the custom surface IS the library;
  *  - AQE left ON (Spark default) — runtime shuffle coalescing and
  *    skew-join splitting are the first line of defense at scale;
  *  - `nanosAsLong` — the events fixture (and any ns-precision
  *    producer) fails the vectorized parquet reader without it;
  *  - UTC session time — cross-engine timestamp determinism (§5.3);
  *  - shuffle partitions sized to the master's parallelism for local
  *    runs; ON A CLUSTER leave the default and let AQE coalesce;
  *  - a codegen class cache that holds the working set
  *    ([[CodegenCacheEntries]]);
  *  - `file:` bound to [[NioLocalFileSystem]], which sets the modes of
  *    the files and dirs a local write creates in-process instead of
  *    forking one `chmod` each.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); this is the
  * engine-configuration contract the harness mains execute against.
  */
object GraftSession {

  /** Shuffle-partition sizing rule: local masters get their own core
    * count (a 32-thread local run with 200 partitions pays 6× task
    * overhead for nothing); anything else keeps Spark's default 200 and
    * lets AQE coalesce — a driver-side guess would be wrong on every
    * differently-sized cluster. */
  def defaultShufflePartitions(master: String): Int = master match {
    case s if s.startsWith("local[") && s.endsWith("]") =>
      s.stripPrefix("local[").stripSuffix("]") match {
        case "*" => Runtime.getRuntime.availableProcessors()
        case n   => n.toInt
      }
    case "local" => 1
    case _ => 200
  }

  /** Size of the JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf; Spark's
    * default is 100). Measured working sets, as the classes compiled on
    * a first pass with an unbounded cache and none on later passes: the
    * nine headline queries 100 at both sf0.001 and sf0.1, one lakehouse
    * cycle (create, six commits, time travel, change feed, restore) 116
    * at sf0.1. Under the default, every warm headline pass evicts and
    * recompiles 49 classes, and runs code the JIT has not compiled yet:
    * the fourth noop-forced pass took 4.07 s against 3.28 s with an
    * unbounded cache (sf0.1, `local[4]`). 256 holds either working set
    * with over 2× headroom; the cache never grows past what a JVM
    * generates. Like the shuffle-partition rule, this is session
    * posture, not an option. */
  val CodegenCacheEntries = 256

  /** A builder pre-loaded with the engine's posture; callers may
    * override any config before `getOrCreate()`. */
  def builder(master: String = "local[*]", shufflePartitions: Option[Int] = None)
      : SparkSession.Builder = {
    val parallelism =
      shufflePartitions.getOrElse(defaultShufflePartitions(master))
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
  }

  /** The session of this repo's mains: [[builder]] on `local[N]` with
    * the UI off, N from `SPARK_GRAFT_CPUS` or else `defaultCpus`. A main
    * adds only the confs that belong to it. */
  def mainBuilder(defaultCpus: Int): SparkSession.Builder = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(defaultCpus)
    builder(s"local[$cpus]").config("spark.ui.enabled", "false")
  }

  /** The streaming posture on top of [[builder]]: RocksDB state store —
    * off-heap, incremental-checkpoint state is the only kind that
    * survives 100 TB keyspaces (measured per round as
    * `rocksdb_state_t6_sec` in the bench probes). */
  def streamingBuilder(master: String = "local[*]"): SparkSession.Builder =
    builder(master)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
}

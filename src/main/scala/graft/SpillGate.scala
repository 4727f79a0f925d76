package graft

/** Constrained-heap spill gate (VERDICT r12 item 4): every r12 bench
  * probe reported ZERO spill at 128 GiB, which means the spill paths
  * (UnsafeExternalSorter, shuffle ExternalSorter, hash-agg fallback)
  * were structurally untested — yet at 100 TB every one of these
  * operators spills as a matter of course. This main runs the heavy
  * probes and prints, per query, the wall seconds, the spill bytes
  * observed, and an ORDER-INDEPENDENT exact content hash of the full
  * result. `scripts/spillgate.sh` runs it twice — once at the normal
  * heap and once at a deliberately small `-Xmx` — and requires (a)
  * both runs hash-identical per query and (b) nonzero spill recorded
  * in the constrained run: surviving memory pressure is proven, not
  * assumed, and proven to not change a single row.
  *
  * The content hash is [[Orc.contentHash]]: order-independent,
  * overflow-free, and sensitive to any dropped/duplicated/altered row.
  * Each key is one [[QueryGuard.runKey]] (unbounded), which times it,
  * reads its spill and sweeps the block manager after it; a key that
  * fails stops the gate with its cause, so no JSON line is printed.
  *
  * Usage:  runMain graft.SpillGate [sfDir]   (or java -cp ... graft.SpillGate)
  *   SPARK_GRAFT_ONLY         key spec ([[SparkEntry.select]], as in
  *                            Verify and Tripwire: exact keys, or
  *                            prefixes ending in `*`), default the 4
  *                            heavy probes
  *   SPARK_GRAFT_CPUS         local[N], default 8
  *   SPARK_GRAFT_FORCE_SPILL_ELEMS  when set, every external sorter /
  *     hash-agg force-spills after N in-memory elements (Spark's
  *     numElementsForceSpillThreshold) — drives the spill code paths
  *     deterministically even when the small heap alone would ride the
  *     edge of "fits after all", without risking a flaky OOM
  * Prints one JSON line:
  *   {"max_heap_mb":N,"queries":{"<key>":{"sec":s,"rows":n,"hash":"…",
  *    "spill_mem_mb":m,"spill_disk_mb":d}},"spilled_total_mb":t}
  */
object SpillGate {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val keys = SparkEntry.select(sys.env.getOrElse("SPARK_GRAFT_ONLY",
      "lj2_prefix_jaccard,ls3_tfidf_topk,lpq_pq_ann,q2_join3"))
    val builder = GraftSession.mainBuilder(8)
      .config("spark.sql.codegen.fallback", "false")
    sys.env.get("SPARK_GRAFT_FORCE_SPILL_ELEMS").foreach { n =>
      // core sorter threshold (SortExec / shuffle ExternalSorter /
      // UnsafeExternalSorter) plus the SQL buffered-rowarray ones
      // (SMJ buffered side, window frames, cartesian builds)
      builder.config("spark.shuffle.spill.numElementsForceSpillThreshold", n)
      builder.config("spark.sql.windowExec.buffer.spill.threshold", n)
      builder.config("spark.sql.sortMergeJoinExec.buffer.spill.threshold", n)
      builder.config("spark.sql.cartesianProductExec.buffer.spill.threshold", n)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val maxHeapMb = Runtime.getRuntime.maxMemory() / (1L << 20)
    def mb(bytes: Long) = bytes / (1L << 20)

    // per key: its JSON member and its disk spill in MB, whose sum is
    // the (b) assertion input for the script
    val parts = keys.map { key =>
      val run = QueryGuard.runKey(spark, "spill", key, None) {
        Orc.contentHash(SparkEntry.queries(key)(spark, sfDir))
      }
      val (rows, hash) = run.get
      (f""""$key":{"sec":${run.wallS}%.2f,"rows":$rows,"hash":"$hash",""" +
        s""""spill_mem_mb":${mb(run.spillMemBytes)},""" +
        s""""spill_disk_mb":${mb(run.spillDiskBytes)}}""", mb(run.spillDiskBytes))
    }
    println(s"""{"max_heap_mb":$maxHeapMb,"queries":${parts.map(_._1).mkString("{", ",", "}")},"spilled_total_mb":${parts.map(_._2).sum},"sf":"$sfDir"}""")
    spark.stop()
  }
}

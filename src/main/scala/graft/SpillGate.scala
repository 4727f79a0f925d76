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
  *
  * Usage:  runMain graft.SpillGate [sfDir]   (or java -cp ... graft.SpillGate)
  *   SPARK_GRAFT_SPILL_KEYS   key spec ([[SparkEntry.select]]), default
  *                            the 4 heavy probes
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
    val keys = SparkEntry.select(sys.env.getOrElse("SPARK_GRAFT_SPILL_KEYS",
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
    val tally = org.apache.spark.sql.graft.ListenerBridge.register(spark.sparkContext)
    val maxHeapMb = Runtime.getRuntime.maxMemory() / (1L << 20)

    val parts = keys.map { key =>
      CacheLifecycle.sweep(spark)
      tally.reset()
      val t0 = System.nanoTime()
      val (rows, hash) = Orc.contentHash(SparkEntry.queries(key)(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
      f""""$key":{"sec":$sec%.2f,"rows":$rows,"hash":"$hash",""" +
        s""""spill_mem_mb":${tally.memSpilled.get / (1L << 20)},""" +
        s""""spill_disk_mb":${tally.diskSpilled.get / (1L << 20)}}"""
    }
    // total spill across the run, the (b) assertion input for the script
    val totalRe = """"spill_disk_mb":(\d+)""".r
    val totalDisk = parts.flatMap(p =>
      totalRe.findAllMatchIn(p).map(_.group(1).toLong)).sum
    println(s"""{"max_heap_mb":$maxHeapMb,"queries":${parts.mkString("{", ",", "}")},"spilled_total_mb":$totalDisk,"sf":"$sfDir"}""")
    spark.stop()
  }
}

package graft

import graft.operators.{DeltaChain, VersionedTable}

/** Cross-PROCESS commit-arbitration gate (VERDICT r14 item 6).
  * ConcurrentCommitSpec / DeltaArbitrationSpec race THREADS in one
  * JVM; the claim protocol's atomicity claim is `Files.createFile` =
  * POSIX O_CREAT|O_EXCL, which is process-atomic — this main proves it
  * with SEPARATE JVMs interleaving commits against one table
  * (scripts/racegate.sh launches two writers concurrently for each
  * storage form, then runs the check subcommand).
  *
  * Subcommands:
  *   init-snap|init-delta <dir>              create the table at v1
  *   snap|delta <dir> <writerId> <nCommits>  append n arbitrated
  *     commits, each adding one unique (writerId-keyed) row
  *   check-snap|check-delta <dir> <nPerWriter>  verify LINEAR history
  *     (versions 1..2n+1, no gaps) and NO LOST UPDATE (every row from
  *     both writers present exactly once) — prints RACEGATE_OK or
  *     exits nonzero naming the divergence
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract area
  * SURVEY.md §2.11 multi-writer arbitration.
  */
object RaceGate {
  def main(args: Array[String]): Unit = {
    val cmd = args(0)
    val dir = args(1)
    val spark = GraftSession.mainBuilder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def row(writerId: Int, i: Int) =
      Seq((writerId * 1000000L + i, writerId.toLong)).toDF("k", "w")

    cmd match {
      case "init-snap" =>
        VersionedTable.create(dir, Seq((0L, 0L)).toDF("k", "w"))
      case "init-delta" =>
        DeltaChain.create(dir, Seq((0L, 0L)).toDF("k", "w"), Seq("k"),
          checkpointEvery = 5)
      case "snap" =>
        val Array(_, _, widS, nS) = args.take(4)
        val (wid, n) = (widS.toInt, nS.toInt)
        (1 to n).foreach { i =>
          val (v, att) = VersionedTable.commitNextArbitrated(spark, dir,
            snap => snap.unionByName(row(wid, i)),
            maxAttempts = 60, publishWaitMs = 120000L)
          println(s"RACE_COMMIT snap writer=$wid i=$i v=$v attempts=$att")
        }
      case "delta" =>
        val Array(_, _, widS, nS) = args.take(4)
        val (wid, n) = (widS.toInt, nS.toInt)
        (1 to n).foreach { i =>
          val (v, att) = DeltaChain.commitDeltaArbitrated(spark, dir,
            row(wid, i), maxAttempts = 60, publishWaitMs = 120000L)
          println(s"RACE_COMMIT delta writer=$wid i=$i v=$v attempts=$att")
        }
      case "check-snap" | "check-delta" =>
        val n = args(2).toInt
        val vs = if (cmd == "check-snap") VersionedTable.versions(dir)
                 else DeltaChain.versions(dir)
        val expectVs = (1 to (2 * n + 1)).toSeq
        if (vs != expectVs)
          sys.error(s"RACEGATE_FAIL: non-linear history $vs, expected $expectVs")
        val got = (if (cmd == "check-snap") VersionedTable.read(spark, dir)
                   else DeltaChain.read(spark, dir))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
        if (got.size != got.toMap.size)
          sys.error(s"RACEGATE_FAIL: duplicate keys in final state")
        val expect = (Seq(0L -> 0L) ++
          (1 to n).flatMap(i => Seq(1, 2).map(w => (w * 1000000L + i) -> w.toLong)))
          .toMap
        if (got.toMap != expect) {
          val missing = expect.keySet -- got.toMap.keySet
          val extra = got.toMap.keySet -- expect.keySet
          sys.error(s"RACEGATE_FAIL: lost update — missing=$missing extra=$extra")
        }
        println(s"RACEGATE_OK ${cmd.drop(6)} versions=${vs.size} rows=${got.size}")
      case other => sys.error(s"unknown subcommand: $other")
    }
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.metrics.source.CodegenMetrics

class GraftSessionSpec extends SparkSpec {

  test("builder pins the engine posture: extensions, UTC, nanos shim, partitions") {
    // inspect the builder's effect through a derived session in the same
    // JVM: getOrCreate() on the shared context applies session-level confs
    val s = GraftSession.builder("local[4]").getOrCreate()
    try {
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
      // the extension functions must resolve — that is what makes the
      // session "the library's" rather than vanilla Spark
      assert(s.sql("SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
        .head().getDouble(0) == 1.0)
      assert(s.sql(
        """SELECT bloom_might_contain(
          |  (SELECT bloom_agg(xxhash64(x), 10L) FROM VALUES (1L) t(x)),
          |  xxhash64(1L)) AS hit""".stripMargin).head().getBoolean(0))
    } finally () // shared-context session: do not stop
  }

  test("shuffle-partition sizing: local masters get cores, clusters keep the AQE default") {
    assert(GraftSession.defaultShufflePartitions("local[4]") == 4)
    assert(GraftSession.defaultShufflePartitions("local[32]") == 32)
    assert(GraftSession.defaultShufflePartitions("local") == 1)
    assert(GraftSession.defaultShufflePartitions("local[*]") ==
      Runtime.getRuntime.availableProcessors())
    // a driver-side core count must never be baked into a cluster config
    assert(GraftSession.defaultShufflePartitions("spark://example:7077") == 200)
    assert(GraftSession.defaultShufflePartitions("yarn") == 200)
  }

  test("the codegen cache holds the headline working set: a third pass compiles nothing") {
    // the test session is built by GraftSession.builder, so it carries
    // the pinned cache size (a static conf, fixed at first codegen)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Unit = SparkEntry.benchQueries.foreach { key =>
      SparkEntry.queries(key)(spark, sfDir).write.format("noop").mode("overwrite").save()
      CacheLifecycle.sweep(spark)
    }
    pass()
    pass()
    val before = compiled
    pass()
    assert(compiled == before,
      s"${compiled - before} classes recompiled on a warm pass over the headline")
  }

  test("file: sets modes in-process, and the modes Hadoop's own path would set") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getFileSystemClass("file", conf) == classOf[NioLocalFileSystem])
    assert(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    val root = Files.createTempDirectory("graft-fs")
    QueryGuard.deleteRecOnExit(root.toFile)
    // a parquet write through the session: files rw-r--r--, dirs rwxr-xr-x
    val out = root.resolve("w").toString
    spark.range(10).repartition(2).write.parquet(out)
    val walk = Files.walk(Paths.get(out))
    val modes = try walk.iterator().asScala.toSeq.map { p =>
      Files.isDirectory(p) -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    } finally walk.close()
    assert(modes.count(!_._1) >= 4) // two part files and their .crc siblings
    modes.foreach { case (dir, m) => assert(m == (if (dir) "rwxr-xr-x" else "rw-r--r--")) }
    // the raw file system sets exactly what the stock one does, sticky
    // bit included (which it leaves to the stock path)
    def modeAfter(fs: RawLocalFileSystem, name: String, perm: Int): AnyRef = {
      fs.initialize(java.net.URI.create("file:///"), conf)
      val p = root.resolve(name)
      Files.createDirectory(p)
      fs.setPermission(new Path(p.toUri), new FsPermission(perm.toShort))
      Files.getAttribute(p, "unix:mode")
    }
    Seq("755", "644", "600", "444", "1755").foreach { octal =>
      val perm = Integer.parseInt(octal, 8)
      assert(modeAfter(new NioRawLocalFileSystem, s"nio$octal", perm) ==
        modeAfter(new RawLocalFileSystem, s"stock$octal", perm), s"mode $octal")
    }
  }

  test("withConf restores a set key and unsets a fresh one, after success and after a throw") {
    import graft.queries.Shared.withConf
    val (set, fresh) = ("spark.sql.shuffle.partitions", "spark.graft.spec.withConfFresh")
    val before = spark.conf.get(set)
    assert(spark.conf.getOption(fresh).isEmpty)
    val seen = withConf(spark, set -> "7", fresh -> "on") {
      (spark.conf.get(set), spark.conf.get(fresh))
    }
    assert(seen == ("7", "on"))
    assert(spark.conf.get(set) == before && spark.conf.getOption(fresh).isEmpty)
    val e = intercept[IllegalStateException] {
      withConf(spark, set -> "9", fresh -> "on") { throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(spark.conf.get(set) == before && spark.conf.getOption(fresh).isEmpty)
  }
}

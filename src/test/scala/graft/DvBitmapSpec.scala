package graft

import org.apache.spark.sql.functions._

/** Laws for bitmap deletion-vector masks (§19.1 thread 4 / VERDICT
  * r14 item 1's density endgame): the (file, bucket, 4 KB bitmap)
  * sidecar must read identically to the (file, row) mask, fold an
  * existing row mask in at the upgrade commit, refuse the backward
  * downgrade, stay dense where the row mask balloons, and the
  * membership kernel must agree bit-for-bit with Spark's own
  * `bitmap_construct_agg` layout.
  */
class DvBitmapSpec extends SparkSpec {
  import operators.VersionedTable

  private def freshRoot(): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_dvbmp_${java.util.UUID.randomUUID().toString.take(8)}")
    QueryGuard.deleteRecOnExit(f)
    f.getAbsolutePath
  }

  test("BitmapContains agrees bit-for-bit with bitmap_construct_agg's layout") {
    import spark.implicits._
    // positions straddling byte and bucket-internal boundaries
    val set = Seq(0L, 1L, 7L, 8L, 63L, 64L, 1000L, 32767L)
    val bmp = set.toDF("p")
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(p + 1))").as("b"))
    val probe = (0L to 32767L).toDF("pos").crossJoin(bmp)
      .where(org.apache.spark.sql.graft.BitmapKernels
        .bitmapContainsBit(col("b"), col("pos")))
      .select("pos").collect().map(_.getLong(0)).toSet
    assert(probe === set.toSet,
      s"kernel disagrees with the builder: ${probe -- set.toSet} extra, " +
        s"${set.toSet -- probe} missing")
  }

  test("bitmap deletes read identically to row-mask deletes, at every version") {
    import spark.implicits._
    val rowRoot = freshRoot(); val bmpRoot = freshRoot()
    val base = (1L to 5000L).map(k => (k, k * 3)).toDF("k", "v").repartition(2)
    VersionedTable.create(rowRoot, base)
    VersionedTable.create(bmpRoot, base)
    Seq(col("k") % 3 === 0, col("k") % 7 === 0).foreach { cond =>
      VersionedTable.deleteWhereDV(spark, rowRoot, cond)
      VersionedTable.deleteWhereDVBitmap(spark, bmpRoot, cond)
    }
    (1 to 3).foreach { v =>
      val a = VersionedTable.readAsOf(spark, rowRoot, v)
      val b = VersionedTable.readAsOf(spark, bmpRoot, v)
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      assert(diff === 0L, s"bitmap DV diverges from row DV at v$v")
    }
    // base files untouched by the bitmap commits
    val files = Option(new java.io.File(s"$bmpRoot/v1").listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length()))
    assert(files.nonEmpty)
  }

  test("row-mask chain upgrades to bitmap (old mask folds in); downgrade refused") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(root,
      (1L to 3000L).map(k => (k, k)).toDF("k", "v").repartition(2))
    VersionedTable.deleteWhereDV(spark, root, col("k") % 4 === 0)        // rows
    VersionedTable.deleteWhereDVBitmap(spark, root, col("k") % 5 === 0)  // upgrade
    VersionedTable.updateWhereDVBitmap(spark, root, col("k") % 9 === 0,
      Seq("v" -> (col("v") + 100L)))                                     // bitmap
    val got = VersionedTable.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (1L to 3000L).filter(k => k % 4 != 0 && k % 5 != 0)
      .map(k => k -> (if (k % 9 == 0) k + 100 else k)).toMap
    assert(got === want)
    // the upgraded mask is bitmap-format on disk
    val mask = spark.read.parquet(s"$root/v4/_dv")
    assert(mask.columns.toSet === Set("file_path", "bucket", "bmp"))
    // bitmap -> row downgrade is refused loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.deleteWhereDV(spark, root, col("k") % 11 === 0)
    }
    assert(e.getMessage.contains("BITMAP"))
  }

  test("density: a 30% delete's bitmap mask is far smaller than the row mask") {
    import spark.implicits._
    val rowRoot = freshRoot(); val bmpRoot = freshRoot()
    // one file, > 1 bucket (40k rows spans two 32768-position buckets)
    val base = (1L to 40000L).map(k => (k, k)).toDF("k", "v").coalesce(1)
    VersionedTable.create(rowRoot, base)
    VersionedTable.create(bmpRoot, base)
    VersionedTable.deleteWhereDV(spark, rowRoot, col("k") % 3 === 0)
    VersionedTable.deleteWhereDVBitmap(spark, bmpRoot, col("k") % 3 === 0)
    def maskBytes(root: String): Long =
      Option(new java.io.File(s"$root/v2/_dv").listFiles()).get
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val rowBytes = maskBytes(rowRoot); val bmpBytes = maskBytes(bmpRoot)
    val bmpRows = spark.read.parquet(s"$bmpRoot/v2/_dv").count()
    assert(bmpRows <= 4L, s"expected <= 4 bucket rows, saw $bmpRows")
    assert(bmpBytes * 3 < rowBytes,
      s"bitmap mask $bmpBytes B is not ≪ row mask $rowBytes B at 30% deletes")
    // and the reads agree
    val a = VersionedTable.read(spark, rowRoot)
    val b = VersionedTable.read(spark, bmpRoot)
    assert(a.exceptAll(b).count() + b.exceptAll(a).count() === 0L)
  }

  test("bitmap reads survive the shuffled (no-broadcast) path hash-identically") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(root,
      (1L to 4000L).map(k => (k, k)).toDF("k", "v").repartition(2))
    VersionedTable.deleteWhereDVBitmap(spark, root, col("k") % 2 === 0)
    val expect = (1L to 4000L).filter(_ % 2 != 0).toSet
    def readKeys(): Set[Long] =
      VersionedTable.read(spark, root).select("k")
        .collect().map(_.getLong(0)).toSet
    assert(readKeys() === expect)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try {
      val plan = VersionedTable.read(spark, root)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"bitmap mask still broadcast past the threshold:\n$plan")
      assert(readKeys() === expect)
    } finally spark.conf.set(key, old)
  }

  test("DV masks are written in key order: one chain, built twice, writes the same bytes") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Path, Paths}
    val seed = Paths.get(freshRoot()); val root = Paths.get(freshRoot())
    VersionedTable.create(seed.toString,
      (1L to 5000L).map(k => (k, k * 3)).toDF("k", "v").repartition(2))
    def parquetIn(dir: Path): Seq[Path] =
      Files.list(dir).iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
    // k%7 then k%3: the v3 row mask's prior rows and new rows interleave
    // by row index, so an unsorted union writes them out of key order
    def build(): (Seq[Seq[Byte]], Seq[Long]) = {
      QueryGuard.deleteRec(root.toFile)
      val walk = Files.walk(seed)
      try walk.iterator.asScala.foreach { p =>
        val t = root.resolve(seed.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      } finally walk.close()
      VersionedTable.deleteWhereDV(spark, root.toString, col("k") % 7 === 0)
      VersionedTable.deleteWhereDV(spark, root.toString, col("k") % 3 === 0)
      VersionedTable.deleteWhereDVBitmap(spark, root.toString, col("k") % 5 === 0)
      val masks = (2 to 4).flatMap(v => parquetIn(root.resolve(s"v$v/_dv")))
        .map(p => Files.readAllBytes(p).toSeq)
      (masks, VersionedTable.history(spark, root.toString)
        .orderBy("version").select("n_bytes").as[Long].collect().toSeq)
    }
    val (masks1, bytes1) = build()
    def keys(v: Int, c: String) = spark.read.parquet(s"$root/v$v/_dv")
      .select(col("file_path"), col(c).cast("long")).as[(String, Long)].collect().toSeq
    Seq(2 -> "row_index", 3 -> "row_index", 4 -> "bucket").foreach { case (v, c) =>
      val ks = keys(v, c)
      val inOrder = ks == ks.sorted
      assert(inOrder, s"v$v mask is not in (file_path, $c) order")
    }
    val (masks2, bytes2) = build()
    val sameBytes = masks1 == masks2
    assert(masks1.size === 3)
    assert(sameBytes, "the same chain wrote different mask bytes")
    assert(bytes1 === bytes2, "history n_bytes differ between two builds of one chain")
  }
}

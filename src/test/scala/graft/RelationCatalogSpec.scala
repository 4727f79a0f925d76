package graft

import java.nio.file.{Files, StandardCopyOption}

import scala.reflect.io.Directory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Laws of the per-session relation catalog behind [[Tables.t]]: a read
  * is served from the catalog only while the path's files are unchanged,
  * a served read equals an uncached one, and no session sees another's
  * entries. A hit is observable as the same `HadoopFsRelation` instance
  * under fresh attribute ids.
  */
class RelationCatalogSpec extends SparkSpec {

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get

  /** Writes `df` as ONE parquet file at `dir/name.parquet`, replacing
    * whatever file is there, the way the fixtures are laid out. */
  private def writeSingleFile(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val out = dir.resolve("_write")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    new Directory(out.toFile).deleteRecursively()
  }

  test("a rewritten file under a cached path reads its new rows") {
    val dir = Files.createTempDirectory("graft-catalog")
    val s = spark
    import s.implicits._
    try {
      writeSingleFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "t")
      val first = Tables.t(spark, dir.toString, "t")
      val hit = Tables.t(spark, dir.toString, "t")
      assert(relationOf(hit) eq relationOf(first), "an unchanged file must be served from the catalog")
      assert(hit.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))

      val before = Files.size(dir.resolve("t.parquet"))
      writeSingleFile(Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("k", "v"), dir, "t")
      assert(Files.size(dir.resolve("t.parquet")) != before)
      val reread = Tables.t(spark, dir.toString, "t")
      assert(relationOf(reread) ne relationOf(first), "a changed listing must be read afresh")
      assert(reread.as[(Long, String)].collect().sorted.toSeq ==
        Seq((10L, "x"), (20L, "y"), (30L, "z")))
    } finally new Directory(dir.toFile).deleteRecursively()
  }

  test("a catalog hit hashes equal to an uncached spark.read.parquet") {
    Tables.names.foreach { name =>
      Tables.t(spark, sfDir, name) // prime
      val hit = Tables.t(spark, sfDir, name)
      val plain = spark.read.parquet(s"$sfDir/$name.parquet")
      assert(hit.schema == plain.schema, name)
      assert(Orc.contentHash(hit) == Orc.contentHash(plain), name)
    }
  }

  test("queries reading one fixture twice still match their oracle SQL") {
    // the oracle runs in a fresh session over plain, uncached reads
    val oracle = spark.newSession()
    Seq("nation", "customer").foreach { t =>
      oracle.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    Seq("j7_theta_join", "u2_intersect").foreach { key =>
      SparkEntry.queries(key)(spark, sfDir).collect() // prime the catalog
      val got = SparkEntry.queries(key)(spark, sfDir)
      val reads = got.queryExecution.analyzed.collect { case l: LogicalRelation => l }
      assert(reads.size == 2 && (reads(0).relation eq reads(1).relation), key)
      assert(reads(0).output.map(_.exprId).intersect(reads(1).output.map(_.exprId)).isEmpty,
        s"$key: the two reads of one table share attribute ids")
      val want = oracle.sql(SparkEntry.oracleSql(key)).collect().toSeq
      assert(got.collect().toSeq == want, key)
    }
  }

  test("the catalog is per session") {
    val other: SparkSession = spark.newSession()
    val mine = relationOf(Tables.orders(spark, sfDir))
    assert(relationOf(Tables.orders(spark, sfDir)) eq mine)
    val theirs = relationOf(Tables.orders(other, sfDir))
    assert(theirs ne mine, "a new session must not get another session's entry")
    assert(theirs.sparkSession eq other)
    assert(relationOf(Tables.orders(other, sfDir)) eq theirs)
  }
}

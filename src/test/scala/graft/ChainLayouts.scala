package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** DeltaChain directory fixtures shared by the chain layout specs:
  * copies of a chain, the pre-sidecar layout, and a one-job content
  * hash of many reads. */
object ChainLayouts {

  /** A fresh directory path under the temp dir, deleted on exit. */
  def freshRoot(tag: String): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      s"${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    QueryGuard.deleteRecOnExit(f)
    f.getAbsolutePath
  }

  /** Every `_graft_schema` sidecar under `root`. */
  def sidecars(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala
      .filter(_.getFileName.toString == "_graft_schema").toSeq
    finally walk.close()
  }

  /** A byte copy of the chain at `root`. */
  def copyTree(root: String): String = {
    val to = freshRoot("graft_chain_copy")
    val src = Paths.get(root)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      Files.copy(p, Paths.get(to).resolve(src.relativize(p).toString))
    } finally walk.close()
    to
  }

  /** A copy of `root` laid out as a chain written before every directory
    * had a sidecar: deltas carry none, checkpoints a DDL one. */
  def legacyCopy(root: String): String = {
    val to = copyTree(root)
    sidecars(to).foreach { p =>
      val dir = p.getParent.getFileName.toString
      if (dir.startsWith("d")) Files.delete(p)
      else Files.write(p, DataType.fromJson(new String(Files.readAllBytes(p), "UTF-8"))
        .asInstanceOf[StructType].toDDL.getBytes("UTF-8"))
    }
    to
  }

  /** name -> (schema, row count, exact sum of the per-row xxhash64 of
    * each row's JSON rendering), all hashed in one job. */
  def hashed(frames: Seq[(String, DataFrame)]): Map[String, (StructType, Long, String)] = {
    val hashes = frames.map { case (n, df) =>
      df.select(lit(n).as("read"),
        xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).as("h"))
    }.reduce(_.unionByName(_))
      .groupBy("read").agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), String.valueOf(r.get(2)))).toMap
    frames.map { case (n, df) =>
      val (rows, sum) = hashes.getOrElse(n, (0L, "null"))
      n -> (df.schema, rows, sum)
    }.toMap
  }
}

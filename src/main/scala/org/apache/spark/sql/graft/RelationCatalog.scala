package org.apache.spark.sql.graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Per-session catalog of parquet relations: a read of a path whose
  * files have not changed since the last read in the same session reuses
  * the analyzed relation, and so skips the file index and the
  * footer-reading schema-inference job that `spark.read.parquet` builds
  * and runs on every call.
  *
  * An entry is keyed on the path's recursive leaf-file listing (path,
  * length, mtime) and on the session's parquet read confs, both taken
  * again on every read. A hit returns `relation.newInstance()`, so two
  * reads of one table in one query keep distinct attribute ids, exactly
  * as two `spark.read.parquet` calls do. A miss, a changed listing or a
  * changed conf reads with `spark.read.parquet` and replaces the entry,
  * so the first read of a path costs what it always did.
  *
  * An entry holds only the relation, never the Dataset or its
  * QueryExecution. A relation references its session, so the catalogs
  * of at most `MaxSessions` (8) sessions are kept (least recently used
  * first out), and a session whose context has stopped loses its
  * catalog on the next read in any session.
  */
object RelationCatalog {

  private val MaxSessions = 8

  private final case class Entry(
      listing: Seq[(String, Long, Long)],
      readConf: Map[String, String],
      relation: LogicalRelation)

  private val catalogs =
    new java.util.LinkedHashMap[SparkSession, ConcurrentHashMap[String, Entry]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, ConcurrentHashMap[String, Entry]]): Boolean =
        size() > MaxSessions
    }

  private def catalogOf(spark: SparkSession): ConcurrentHashMap[String, Entry] =
    catalogs.synchronized {
      catalogs.keySet().removeIf(_.sparkContext.isStopped)
      catalogs.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Entry]())
    }

  /** Leaf files under `path` (or `path` itself when it is a file). */
  private def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
    leaves(fs.getFileStatus(p))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }

  /** The confs that shape what a parquet read infers. */
  private def readConf(spark: SparkSession): Map[String, String] =
    spark.sessionState.conf.getAllConfs.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  /** `spark.read.parquet(path)`, served from the session's catalog when
    * the path's files and read confs are unchanged since the last read. */
  def parquet(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val session = spark.asInstanceOf[SparkSession]
    val files =
      try Some(listing(session, path))
      catch { case _: FileNotFoundException => None }
    files match {
      case None => spark.read.parquet(path) // a glob, or missing: read uncached
      case Some(leaves) =>
        val conf = readConf(session)
        val catalog = catalogOf(session)
        Option(catalog.get(path)).filter(e => e.listing == leaves && e.readConf == conf) match {
          case Some(e) => Dataset.ofRows(session, e.relation.newInstance())
          case None =>
            val df = spark.read.parquet(path)
            df.queryExecution.analyzed match {
              case r: LogicalRelation => catalog.put(path, Entry(leaves, conf, r))
              case _ => catalog.remove(path)
            }
            df
        }
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RelationCatalog

/** Fixture table readers.
  *
  * Single entry point for every query: all scans go through here so that
  * scan-level concerns (the events timestamp shim, schema expectations,
  * relation reuse) are centralized. At 100 TB these would be catalog
  * tables with partition pruning; on the fixtures they are single parquet
  * files, and the same `spark.read.parquet` path scales to multi-file
  * partitioned layouts unchanged.
  *
  * Every read goes through the session's [[RelationCatalog]]: the first
  * read of a fixture in a session lists it and infers its schema (one
  * Spark job, 65–140 ms per sf0.1 fixture on `local[4]`), and later
  * reads of the unchanged files reuse that relation with fresh attribute
  * ids (1–4 ms). A rewritten fixture is read afresh.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); the table set
  * derives from the driver fixtures (FIXTURES.md).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  /** Plain parquet scan, through the session's relation catalog. Column
    * pruning + predicate pushdown arrive via Catalyst; callers just
    * declare select/filter.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    RelationCatalog.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** `events.parquet` has shipped `ts` in two physical forms across
    * fixture generations, so the shim branches on the ACTUAL read schema:
    *
    *  - INT64 TIMESTAMP(NANOS) (early fixtures) — Spark 4 rejects it by
    *    default (PARQUET_TYPE_ILLEGAL); read as raw nanos via the legacy
    *    flag, which every session builder pins, then rebuild a
    *    TimestampType truncated to micros with integer division
    *    (`div`, not `/`: double division of epoch-nanos
    *    loses precision past 2^53 and can shift a value by ±1 µs);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current fixtures) —
    *    read as TIMESTAMP_NTZ, cast to TimestampType. The session
    *    timezone is pinned to UTC everywhere, so the cast relabels the
    *    same micros value — identical to DuckDB's naive-as-UTC reading.
    *
    * Either way every query downstream sees `ts: TIMESTAMP` in micros.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 52: sketch calibration — MinHash estimate
  * vs exact Jaccard, pair by pair. l2b USES MinHash banding to find
  * candidates; this query MEASURES how good the signature actually is
  * (mean |est − exact| ≈ √(J(1−J)/k) — the number that tells you
  * whether 8, 64, or 256 hash components are needed before you spend
  * a cluster-day signing 10⁹ documents).
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.12 (dedup sketches).
  */
object SurfaceR10az extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  /** LP60: MINHASH ERROR — over the 300 pairs of a deterministic
    * 25-doc probe set (doc_id % 20 = 0), compare the k=8 MinHash
    * estimate (fraction of equal signature components; each component
    * is the min of a pure md5 hash over the doc's DISTINCT words)
    * against the exact word-set Jaccard. Both sides are exact
    * integers — min of 24-bit hashes, intersection/union counts — so
    * every estimate and every exact J is bit-deterministic; the
    * output is per-pair with the absolute error. Probe set and k are
    * bounded by construction: the pair join is broadcast, never
    * corpus×corpus. */
  val lp60MinhashError: Q = (s, d) => {
    val words = documents(s, d)
      .where(col("doc_id") % 20 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
    val sigs = words
      .select(col("doc_id"), col("w"), explode(expr("sequence(1, 8)")).as("i"))
      .select(col("doc_id"), col("i"),
        expr(hSql("concat(w, ':', i)")).as("h"))
      .groupBy("doc_id", "i").agg(min("h").as("sig"))
    val sizes = words.groupBy("doc_id").agg(count(lit(1)).as("nw"))
    val inter = words.as("a")
      .join(words.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(count(lit(1)).as("ninter"))
    val est = sigs.as("sa")
      .join(sigs.as("sb"),
        col("sa.i") === col("sb.i") && col("sa.doc_id") < col("sb.doc_id"))
      .groupBy(col("sa.doc_id").as("ida"), col("sb.doc_id").as("idb"))
      .agg(sum(when(col("sa.sig") === col("sb.sig"), 1L).otherwise(0L))
        .as("matches"))
    est
      .join(inter, Seq("ida", "idb"), "left")
      .join(broadcast(sizes.select(col("doc_id").as("ida"), col("nw").as("na"))), "ida")
      .join(broadcast(sizes.select(col("doc_id").as("idb"), col("nw").as("nb"))), "idb")
      .select(col("ida"), col("idb"),
        coalesce(col("ninter"), lit(0L)).as("n_inter"),
        r4(expr("CAST(matches AS DOUBLE) / 8.0")).as("j_est"),
        r4(expr("CAST(coalesce(ninter, 0) AS DOUBLE) / (na + nb - coalesce(ninter, 0))"))
          .as("j_exact"),
        r4(expr("abs(CAST(matches AS DOUBLE) / 8.0 - CAST(coalesce(ninter, 0) AS DOUBLE) / (na + nb - coalesce(ninter, 0)))"))
          .as("abs_err"))
      .orderBy("ida", "idb")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "lp60_minhash_error" -> lp60MinhashError)

  val oracleSql: Map[String, String] = Map(
    "lp60_minhash_error" ->
      s"""WITH words AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id % 20 = 0),
        |sigs AS (
        |  SELECT doc_id, k.i,
        |    CAST(min(${hSql("concat(w, ':', k.i)")}) AS BIGINT) AS sig
        |  FROM words CROSS JOIN (SELECT unnest(range(1, 9)) AS i) k
        |  GROUP BY 1, 2),
        |sizes AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nw
        |  FROM words GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb,
        |    CAST(count(*) AS BIGINT) AS ninter
        |  FROM words a JOIN words b
        |    ON a.w = b.w AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT sa.doc_id AS ida, sb.doc_id AS idb,
        |    CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT) AS matches
        |  FROM sigs sa JOIN sigs sb
        |    ON sa.i = sb.i AND sa.doc_id < sb.doc_id
        |  GROUP BY 1, 2)
        |SELECT est.ida, est.idb,
        |  CAST(coalesce(ninter, 0) AS BIGINT) AS n_inter,
        |  round(CAST(matches AS DOUBLE) / 8.0, 4) AS j_est,
        |  round(CAST(coalesce(ninter, 0) AS DOUBLE) / (na + nb - coalesce(ninter, 0)), 4) AS j_exact,
        |  round(abs(CAST(matches AS DOUBLE) / 8.0 - CAST(coalesce(ninter, 0) AS DOUBLE) / (na + nb - coalesce(ninter, 0))), 4) AS abs_err
        |FROM est
        |LEFT JOIN inter ON inter.ida = est.ida AND inter.idb = est.idb
        |JOIN (SELECT doc_id AS ida, nw AS na FROM sizes) za ON za.ida = est.ida
        |JOIN (SELECT doc_id AS idb, nw AS nb FROM sizes) zb ON zb.idb = est.idb
        |ORDER BY est.ida, est.idb""".stripMargin)
}

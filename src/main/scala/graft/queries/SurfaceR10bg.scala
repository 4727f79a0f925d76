package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 59: two more sketch/projection calibration
  * reports for the LLM-pipeline stack — the AMS (Alon–Matias–Szegedy)
  * F₂ sketch (estimate the second frequency moment of the token
  * distribution from R=16 random ±1 projections — the classic
  * streaming answer to "how skewed is my corpus vocabulary?" in O(R)
  * memory instead of O(vocab)), and a Johnson–Lindenstrauss ±1
  * projection distortion audit over embeddings (how much do pairwise
  * distances move when 64 dims are crushed to 8? — the number that
  * says whether a cheap projected index is safe). Both follow the
  * lp60 calibration pattern: md5-derived randomness makes every
  * "random" sign a pure function, so sketch internals are EXACT
  * integers and bit-deterministic on both engines.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract
  * area SURVEY.md §2.12 (sketches / embedding ops), siblings lp60/m30.
  */
object SurfaceR10bg extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  /** ±1 sign from the hash's low bit. */
  private def signSql(key: String): String =
    s"(CASE WHEN ${hSql(key)} % 2 = 0 THEN 1 ELSE -1 END)"

  /** LP61: AMS F2 SKETCH — token counts c_w from one corpus hash agg;
    * for each of R=16 replicas, Z_r = Σ_w s_r(w)·c_w with a pure md5
    * ±1 sign. E[Z_r²] = F₂ exactly; the output reports each replica's
    * exact integer Z_r and Z_r², the exact F₂ = Σ c_w² for comparison,
    * and the replica's relative error. At 100 TB the plan is
    * unchanged: (w, count) hash agg, a narrow ×16 expansion of the
    * VOCAB (not the corpus), partial-agg sums — the sketch never
    * materializes anything corpus-sized. */
  val lp61AmsF2: Q = (s, d) => {
    val counts = documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val f2 = counts.agg(sum(col("c") * col("c")).as("f2_exact"))
    counts
      .select(col("w"), col("c"), explode(expr("sequence(1, 16)")).as("r"))
      .select(col("r"),
        (expr(signSql("concat(w, '#', r)")) * col("c")).as("term"))
      .groupBy("r").agg(sum("term").as("z"))
      .crossJoin(broadcast(f2))
      .select(col("r").cast("long").as("r"), col("z"),
        (col("z") * col("z")).as("est"),
        col("f2_exact"),
        r4(expr("abs(CAST(z * z AS DOUBLE) / f2_exact - 1.0)")).as("rel_err"))
      .orderBy("r")
  }

  /** LP62: JL PROJECTION DISTORTION — quantize the 64-dim embeddings
    * to exact integers (m30 idiom), project a bounded 25-vector probe
    * set to k=8 dims with a pure-md5 ±1 matrix, and report for every
    * probe pair the exact original and projected squared distances
    * plus the distortion ratio d²_proj / (k·d²_orig) (≈1 when the
    * projection preserves geometry). Everything up to the final ratio
    * is exact BIGINT arithmetic. At scale the projection itself is a
    * narrow per-row map (64→8 ints); only the audit pairs are bounded. */
  val lp62JlDistortion: Q = (s, d) => {
    val dims = embeddings(s, d)
      .where(col("vec_id") % 20 === 0)
      .select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i"),
        expr("CAST(floor(CAST(v AS DOUBLE) * 1e4 + 5e-1) AS BIGINT)").as("q"))
    val proj = dims
      .select(col("vec_id"), col("i"), col("q"),
        explode(expr("sequence(1, 8)")).as("r"))
      .select(col("vec_id"), col("r"),
        (expr(signSql("concat(i, ':', r)")) * col("q")).as("term"))
      .groupBy("vec_id", "r").agg(sum("term").as("z"))
    val d2o = dims.as("a")
      .join(dims.as("b"),
        col("a.i") === col("b.i") && col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("a.vec_id").as("ida"), col("b.vec_id").as("idb"))
      .agg(sum((col("a.q") - col("b.q")) * (col("a.q") - col("b.q")))
        .as("d2_orig"))
    val d2p = proj.as("pa")
      .join(proj.as("pb"),
        col("pa.r") === col("pb.r") && col("pa.vec_id") < col("pb.vec_id"))
      .groupBy(col("pa.vec_id").as("ida"), col("pb.vec_id").as("idb"))
      .agg(sum((col("pa.z") - col("pb.z")) * (col("pa.z") - col("pb.z")))
        .as("d2_proj"))
    d2o.join(d2p, Seq("ida", "idb"))
      .select(col("ida"), col("idb"), col("d2_orig"), col("d2_proj"),
        r4(expr("CAST(d2_proj AS DOUBLE) / (8.0 * d2_orig)")).as("ratio"))
      .orderBy("ida", "idb")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "lp61_ams_f2" -> lp61AmsF2,
    "lp62_jl_distortion" -> lp62JlDistortion)

  val oracleSql: Map[String, String] = Map(
    "lp61_ams_f2" ->
      s"""WITH counts AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY tok),
        |f2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact FROM counts),
        |reps AS (
        |  SELECT CAST(r AS BIGINT) AS r,
        |    CAST(sum(${signSql("concat(w, '#', r)")} * c) AS BIGINT) AS z
        |  FROM counts CROSS JOIN (SELECT unnest(range(1, 17)) AS r) rr
        |  GROUP BY r)
        |SELECT r, z, CAST(z * z AS BIGINT) AS est, f2_exact,
        |  round(abs(CAST(z * z AS DOUBLE) / f2_exact - 1.0), 4) AS rel_err
        |FROM reps CROSS JOIN f2
        |ORDER BY r""".stripMargin,
    "lp62_jl_distortion" ->
      s"""WITH dims AS (
        |  SELECT vec_id, CAST(i AS BIGINT) AS i,
        |    CAST(floor(CAST(list_extract(embedding, CAST(i + 1 AS INT)) AS DOUBLE)
        |               * 1e4 + 5e-1) AS BIGINT) AS q
        |  FROM embeddings CROSS JOIN range(64) AS t(i)
        |  WHERE vec_id % 20 = 0),
        |proj AS (
        |  SELECT vec_id, CAST(r AS BIGINT) AS r,
        |    CAST(sum(${signSql("concat(i, ':', r)")} * q) AS BIGINT) AS z
        |  FROM dims CROSS JOIN (SELECT unnest(range(1, 9)) AS r) rr
        |  GROUP BY vec_id, r),
        |d2o AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2_orig
        |  FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2),
        |d2p AS (
        |  SELECT pa.vec_id AS ida, pb.vec_id AS idb,
        |    CAST(sum((pa.z - pb.z) * (pa.z - pb.z)) AS BIGINT) AS d2_proj
        |  FROM proj pa JOIN proj pb ON pa.r = pb.r AND pa.vec_id < pb.vec_id
        |  GROUP BY 1, 2)
        |SELECT d2o.ida, d2o.idb, d2_orig, d2_proj,
        |  round(CAST(d2_proj AS DOUBLE) / (8.0 * d2_orig), 4) AS ratio
        |FROM d2o JOIN d2p ON d2o.ida = d2p.ida AND d2o.idb = d2p.idb
        |ORDER BY d2o.ida, d2o.idb""".stripMargin)
}

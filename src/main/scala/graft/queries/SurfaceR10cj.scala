package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-10 surface batch 88: the YoY price–volume bridge, and a KMV
  * (k-minimum-values) order-statistics sketch for NDV profiling.
  *
  * Contrast with near-siblings: q32 reports week-over-week GROWTH and
  * q31 diffs snapshots row-wise; the bridge DECOMPOSES a revenue delta
  * into the volume, price, and cross effects per segment — the
  * finance/analytics waterfall that answers "did we sell more units or
  * at higher prices", which no growth ratio exposes. a3/a16 estimate
  * distinct counts with HyperLogLog, whose engine-specific register
  * layout forces a tolerance-style oracle; KMV is the ORDER-STATISTICS
  * distinct sketch — with a deterministic md5 hash the k-th minimum is
  * a bit-exact cross-engine value, so the estimate itself is
  * hash-oracled, and the k-smallest-set representation is mergeable by
  * construction (union = k smallest of the concatenation).
  *
  * Float discipline: bridge revenues are exact BIGINT cents and
  * volumes exact BIGINT units; the three effects are one shared closed
  * double formula per segment (no accumulation). KMV's h_k is decoded
  * from the first 8 md5 nibbles by the shared instr-lookup expression,
  * so both engines compute the identical integer H and the identical
  * (k−1)·16⁸/H estimate.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract areas
  * SURVEY.md §2.4 (approx distinct) and §2.12 (analytics shapes);
  * siblings q32/q31, a3/a16 (Hardening), lp5 md5 idiom (PipelineOps).
  */
object SurfaceR10cj extends QueryBatch {
  import Orc.r4
  import Tables._
  import Shared._

  type Q = (SparkSession, String) => DataFrame

  // Shared closed forms over exact integer (rev cents, vol units):
  // p = rev/(100·vol) dollars/unit; effects bridge rev1−rev0 dollars.
  private val pvP0 = "(CAST(rev0 AS DOUBLE) / (100.0 * vol0))"
  private val pvP1 = "(CAST(rev1 AS DOUBLE) / (100.0 * vol1))"
  private val pvVolEff = s"((vol1 - vol0) * $pvP0)"
  private val pvPriceEff = s"(($pvP1 - $pvP0) * vol0)"
  private val pvCrossEff = s"((vol1 - vol0) * ($pvP1 - $pvP0))"

  /** Q44: PRICE–VOLUME BRIDGE — for each brand shipped in BOTH years,
    * decompose the revenue change 1996→1997 into volume effect
    * (Δv·p₀), price effect (Δp·v₀), and cross effect (Δv·Δp); the
    * three sum to Δrev exactly (identity, modulo the cents→dollars
    * scale), which the spec asserts per brand.
    *
    * Scale shape: one filtered fact scan → per-(brand, year) hash agg
    * after a broadcast join to part; the pivot to year columns is a
    * 2-value conditional agg, not a shuffle; readout bounded by
    * #brands.
    */
  val q44PriceVolumeBridge: Q = (s, d) => {
    val li = lineitem(s, d)
      .where(col("l_shipdate") >= lit(s"$Y0-01-01").cast("timestamp") &&
             col("l_shipdate") < lit(s"${Y1 + 1}-01-01").cast("timestamp"))
      .join(broadcast(part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), year(col("l_shipdate")).as("yr"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"),
        col("l_quantity").cast("long").as("qty"))
    li.groupBy("p_brand")
      .agg(
        sum(when(col("yr") === Y0, col("cents")).otherwise(0L)).as("rev0"),
        sum(when(col("yr") === Y1, col("cents")).otherwise(0L)).as("rev1"),
        sum(when(col("yr") === Y0, col("qty")).otherwise(0L)).as("vol0"),
        sum(when(col("yr") === Y1, col("qty")).otherwise(0L)).as("vol1"))
      .where(col("vol0") > 0 && col("vol1") > 0)
      .select(col("p_brand"), col("rev0"), col("rev1"), col("vol0"),
        col("vol1"),
        r4(expr("(rev1 - rev0) / 100.0")).as("delta_rev"),
        r4(expr(pvVolEff)).as("volume_effect"),
        r4(expr(pvPriceEff)).as("price_effect"),
        r4(expr(pvCrossEff)).as("cross_effect"))
      .orderBy("p_brand")
  }

  private val KMV_K = 64

  // Integer H from the first 8 md5 nibbles — the portable uniform hash
  // decode (instr-lookup idiom both engines evaluate identically).
  private val kmvH = (1 to 8).map(i =>
    s"(instr('0123456789abcdef', substr(hv, $i, 1)) - 1)")
    // seed the fold in BIGINT: Spark's instr returns INT and the raw
    // product chain overflows 32 bits under ANSI (DuckDB's instr is
    // already BIGINT, so the cast is a no-op there)
    .reduceLeft((acc, n) =>
      if (acc.startsWith("(instr")) s"(CAST($acc AS BIGINT) * 16 + $n)"
      else s"($acc * 16 + $n)")

  /** A40: KMV NDV SKETCH — per return flag, estimate the number of
    * distinct price points (exact cents) from the 64 minimum md5
    * values: D̂ = (k−1)/h_k with h_k the k-th minimum normalized to
    * (0,1]; when a group holds fewer than k distinct values the sketch
    * IS the exact set. Reported against the exact NDV with the
    * relative error.
    *
    * Scale shape: facts → distinct (flag, value) hash agg; the per-flag
    * k-th minimum rides a window over the DISTINCT-value relation
    * (bounded by the column's value universe, not the row count — the
    * same compression m170 leans on; at extreme NDV swap in the l4b
    * heap-agg top-k). Merging sketches = keeping the k smallest of a
    * union — the partial-aggregatable shape.
    */
  val a40KmvNdv: Q = (s, d) => {
    val vals = lineitem(s, d)
      .select(col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("v"))
      .distinct()
      .withColumn("hv", md5(col("v").cast("string").cast("binary")))
    val exact = vals.groupBy("l_returnflag").agg(count(lit(1)).as("ndv"))
    val w = Window.partitionBy("l_returnflag").orderBy("hv")
    val kth = vals.withColumn("rn", row_number().over(w))
      .where(col("rn") === KMV_K)
      .select(col("l_returnflag"), expr(kmvH).as("hk"))
    exact.join(kth, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("ndv"),
        r4(expr(s"CASE WHEN hk IS NULL THEN CAST(ndv AS DOUBLE) " +
          s"ELSE ${KMV_K - 1}.0 * 4294967296.0 / hk END")).as("kmv_est"),
        r4(expr(s"abs((CASE WHEN hk IS NULL THEN CAST(ndv AS DOUBLE) " +
          s"ELSE ${KMV_K - 1}.0 * 4294967296.0 / hk END) - ndv) " +
          s"/ ndv")).as("rel_err"))
      .orderBy("l_returnflag")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "q44_price_volume_bridge" -> q44PriceVolumeBridge,
    "a40_kmv_ndv" -> a40KmvNdv)

  val oracleSql: Map[String, String] = Map(
    "q44_price_volume_bridge" ->
      s"""WITH li AS (
         |  SELECT p_brand, year(l_shipdate) AS yr,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         |    CAST(l_quantity AS BIGINT) AS qty
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '$Y0-01-01'
         |    AND l_shipdate < TIMESTAMP '${Y1 + 1}-01-01'),
         |agg AS (
         |  SELECT p_brand,
         |    CAST(sum(CASE WHEN yr = $Y0 THEN cents ELSE 0 END) AS BIGINT)
         |      AS rev0,
         |    CAST(sum(CASE WHEN yr = $Y1 THEN cents ELSE 0 END) AS BIGINT)
         |      AS rev1,
         |    CAST(sum(CASE WHEN yr = $Y0 THEN qty ELSE 0 END) AS BIGINT)
         |      AS vol0,
         |    CAST(sum(CASE WHEN yr = $Y1 THEN qty ELSE 0 END) AS BIGINT)
         |      AS vol1
         |  FROM li GROUP BY 1)
         |SELECT p_brand, rev0, rev1, vol0, vol1,
         |  round((rev1 - rev0) / 100.0, 4) AS delta_rev,
         |  round($pvVolEff, 4) AS volume_effect,
         |  round($pvPriceEff, 4) AS price_effect,
         |  round($pvCrossEff, 4) AS cross_effect
         |FROM agg WHERE vol0 > 0 AND vol1 > 0
         |ORDER BY p_brand""".stripMargin,
    "a40_kmv_ndv" ->
      s"""WITH vals AS (
         |  SELECT DISTINCT l_returnflag,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
         |  FROM lineitem),
         |hashed AS (
         |  SELECT l_returnflag, md5(CAST(v AS VARCHAR)) AS hv FROM vals),
         |exact AS (
         |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS ndv
         |  FROM hashed GROUP BY 1),
         |kth AS (
         |  SELECT l_returnflag, $kmvH AS hk FROM (
         |    SELECT l_returnflag, hv, row_number() OVER (
         |      PARTITION BY l_returnflag ORDER BY hv) AS rn
         |    FROM hashed) WHERE rn = $KMV_K)
         |SELECT exact.l_returnflag, ndv,
         |  round(CASE WHEN hk IS NULL THEN CAST(ndv AS DOUBLE)
         |    ELSE ${KMV_K - 1}.0 * 4294967296.0 / hk END, 4) AS kmv_est,
         |  round(abs((CASE WHEN hk IS NULL THEN CAST(ndv AS DOUBLE)
         |    ELSE ${KMV_K - 1}.0 * 4294967296.0 / hk END) - ndv)
         |    / ndv, 4) AS rel_err
         |FROM exact LEFT JOIN kth ON exact.l_returnflag = kth.l_returnflag
         |ORDER BY exact.l_returnflag""".stripMargin)
}

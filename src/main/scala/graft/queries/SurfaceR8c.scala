package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}
import graft.operators.GlobalRowId

/** Round-8 batch 3: tokenizer-training statistics, batch sessionization,
  * exact equi-depth binning, and prefix-filtered set-similarity join.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract areas
  * SURVEY.md §2 (A aggregates, W windows, L text pipeline) and §2.13.
  */
object SurfaceR8c extends QueryBatch {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** LT10: adjacent-token pair frequencies — the inner statistic of one
    * BPE merge iteration (the pair chosen next by a tokenizer trainer
    * is exactly the argmax of this table). explode + map-side-combined
    * hash aggregation; the top-20 is a TakeOrdered, never a global
    * sort. At 100 TB this is the shape tokenizer training actually
    * runs per merge round, keyed by a vocabulary ≪ corpus. */
  val lt10BpePairs: Q = (s, d) => {
    documents(s, d).createOrReplaceTempView("graft_r8c_docs")
    s.sql(
      """WITH w AS (
        |  SELECT split(text, ' ') AS t FROM graft_r8c_docs
        |  WHERE size(split(text, ' ')) >= 2),
        |pr AS (
        |  SELECT explode(transform(sequence(0, size(t) - 2),
        |    i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))) AS pair
        |  FROM w),
        |c AS (SELECT pair, count(*) AS n FROM pr GROUP BY pair)
        |SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT 20""".stripMargin)
  }

  /** Q26: batch sessionization — the gap-based islands assignment every
    * event pipeline needs in batch form (t3/t11 are the streaming
    * twins). One window pass per user marks session starts (gap >
    * 12 h — sized to the fixture's 7.3 h median inter-event gap), a
    * running sum numbers them, one hash aggregation emits per-session
    * stats. All integer microsecond arithmetic — exact on both
    * engines. Partitioned by user_id: scales to any corpus whose
    * single-user history fits an executor (the same contract as every
    * per-entity window). */
  val q26Sessionize: Q = (s, d) => {
    val e = events(s, d).select(col("user_id"), col("event_id"),
      expr("unix_micros(ts)").as("tu"))
    val w = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("prev", lag(col("tu"), 1).over(w))
      .withColumn("ns",
        when(col("prev").isNull || col("tu") - col("prev") > lit(43200000000L), 1L)
          .otherwise(0L))
      .withColumn("sid", sum("ns").over(run))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        min("tu").as("start_us"), max("tu").as("end_us"))
      .withColumn("dur_us", col("end_us") - col("start_us"))
      .orderBy("user_id", "sid")
  }

  /** A30: exact equi-depth histogram (decile bins of l_extendedprice)
    * WITHOUT the single-partition ntile window. The textbook
    * `ntile(10) OVER (ORDER BY price)` funnels the corpus through one
    * task; here the global ordinal comes from [[GlobalRowId]]'s
    * range-partition + offset scheme (only a numPartitions-row cumsum
    * is ever single-partition) and the bucket is computed from the
    * ordinal by ntile's own size formula (first N mod k buckets get
    * one extra row), so the result is cell-identical to the oracle's
    * ntile. m11_quantile_disc is the approx-quantile twin; this is the
    * exact one, driver-checked. */
  val a30EquidepthHist: Q = (s, d) => {
    val base = lineitem(s, d).select(
      col("l_extendedprice").as("p"), col("l_orderkey"), col("l_linenumber"))
    val withId = GlobalRowId.withRowIdCols(
      base, Seq("p", "l_orderkey", "l_linenumber"), numPartitions = 32)
    val n = base.agg(count(lit(1)).as("N"))
    withId.crossJoin(broadcast(n))
      .selectExpr("p", "rowid", "N div 10 AS q", "N % 10 AS r")
      .selectExpr("p",
        """CAST(CASE WHEN rowid < r * (q + 1) THEN rowid div (q + 1)
          |     ELSE r + (rowid - r * (q + 1)) div q END + 1 AS BIGINT)
          |  AS bucket""".stripMargin)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("p").as("lo"), max("p").as("hi"))
      .orderBy("bucket")
  }

  /** LJ2: exact Jaccard similarity self-join (threshold 0.95) by PREFIX
    * FILTERING — the all-pairs/PPJoin candidate scheme. A doc of m
    * distinct tokens keeps only its m − ⌈t·m⌉ + 1 RAREST as its prefix,
    * and two docs can reach Jaccard ≥ t only if their prefixes share a
    * token — so candidate generation is an equi-join on prefix tokens,
    * never all-pairs (the oracle IS brute-force all-pairs, so any
    * recall loss fails the hash compare loudly). PPJoin's POSITIONAL
    * filter then prunes candidates before verification: each prefix row
    * carries its token's position in the doc's (df, tok) order, the
    * per-pair min overlap upper bound follows from the matched
    * positions, and the Jaccard threshold is applied to that bound in
    * exact integer arithmetic. Survivors are verified exactly via the
    * sorted-array intersection kernel.
    *
    * Rarity needs no global vocabulary ORDINAL at all: the prefix is
    * chosen by a per-doc window ordered on (df, tok) directly, so the
    * only window in the plan is partitioned by doc_id. The (tok → df)
    * table comes straight from an aggregate — statistics survive, AQE
    * can broadcast it into the token join, and nothing is ever
    * funnelled through one task however large the vocabulary grows.
    * (An earlier cut ranked the vocabulary through the range-partition
    * ordinal operator; correct, but its eager checkpoint erases stats
    * and forced the vocab join to sort-merge — 2× slower end-to-end.)
    *
    * Verification: each doc's SORTED token array rides along on two
    * 1:1 equi-joins (the per-doc array table is an aggregate — AQE
    * broadcasts it when small), and |A∩B| is a per-row two-pointer
    * codegen merge ([[org.apache.spark.sql.graft.SetKernels]]) — no
    * hashing, no allocation, and no (pairs × tokens) explode-join
    * shuffle. Replacing the explode-join verification with the array
    * kernel measured 2.6× end-to-end on the r8 shape; the built-in
    * `size(array_intersect(..))` per-row hash set was itself 2.2×
    * slower than the kernel. */
  val lj2PrefixJaccard: Q = (s, d) => {
    val (docArrs, _, sized) = lj2Build(s, d)
    val verified = sized
      .join(docArrs.select(col("doc_id").as("a_id"), col("ts").as("ta")), "a_id")
      .join(docArrs.select(col("doc_id").as("b_id"), col("ts").as("tb")), "b_id")
      .withColumn("i",
        graft.functions.SetFunctions.sortedIntersectCount(col("ta"), col("tb")))
    val j = col("i").cast("double") /
      (col("ma") + col("mb") - col("i")).cast("double")
    verified
      .where(j >= lit(0.95))
      .select(col("a_id"), col("b_id"), Orc.r4(j).as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Bench self-diagnosis (VERDICT r11 item 1b): the PPJoin candidate
    * count is the data-dependent quantity that decides lj2's cost, so
    * the bench reports it alongside the timing instead of leaving an
    * out-of-band reading unexplained. Builds the same frames as the
    * production query, counts the post-prune candidates, and cleans up
    * its own persists (this path's frames are never handed to a
    * caller, so the in-function unpersist is safe here). */
  private[graft] def lj2CandidateCount(s: SparkSession, d: String): Long = {
    val (docArrs, pref, sized) = lj2Build(s, d)
    try sized.count()
    finally {
      docArrs.unpersist(blocking = false)
      pref.unpersist(blocking = false)
    }
  }

  /** Shared frame builder for [[lj2PrefixJaccard]] and its candidate
    * diagnostic — one definition so the diagnostic can never drift from
    * the plan it is explaining. Returns (docArrs, pref, sized); the two
    * persisted handles stay cached for the caller's materialization and
    * are swept by the drive loop's [[graft.CacheLifecycle]] afterwards
    * (lj2 is on its persist allowlist). */
  private def lj2Build(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val thr = 0.95
    val toks = documents(s, d)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .where(length(col("tok")) > 0)
    // one aggregate carries BOTH the verification payload (sorted token
    // array) and the size m — sort_array's UTF8 binary order is exactly
    // the kernel's sortedness contract. docArrs is consumed THREE times
    // (prefix sizes + both verification sides) and pref twice (the two
    // self-join sides): without a persist each consumer re-runs the
    // whole explode→groupBy→window lineage, which measured 4× the cost
    // of the query's real work at sf0.1 (35 s → 8 s). MEMORY_AND_DISK
    // is the production multi-consumer choice — spills instead of
    // recomputing when the tokenized corpus outgrows executor memory.
    val docArrs = toks.groupBy("doc_id")
      .agg(sort_array(collect_list(col("tok"))).as("ts"),
        count(lit(1)).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // prefix rows CARRY the doc's distinct-token count m, so the
    // size-band predicate (J ≥ t forces t·max(ma,mb) ≤ min(ma,mb)) can
    // live in the candidate join condition itself — mismatched-size
    // pairs are never materialized, never reach the distinct()
    val pref = toks.join(dfreq, "tok")
      .join(docArrs.select("doc_id", "m"), "doc_id")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "tok")))
      .where(col("pos") <= (col("m") - ceil(col("m") * lit(thr)) + 1L))
      .select(col("doc_id"), col("tok"), col("m"), col("pos").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // A plain equi-join on tok. The prefix vocabulary is Zipfian (at
    // sf0.1 two tokens own 96% of the pair fanout), but salting the
    // join on (tok, pmod(xxhash64(a_id), defaultParallelism)) lost 7 of
    // 10 alternating `Cli probe` pairs (local[32] on a 4-core host,
    // median of three walls: 12.1 s salted vs 7.9 s plain), so it is
    // not used.
    val a = pref.toDF("a_id", "tok", "ma", "pa")
    val b = pref.toDF("b_id", "tok", "mb", "pb")
    // PPJoin positional filter: with both docs' tokens in the same
    // global (df, tok) order, a common token at 1-indexed positions
    // (pa, pb) bounds the overlap by
    //   ub = min(pa, pb) + min(ma − pa, mb − pb)
    // (common tokens before it ≤ min(pa−1, pb−1), itself, after it
    // ≤ min of the remainders). Jaccard ≥ t needs overlap ≥
    // t·(ma+mb)/(1+t); at t = 0.95 = 19/20 that is EXACTLY
    // 39·overlap ≥ 19·(ma+mb) in integers — no float ceil at the
    // boundary. The bound must hold at EVERY matched prefix token, so
    // aggregate min(ub) per pair (this replaces the former distinct()
    // with a same-shuffle groupBy) and prune pairs before the
    // verification joins ever see them.
    val sized = a.join(b,
        a("tok") === b("tok") &&
          col("a_id") < col("b_id") &&
          col("ma") >= ceil(col("mb") * lit(thr)) &&
          col("mb") >= ceil(col("ma") * lit(thr)))
      .select(col("a_id"), col("b_id"), col("ma"), col("mb"),
        (least(col("pa"), col("pb")) +
          least(col("ma") - col("pa"), col("mb") - col("pb"))).as("ub"))
      .groupBy("a_id", "b_id", "ma", "mb").agg(min("ub").as("ub"))
      .where(lit(39L) * col("ub") >= lit(19L) * (col("ma") + col("mb")))
      .select("a_id", "b_id", "ma", "mb")
    (docArrs, pref, sized)
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "lt10_bpe_pairs" -> lt10BpePairs,
    "q26_sessionize" -> q26Sessionize,
    "a30_equidepth_hist" -> a30EquidepthHist,
    "lj2_prefix_jaccard" -> lj2PrefixJaccard)

  val oracleSql: Map[String, String] = Map(
    "lt10_bpe_pairs" ->
      """WITH w AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |pr AS (
        |  SELECT unnest(list_transform(range(len(t) - 1),
        |    i -> t[CAST(i + 1 AS INT)] || ' ' || t[CAST(i + 2 AS INT)])) AS pair
        |  FROM w),
        |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY pair)
        |SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "q26_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
        |f AS (
        |  SELECT user_id, event_id, tu,
        |    CASE WHEN lag(tu) OVER w IS NULL
        |           OR tu - lag(tu) OVER w > 43200000000 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
        |s AS (
        |  SELECT user_id, tu,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM f)
        |SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
        |  min(tu) AS start_us, max(tu) AS end_us,
        |  max(tu) - min(tu) AS dur_us
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,
    "a30_equidepth_hist" ->
      """WITH t AS (
        |  SELECT l_extendedprice AS p,
        |    ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
        |      AS bucket
        |  FROM lineitem)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(p) AS lo, max(p) AS hi
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin,
    "lj2_prefix_jaccard" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(list_distinct(string_split(text, ' ')), x -> len(x) > 0)
        |      AS toks
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(len(list_intersect(a.toks, b.toks)) /
        |    CAST(len(a.toks) + len(b.toks)
        |         - len(list_intersect(a.toks, b.toks)) AS DOUBLE), 4) AS jaccard
        |FROM tk a JOIN tk b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) /
        |    CAST(len(a.toks) + len(b.toks)
        |         - len(list_intersect(a.toks, b.toks)) AS DOUBLE) >= 95e-2
        |ORDER BY a_id, b_id""".stripMargin)
}

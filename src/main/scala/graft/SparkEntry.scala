package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator registry (one entry per implemented
  * operator from SURVEY.md §2); `oracleSql` carries the DuckDB-equivalent
  * SQL for every oracle-checkable entry; `benchQueries` names the headline
  * subset whose shapes mirror BASELINE.md q1..q9 so bench numbers stay
  * comparable round over round.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_scan_agg")(spark, "/root/testdata/sf0.001")

  /** Registered query batches, one object per SURVEY.md tranche, in
    * registration order (later keys would win on conflict; keys are
    * unique). ONE ordered list — queries and oracleSql are derived from
    * it, so the two can no longer drift (VERDICT r10 consolidation
    * item). A flat Seq folded at runtime: a 120-term `++` expression
    * tree crossed scalac's typer stack depth and crashed the build.
    */
  private val batches: Seq[graft.queries.QueryBatch] = Seq(
    graft.queries.Relational,
    graft.queries.WindowsFuncs,
    graft.queries.TimeJson,
    graft.queries.LlmOps,
    graft.queries.MlQueries,
    graft.queries.StreamingQueries,
    graft.queries.Hardening,
    graft.queries.PipelineOps,
    graft.queries.SurfaceR5,
    graft.queries.SurfaceR5b,
    graft.queries.SurfaceR6,
    graft.queries.SurfaceR6b,
    graft.queries.SurfaceR6c,
    graft.queries.SurfaceR6d,
    graft.queries.SurfaceR6e,
    graft.queries.SurfaceR6f,
    graft.queries.SurfaceR6g,
    graft.queries.SurfaceR6h,
    graft.queries.SurfaceR6i,
    graft.queries.SurfaceR6j,
    graft.queries.SurfaceR6k,
    graft.queries.SurfaceR6l,
    graft.queries.SurfaceR6m,
    graft.queries.SurfaceR6n,
    graft.queries.SurfaceR6o,
    graft.queries.SurfaceR6p,
    graft.queries.SurfaceR8,
    graft.queries.SurfaceR8b,
    graft.queries.SurfaceR8c,
    graft.queries.SurfaceR8d,
    graft.queries.SurfaceR8e,
    graft.queries.SurfaceR8f,
    graft.queries.SurfaceR8g,
    graft.queries.SurfaceR8h,
    graft.queries.SurfaceR8i,
    graft.queries.SurfaceR8j,
    graft.queries.SurfaceR8k,
    graft.queries.SurfaceR8l,
    graft.queries.SurfaceR8m,
    graft.queries.SurfaceR8n,
    graft.queries.SurfaceR9,
    graft.queries.SurfaceR10,
    graft.queries.SurfaceR10b,
    graft.queries.SurfaceR10c,
    graft.queries.SurfaceR10d,
    graft.queries.SurfaceR10e,
    graft.queries.SurfaceR10f,
    graft.queries.SurfaceR10g,
    graft.queries.SurfaceR10h,
    graft.queries.SurfaceR10i,
    graft.queries.SurfaceR10j,
    graft.queries.SurfaceR10k,
    graft.queries.SurfaceR10l,
    graft.queries.SurfaceR10m,
    graft.queries.SurfaceR10n,
    graft.queries.SurfaceR10o,
    graft.queries.SurfaceR10p,
    graft.queries.SurfaceR10q,
    graft.queries.SurfaceR10r,
    graft.queries.SurfaceR10s,
    graft.queries.SurfaceR10t,
    graft.queries.SurfaceR10u,
    graft.queries.SurfaceR10v,
    graft.queries.SurfaceR10w,
    graft.queries.SurfaceR10x,
    graft.queries.SurfaceR10y,
    graft.queries.SurfaceR10z,
    graft.queries.SurfaceR10aa,
    graft.queries.SurfaceR10ab,
    graft.queries.SurfaceR10ac,
    graft.queries.SurfaceR10ad,
    graft.queries.SurfaceR10ae,
    graft.queries.SurfaceR10af,
    graft.queries.SurfaceR10ag,
    graft.queries.SurfaceR10ah,
    graft.queries.SurfaceR10ai,
    graft.queries.SurfaceR10aj,
    graft.queries.SurfaceR10ak,
    graft.queries.SurfaceR10al,
    graft.queries.SurfaceR10am,
    graft.queries.SurfaceR10an,
    graft.queries.SurfaceR10ao,
    graft.queries.SurfaceR10ap,
    graft.queries.SurfaceR10aq,
    graft.queries.SurfaceR10ar,
    graft.queries.SurfaceR10as,
    graft.queries.SurfaceR10at,
    graft.queries.SurfaceR10au,
    graft.queries.SurfaceR10av,
    graft.queries.SurfaceR10aw,
    graft.queries.SurfaceR10ax,
    graft.queries.SurfaceR10ay,
    graft.queries.SurfaceR10az,
    graft.queries.SurfaceR10ba,
    graft.queries.SurfaceR10bb,
    graft.queries.SurfaceR10bc,
    graft.queries.SurfaceR10bd,
    graft.queries.SurfaceR10bf,
    graft.queries.SurfaceR10bg,
    graft.queries.SurfaceR10bi,
    graft.queries.SurfaceR10bj,
    graft.queries.SurfaceR10bk,
    graft.queries.SurfaceR10bl,
    graft.queries.SurfaceR10bm,
    graft.queries.SurfaceR10bn,
    graft.queries.SurfaceR10bo,
    graft.queries.SurfaceR10bp,
    graft.queries.SurfaceR10bq,
    graft.queries.SurfaceR10br,
    graft.queries.SurfaceR10bs,
    graft.queries.SurfaceR10bt,
    graft.queries.SurfaceR10bu,
    graft.queries.SurfaceR10bv,
    graft.queries.SurfaceR10bw,
    graft.queries.SurfaceR10bx,
    graft.queries.SurfaceR10by,
    graft.queries.SurfaceR10bz,
    graft.queries.SurfaceR10ca,
    graft.queries.SurfaceR10cb,
    graft.queries.SurfaceR10cc,
    graft.queries.SurfaceR10cd,
    graft.queries.SurfaceR10ce,
    graft.queries.SurfaceR10cf,
    graft.queries.SurfaceR10cg,
    graft.queries.SurfaceR10ch,
    graft.queries.SurfaceR10ci,
    graft.queries.SurfaceR10cj,
    graft.queries.SurfaceR10ck,
    graft.queries.SurfaceR10cl,
    graft.queries.SurfaceR10cm,
    graft.queries.SurfaceR10cn,
    graft.queries.SurfaceR10co,
    graft.queries.SurfaceR10cp,
    graft.queries.SurfaceR10cq,
    graft.queries.SurfaceR10cr,
    graft.queries.SurfaceR10cs,
    graft.queries.SurfaceR10ct,
    graft.queries.SurfaceR10cu,
    graft.queries.SurfaceR10cv,
    graft.queries.SurfaceR10cw,
    graft.queries.SurfaceR10cx,
    graft.queries.SurfaceR10cy,
    graft.queries.SurfaceR10cz,
    graft.queries.SurfaceR10da,
    graft.queries.SurfaceR10db,
    graft.queries.SurfaceR10dc,
    graft.queries.SurfaceR10dd,
    graft.queries.SurfaceR10de,
    graft.queries.SurfaceR10df,
    graft.queries.SurfaceR10dg,
    graft.queries.SurfaceR10dh,
    graft.queries.SurfaceR10di,
    graft.queries.SurfaceR10dj,
    graft.queries.SurfaceR10dk,
    graft.queries.SurfaceR10dl,
    graft.queries.SurfaceR11a,
    graft.queries.SurfaceR11b,
    graft.queries.SurfaceR11c,
    graft.queries.SurfaceR11d,
    graft.queries.SurfaceR11e,
    graft.queries.SurfaceR11f,
    graft.queries.SurfaceR11g,
    graft.queries.SurfaceR11h,
    graft.queries.SurfaceR11i,
    graft.queries.SurfaceR11j,
    graft.queries.SurfaceR12a,
    graft.queries.SurfaceR12b,
    graft.queries.SurfaceR12c,
    graft.queries.SurfaceR12d,
    graft.queries.SurfaceR12e,
    graft.queries.SurfaceR12f,
    graft.queries.SurfaceR12g,
    graft.queries.SurfaceR12h,
    graft.queries.SurfaceR12i,
    graft.queries.SurfaceR12j,
    graft.queries.SurfaceR12k,
    graft.queries.SurfaceR12l,
    graft.queries.SurfaceR13a,
    graft.queries.SurfaceR13b,
    graft.queries.SurfaceR13c,
    graft.queries.SurfaceR13d,
    graft.queries.SurfaceR13e,
    graft.queries.SurfaceR13f,
    graft.queries.SurfaceR13g,
    graft.queries.SurfaceR14a,
    graft.queries.SurfaceR14b,
    graft.queries.SurfaceR14c,
    graft.queries.SurfaceR15a,
    graft.queries.SurfaceR16a)

  private def queryMaps: Seq[Map[String, (SparkSession, String) => DataFrame]] =
    batches.map(_.queries)

  private def oracleMaps: Seq[Map[String, String]] =
    batches.map(_.oracleSql)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queryMaps.reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * Every `round(E, 4)` is mechanically rewritten to the floor-based
    * IEEE op sequence `Orc.r4` emits on the Spark side (SURVEY §5.3:
    * "enforced mechanically, not by convention"). */
  def oracleSql: Map[String, String] =
    oracleMaps.reduce(_ ++ _)
      .map { case (k, v) => k -> Orc.round4Sql(v) }

  /** The keys of `keys` (default: the registry, in its iteration order)
    * that a comma-separated spec selects, in that order. An entry that
    * ends in `*` is a prefix and selects every key it starts; any other
    * entry must name a key exactly and selects only it. An entry that
    * is not a key (the throw names it and how many keys `entry*` would
    * select), a prefix that starts no key, or a spec with no entries
    * throws, so a misspelled list fails before any work instead of
    * running a partial, widened or empty drive. */
  def select(spec: String, keys: Seq[String] = queries.keys.toSeq): Seq[String] = {
    val entries = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (entries.isEmpty)
      throw new IllegalArgumentException(s"key spec '$spec' selects no key")
    val (prefixEntries, exact) = entries.partition(_.endsWith("*"))
    val prefixes = prefixEntries.map(_.stripSuffix("*"))
    def starting(p: String) = keys.count(_.startsWith(p))
    val unknown =
      exact.filterNot(keys.toSet).map(e => s"'$e' ($e* would select ${starting(e)})") ++
        prefixes.filter(starting(_) == 0).map(p => s"'$p*' (starts no key)")
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"key spec entries match no key: ${unknown.mkString(", ")}")
    keys.filter(k => exact.contains(k) || prefixes.exists(k.startsWith))
  }

  /** Headline bench subset — names and shapes match BASELINE.md. */
  def benchQueries: Seq[String] = Seq(
    "q1_scan_agg", "q2_join3", "q3_window_topk", "q4_anti_join",
    "q5_rollup", "q6_event_window_json", "q7_sort_limit", "q8_dedup",
    "q9_cosine_selfjoin")
}

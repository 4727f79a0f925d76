package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Orc, Tables}

/** Round-6 wave 2: the modern SQL-surface APIs (named-parameter queries,
  * session variables) and minute-grid linear interpolation — the
  * time-series resample pass that turns irregular event streams into a
  * dense feature grid.
  *
  * Reference: /root/reference is empty (SURVEY.md §0.1); contract rows
  * SURVEY.md §2.8 (SQL surface), §2.9 (event time).
  */
object SurfaceR6e extends QueryBatch {
  import Orc.r4
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  // ---- X8: named-parameter SQL ----

  /** X8: parameterized SQL — named placeholders bound server-side
    * (`spark.sql(text, args)`), the injection-safe form of templated
    * analytics at any scale. Parameters arrive as literals in the plan,
    * so constant folding and pushdown see them exactly like hand-written
    * constants.
    */
  val x8ParameterizedSql: Q = (s, d) => {
    lineitem(s, d).createOrReplaceTempView("graft_x8_lineitem")
    s.sql(Orc.round4Sql(
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM graft_x8_lineitem
        |WHERE l_discount BETWEEN :lo AND :hi
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      Map[String, Any]("lo" -> 0.02, "hi" -> 0.06))
  }

  // ---- X9: session variables ----

  /** X9: SQL session variables — DECLARE/SET VAR state shared across
    * statements in a session (thresholds, run dates) without string
    * templating. The variable reference folds to its value at plan
    * time, so it costs nothing at execution.
    */
  val x9SessionVariables: Q = (s, d) => {
    lineitem(s, d).createOrReplaceTempView("graft_x9_lineitem")
    s.sql("DECLARE OR REPLACE VARIABLE graft_thr DOUBLE DEFAULT 0.05")
    s.sql("SET VAR graft_thr = 0.03")
    s.sql(Orc.round4Sql(
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(sum(l_extendedprice), 4) AS sum_price
        |FROM graft_x9_lineitem
        |WHERE l_discount > graft_thr
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))
  }

  // ---- X10: SQL scripting ----

  /** X10: SQL scripting (BEGIN…END) — multi-statement procedural SQL
    * with local variables, executed as one unit; the script returns its
    * last statement's result. The data-derived threshold (mean discount)
    * flows through a script variable instead of client-side string
    * templating. Each statement is still a full Catalyst plan — the
    * scripting layer adds control flow, not a bypass. Scripting is on
    * by default in Spark 4.1, so the query sets no conf.
    */
  val x10SqlScripting: Q = (s, d) => {
    lineitem(s, d).createOrReplaceTempView("graft_x10_lineitem")
    s.sql(Orc.round4Sql(
      """BEGIN
        |  DECLARE thr DOUBLE DEFAULT 0.0;
        |  SET thr = (SELECT round(avg(l_discount), 4) FROM graft_x10_lineitem);
        |  SELECT l_returnflag, count(*) AS n_rows,
        |    round(sum(l_quantity), 4) AS sum_qty
        |  FROM graft_x10_lineitem
        |  WHERE l_discount > thr
        |  GROUP BY l_returnflag ORDER BY l_returnflag;
        |END""".stripMargin))
  }

  // ---- LT2: minute-grid linear interpolation ----

  /** LT2: resample + linearly interpolate — average `value` per
    * (event_type, minute), then fill every minute of each type's
    * observed span: gaps take prev + (next−prev)·(t−t_prev)/(t_next−t_prev).
    * All window functions over (type, minute) — one shuffle by type,
    * then linear scans; the spine explode is per-type and never crosses
    * partitions. This is the dense-grid precursor to feature windows and
    * anomaly detection on sparse telemetry.
    *
    * Scale note: the forward neighbor (nv/nm) is computed with a RUNNING
    * frame over the REVERSE sort (unboundedPreceding..currentRow on
    * ORDER BY m DESC), which Spark evaluates incrementally in O(n) per
    * partition. The naive `rowsBetween(currentRow, unboundedFollowing)`
    * frame plans as UnboundedFollowingWindowFunctionFrame, which re-scans
    * the partition remainder per row — O(n²) in the spine length (time
    * span ÷ grid step), i.e. a cost set by the TIME SPAN, not the data
    * scale, and it single-threads a 43k-row partition for minutes.
    */
  val lt2LinearInterp: Q = (s, d) => {
    val obs = events(s, d)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 60) * 60).cast("long").as("m"))
      .agg(r4(avg(col("value"))).as("v"))
    val spine = obs.groupBy("event_type")
      .agg(min("m").as("lo"), max("m").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(60L))).as("m"))
    val w = Window.partitionBy("event_type").orderBy("m")
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward fill = backward fill over the reverse ordering (O(n) running
    // frame; see Scale note above)
    val fwdRun = Window.partitionBy("event_type").orderBy(col("m").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(obs, Seq("event_type", "m"), "left")
      .select(col("event_type"), col("m"), col("v"),
        last(col("v"), ignoreNulls = true).over(back).as("pv"),
        last(when(col("v").isNotNull, col("m")), ignoreNulls = true)
          .over(back).as("pm"),
        last(col("v"), ignoreNulls = true).over(fwdRun).as("nv"),
        last(when(col("v").isNotNull, col("m")), ignoreNulls = true)
          .over(fwdRun).as("nm"))
      .select(col("event_type"), col("m"),
        r4(when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (col("m") - col("pm")) / (col("nm") - col("pm")))).as("v_interp"),
        col("v").isNull.as("filled"))
      .orderBy("event_type", "m")
  }

  // ---- registry ----

  val queries: Map[String, Q] = Map(
    "x8_parameterized_sql" -> x8ParameterizedSql,
    "x9_session_variables" -> x9SessionVariables,
    "x10_sql_scripting" -> x10SqlScripting,
    "lt2_linear_interp" -> lt2LinearInterp)

  val oracleSql: Map[String, String] = Map(
    "x8_parameterized_sql" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.02 AND 0.06
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x9_session_variables" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(sum(l_extendedprice), 4) AS sum_price
        |FROM lineitem
        |WHERE l_discount > 0.03
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x10_sql_scripting" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |WHERE l_discount > (SELECT round(avg(l_discount), 4) FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "lt2_linear_interp" ->
      """WITH obs AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 60) * 60 AS BIGINT) AS m,
        |    round(avg(value), 4) AS v
        |  FROM events GROUP BY 1, 2
        |),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(min(m), max(m), 60)) AS m
        |  FROM obs GROUP BY event_type
        |),
        |j AS (
        |  SELECT s.event_type, s.m, o.v,
        |    last_value(o.v IGNORE NULLS) OVER
        |      (PARTITION BY s.event_type ORDER BY s.m
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN o.v IS NOT NULL THEN s.m END IGNORE NULLS) OVER
        |      (PARTITION BY s.event_type ORDER BY s.m
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm,
        |    first_value(o.v IGNORE NULLS) OVER
        |      (PARTITION BY s.event_type ORDER BY s.m
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN o.v IS NOT NULL THEN s.m END IGNORE NULLS) OVER
        |      (PARTITION BY s.event_type ORDER BY s.m
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nm
        |  FROM spine s LEFT JOIN obs o
        |    ON s.event_type = o.event_type AND s.m = o.m
        |)
        |SELECT event_type, m,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       ELSE pv + (nv - pv) * (m - pm) / CAST(nm - pm AS DOUBLE) END, 4)
        |    AS v_interp,
        |  v IS NULL AS filled
        |FROM j ORDER BY event_type, m""".stripMargin)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Tables
import graft.streaming.StreamingOps

/** Streaming operators exposed to the driver harness: each entry runs the
  * real micro-batch engine (file source → transform → memory sink) to
  * completion and returns the sink table. With the whole fixture arriving
  * as one batch the results are deterministic, so most entries carry
  * DuckDB oracles too — same expressions, batch semantics.
  */
object StreamingQueries extends QueryBatch {

  type Q = (SparkSession, String) => DataFrame

  /** T4: watermarked tumbling window (complete mode → full history). */
  val t4StreamTumbling: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.tumblingCounts(StreamingOps.eventsStream(s, d)),
      "t4_sink", OutputMode.Complete())
      .orderBy("win_start_s", "event_type")

  /** T2 streaming: sliding-window counts (30 min window, 15 min slide —
    * each event lands in exactly two windows, which the batch oracle
    * reproduces with an explicit two-element unnest on the slide grid). */
  val t2bStreamSliding: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.slidingCounts(StreamingOps.eventsStream(s, d),
        windowDur = "30 minutes", slide = "15 minutes", watermark = "1 hour"),
      "t2b_sink", OutputMode.Complete())
      .orderBy("win_start_s", "event_type")

  /** T11: streaming session windows (complete mode; same oracle as the
    * batch t3 session window — single-batch run makes them identical). */
  val t11StreamSession: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.sessionCounts(StreamingOps.eventsStream(s, d)),
      "t11_sink", OutputMode.Complete())
      .orderBy("user_id", "sess_start_us")

  /** T5: streaming dedup by event_id then count per type. */
  val t5StreamDedup: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.dedupCountsByType(StreamingOps.eventsStream(s, d)),
      "t5_sink", OutputMode.Complete())
      .orderBy("event_type")

  /** T6: flatMapGroupsWithState running per-user counts (update mode;
    * one batch → one row per user = final state). */
  val t6StatefulCounts: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.runningUserCounts(StreamingOps.eventsStream(s, d)),
      "t6_sink", OutputMode.Update())
      .groupBy("user_id").agg(max("n_events").as("n_events"))
      .orderBy("user_id")

  /** transformWithState REQUIRES the RocksDB state store: t6b and t14
    * set it for their run only. */
  private val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** T6b: the same running per-user counts through the Spark 4
    * `transformWithState` StatefulProcessor — typed named ValueState
    * with optional TTL, the at-scale successor to
    * flatMapGroupsWithState (state off-heap in RocksDB, which this
    * operator REQUIRES: the provider conf is set for the run and
    * restored after). Oracle identical to t6: the last update per user
    * must equal the batch count regardless of batching. */
  val t6bTwsCounts: Q = (s, d) => Shared.withConf(s, rocksDb) {
    StreamingOps.runToMemory(
      StreamingOps.runningUserCountsTWS(StreamingOps.eventsStream(s, d)),
      "t6b_sink", OutputMode.Update())
      .groupBy("user_id").agg(max("n_events").as("n_events"))
      .orderBy("user_id")
    // the stream has fully drained inside runToMemory; the batch agg
    // above reads the memory sink and no longer needs the provider
  }

  /** T7: stream–static join against the customer dim. */
  val t7StreamStaticJoin: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.enrichedSegmentCounts(
        StreamingOps.eventsStream(s, d), Tables.customer(s, d)),
      "t7_sink", OutputMode.Complete())
      .orderBy("c_mktsegment")

  /** T8: append-mode stateless pipe through a memory sink. */
  val t8AppendSink: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.eventsStream(s, d)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us")),
      "t8_sink", OutputMode.Append())
      .orderBy("event_id")

  /** T9: watermarked stream–stream self-join (clicks → purchases within
    * 1 hour); inner-join matches emit per micro-batch, so the single-batch
    * run is batch-equivalent and oracle-checkable. */
  val t9StreamStreamJoin: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.clickToPurchaseJoin(StreamingOps.eventsStream(s, d)),
      "t9_sink", OutputMode.Append())
      .orderBy("click_id", "purchase_id")

  val t12StreamStreamOuter: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.clickToPurchaseLeftOuter(StreamingOps.eventsStream(s, d)),
      "t12_sink", OutputMode.Append())
      .orderBy(asc("click_id"), asc_nulls_first("purchase_id"))

  /** T13: chained windowed aggregations (15 min → 1 h) in APPEND mode —
    * emitted rows are exactly the 1 h windows the final watermark passed,
    * which the batch oracle reproduces with the same cutoff. */
  val t13ChainedAgg: Q = (s, d) =>
    StreamingOps.runToMemory(
      StreamingOps.chainedWindowCounts(StreamingOps.eventsStream(s, d)),
      "t13_sink", OutputMode.Append())
      .orderBy("win_start_s", "event_type")

  /** T14: event-time-timer sessionization (transformWithState +
    * RocksDB). The provider conf is set for this query and restored
    * after — TWS requires the RocksDB state store. */
  val t14TimerSessions: Q = (s, d) => Shared.withConf(s, rocksDb) {
    StreamingOps.runToMemory(
      StreamingOps.sessionCloseTimers(StreamingOps.eventsStream(s, d)),
      "t14_sink", OutputMode.Update())
      .orderBy("user_id", "sess_start_s")
  }

  val queries: Map[String, Q] = Map(
    "t14_timer_sessions" -> t14TimerSessions,
    "t13_chained_agg" -> t13ChainedAgg,
    "t9_stream_stream_join" -> t9StreamStreamJoin,
    "t12_stream_stream_outer" -> t12StreamStreamOuter,
    "t4_stream_tumbling" -> t4StreamTumbling,
    "t2b_stream_sliding" -> t2bStreamSliding,
    "t5_stream_dedup" -> t5StreamDedup,
    "t6_stateful_counts" -> t6StatefulCounts,
    "t6b_tws_counts" -> t6bTwsCounts,
    "t7_stream_static_join" -> t7StreamStaticJoin,
    "t8_append_sink" -> t8AppendSink,
    "t11_stream_session" -> t11StreamSession,
  )

  val oracleSql: Map[String, String] = Map(
    // Timer-eviction cutoff: sessions closed by a later in-batch event
    // always emit; each user's LAST session emits only if its timer
    // (end + 10 min gap) expired under the final watermark (max event
    // time − 5 min delay).
    "t14_timer_sessions" ->
      """WITH e AS (SELECT user_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts
        |           FROM events),
        |m AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m),
        |sess AS (SELECT user_id, min(ts) AS st, max(ts) AS en, count(*) AS n
        |         FROM g GROUP BY user_id, sid),
        |wm AS (SELECT max(ts) - INTERVAL 5 MINUTE AS w FROM e),
        |last AS (SELECT user_id, max(en) AS men FROM sess GROUP BY user_id)
        |SELECT s.user_id AS user_id, CAST(epoch(st) AS BIGINT) AS sess_start_s,
        |  CAST(epoch(en) AS BIGINT) AS sess_end_s, n AS n_events
        |FROM sess s JOIN last l ON s.user_id = l.user_id
        |WHERE s.en < l.men
        |   OR s.en + INTERVAL 10 MINUTE < (SELECT w FROM wm)
        |ORDER BY s.user_id, sess_start_s""".stripMargin,
    // Append-mode emission cutoff: a 1 h window is emitted iff the final
    // watermark (max event time − 30 min delay) has passed its end.
    "t13_chained_agg" ->
      """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e)
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start_s,
        | event_type, count(*) AS n_events
        |FROM e
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
        |GROUP BY 1, 2 ORDER BY win_start_s, event_type""".stripMargin,
    // The cutoff reproduces streaming state eviction: a null-extended row
    // is emitted only when the final watermark (min over both streams of
    // max event time, minus the 1h delay) passes the click's join window.
    "t12_stream_stream_outer" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS puser, CAST(ts AS TIMESTAMP) AS pts
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
        |              - INTERVAL 1 HOUR AS w)
        |SELECT c.user_id, c.click_id, p.purchase_id,
        | CAST(epoch_us(c.cts) AS BIGINT) AS click_ts_us,
        | CAST(epoch_us(p.pts) AS BIGINT) AS purchase_ts_us
        |FROM c LEFT JOIN p
        |  ON c.user_id = p.puser
        | AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
        |WHERE p.purchase_id IS NOT NULL
        |   OR c.cts + INTERVAL 1 HOUR < (SELECT w FROM wm)
        |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin,
    "t11_stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT user_id,
        | CAST(epoch_us(min(ts)) AS BIGINT) AS sess_start_us,
        | CAST(epoch_us(max(ts)) AS BIGINT) AS sess_end_us,
        | count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, sess_start_us""".stripMargin,
    "t4_stream_tumbling" ->
      """SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS win_start_s,
        | event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY win_start_s, event_type""".stripMargin,
    "t2b_stream_sliding" ->
      """SELECT win_start_s, event_type, count(*) AS n_events FROM (
        | SELECT event_type,
        |  unnest([CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) * 900,
        |          CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) * 900 - 900])
        |    AS win_start_s
        | FROM events) t
        |GROUP BY win_start_s, event_type
        |ORDER BY win_start_s, event_type""".stripMargin,
    "t5_stream_dedup" ->
      """SELECT event_type, count(DISTINCT event_id) AS n_unique
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "t6_stateful_counts" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical batch-equivalence target through transformWithState
    "t6b_tws_counts" ->
      """SELECT user_id, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "t7_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "t8_append_sink" ->
      """SELECT event_id, event_type, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin,
    "t9_stream_stream_join" ->
      """SELECT c.user_id, c.click_id, p.purchase_id,
        | CAST(epoch_us(c.cts) AS BIGINT) AS click_ts_us,
        | CAST(epoch_us(p.pts) AS BIGINT) AS purchase_ts_us
        |FROM (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
        |      FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,
  )
}

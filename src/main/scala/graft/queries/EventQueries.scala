package graft.queries

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.functions._

/** Event-time operators over the `events` stream table (SURVEY.md §2.12):
  * tumbling / sliding / session windows, computed in batch so the DuckDB
  * oracle can replay them. The same expressions run unchanged under
  * `readStream` + `withWatermark` (see graft.streaming.EventStream).
  *
  * Window starts are emitted as BIGINT epoch seconds, never raw
  * timestamps, for exact cross-engine comparison.
  */
object EventQueries {

  val specs: Seq[QuerySpec] = Seq(

    // q22 — tumbling 1-hour window per event type.
    QuerySpec(
      "q22_tumbling_window",
      (s, d) => {
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
          .select(
            unix_timestamp(col("window.start")).as("ws"),
            col("event_type"), col("cnt"), col("total_value"))
          .orderBy("ws", "event_type")
      },
      Some("""SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS ws, event_type, count(*) AS cnt, round(sum(value), 2) AS total_value FROM events GROUP BY 1, 2 ORDER BY ws, event_type"""),
      "§2.12: tumbling event-time window"),

    // q23 — sliding window: 1 hour every 15 min; each event lands in 4
    // windows. Oracle expands the window assignment arithmetically.
    QuerySpec(
      "q23_sliding_window",
      (s, d) => {
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
          .select(
            unix_timestamp(col("window.start")).as("ws"),
            col("event_type"), col("cnt"), col("total_value"))
          .orderBy("ws", "event_type")
      },
      Some("""SELECT (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) - k) * 900 AS ws, event_type, count(*) AS cnt, round(sum(value), 2) AS total_value FROM events, (SELECT unnest(generate_series(0, 3)) AS k) ks GROUP BY 1, 2 ORDER BY ws, event_type"""),
      "§2.12: sliding window (1h size, 15m slide)"),

    // q24 — session window with 30-min gap per user
    // (functions.session_window). Oracle uses the lag/gap/cumsum idiom.
    // NB Spark merges events EXACTLY gap-apart (inclusive window end), so
    // the oracle's new-session predicate is strict `>` — pinned by
    // SemanticsSpec.
    QuerySpec(
      "q24_session_window",
      (s, d) => {
        t(s, d, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
          .select(
            col("user_id"),
            unix_timestamp(col("session_window.start")).as("sess_start"),
            col("cnt"), col("total_value"))
          .orderBy("user_id", "sess_start")
      },
      Some("""WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events), ol AS (SELECT user_id, ts, event_id, value, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts FROM o), g AS (SELECT user_id, ts, event_id, value, CASE WHEN pts IS NULL OR ts > pts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns FROM ol), sx AS (SELECT user_id, ts, value, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g) SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start, count(*) AS cnt, round(sum(value), 2) AS total_value FROM sx GROUP BY user_id, sid ORDER BY user_id, sess_start"""),
      "§2.12: session window, 30-min gap"))
}

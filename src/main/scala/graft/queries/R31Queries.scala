package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables

/** Round-7 widening, part 4: the two time-series monitors an ingest
  * pipeline runs over its daily vitals — trend-aware forecasting
  * (q315 Holt double-exponential smoothing, the recursive 2-state fold
  * q223's single-state EWMA stops short of) and change-point detection
  * (q316 CUSUM, the drift alarm).
  */
object R31Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q315 — HOLT LINEAR-TREND smoothing (α=0.5, β=0.3) per event
    // type: the daily means are rounded 6dp (order-free agg), collected
    // in day order, lifted to (level, trend) structs, and folded
    // sequentially — level' = α·x + (1−α)·(level + trend), trend' =
    // β·(level' − level) + (1−β)·trend, initialized at (x₁, 0). Spark
    // `aggregate` and DuckDB `list_reduce` both left-fold with the
    // identical IEEE expression tree (the q223 determinism argument,
    // extended to a 2-field accumulator). ORACLE HAZARD, measured on
    // DuckDB v1.0.0 and pinned in R31InvariantSpec: list_reduce with a
    // STRUCT accumulator mutates the accumulator field-by-field while
    // struct_pack evaluates, so the trend field would see the
    // already-updated level — the oracle therefore carries the state
    // as a DOUBLE[2] list, whose constructor evaluates both elements
    // against the pristine accumulator. Reports last level/trend and the
    // 7-step-ahead linear forecast. Scale: the recursive dependence
    // costs ONE collect of |days| rounded scalars per type — the state
    // windows can't express, paid on an already-aggregated tiny series.
    QuerySpec(
      "q315_holt_trend",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(round(avg("value"), 6).as("av"))
        daily.groupBy("event_type")
          .agg(sort_array(collect_list(struct(col("day"), col("av")))).as("ser"))
          .select(col("event_type"),
            size(col("ser")).cast("long").as("n_days"),
            expr("""aggregate(
                 slice(transform(ser, x -> x.av), 2, size(ser) - 1),
                 named_struct('lv', element_at(transform(ser, x -> x.av), 1),
                              'tr', cast(0.0 as double)),
                 (acc, x) -> named_struct(
                   'lv', 0.5 * x + 0.5 * (acc.lv + acc.tr),
                   'tr', 0.3 * ((0.5 * x + 0.5 * (acc.lv + acc.tr)) - acc.lv)
                         + 0.7 * acc.tr))""").as("st"))
          .select(col("event_type"), col("n_days"),
            round(col("st.lv"), 4).as("level"),
            round(col("st.tr"), 4).as("trend"),
            round(col("st.lv") + lit(7.0) * col("st.tr"), 4).as("forecast_7d"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, round(avg(value), 6) AS av FROM events GROUP BY 1, 2), ser AS (SELECT event_type, list(CAST(av AS DOUBLE) ORDER BY day) AS l FROM daily GROUP BY 1), st AS (SELECT event_type, len(l) AS n_days, list_reduce(list_transform(l, v -> [v, CAST(0.0 AS DOUBLE)]), (acc, x) -> [0.5 * x[1] + 0.5 * (acc[1] + acc[2]), 0.3 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1]) + 0.7 * acc[2]]) AS s FROM ser) SELECT event_type, CAST(n_days AS BIGINT) AS n_days, round(s[1], 4) AS level, round(s[2], 4) AS trend, round(s[1] + 7.0 * s[2], 4) AS forecast_7d FROM st ORDER BY event_type"""),
      "§2.5/§2.12 ext: Holt linear-trend smoothing — 2-state sequential fold + 7-step forecast (order-pinned struct math)"),

    // q316 — CUSUM CHANGE-POINT detection per event type: cumulative
    // sum of deviations from the series mean, scanned in day order; the
    // day where |CUSUM| peaks is the classic single-change-point
    // estimate, and the peak magnitude (micro-scaled) is the drift
    // alarm level an ingest monitor thresholds on. Running sums are
    // computed by an ordered window WITHIN each type partition (rows
    // bounded by the calendar, the q270/q295 stance), sequential adds
    // in identical order cross-engine. Ties on the peak resolve to the
    // earliest day.
    QuerySpec(
      "q316_cusum_changepoint",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(round(avg("value"), 6).as("av"))
        val mu = daily.groupBy("event_type")
          .agg(round(avg("av"), 6).as("mu"), count(lit(1)).as("n_days"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cu = daily.join(mu, "event_type")
          .withColumn("cusum", sum(col("av") - col("mu")).over(w))
          .withColumn("ac", abs(col("cusum")))
        val mx = cu.groupBy("event_type").agg(max("ac").as("mac"))
        cu.join(mx, "event_type")
          .where(col("ac") === col("mac"))
          .groupBy(col("event_type"))
          .agg(first(col("n_days")).as("n_days"),
            min("day").as("cp_day"),
            round(max("mac"), 6).as("peak_abs_cusum"))
          .select(col("event_type"), col("n_days"),
            date_format(col("cp_day"), "yyyy-MM-dd").as("cp_day"),
            col("peak_abs_cusum"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, round(avg(value), 6) AS av FROM events GROUP BY 1, 2), mu AS (SELECT event_type, round(avg(av), 6) AS mu, count(*) AS n_days FROM daily GROUP BY 1), cu AS (SELECT d.event_type, d.day, mu.n_days, abs(sum(d.av - mu.mu) OVER (PARTITION BY d.event_type ORDER BY d.day ROWS UNBOUNDED PRECEDING)) AS ac FROM daily d JOIN mu ON mu.event_type = d.event_type), mx AS (SELECT event_type, max(ac) AS mac FROM cu GROUP BY 1) SELECT cu.event_type, CAST(min(cu.n_days) AS BIGINT) AS n_days, strftime(min(cu.day), '%Y-%m-%d') AS cp_day, round(min(mx.mac), 6) AS peak_abs_cusum FROM cu JOIN mx ON mx.event_type = cu.event_type AND cu.ac = mx.mac GROUP BY 1 ORDER BY 1"""),
      "§2.5/§2.12 ext: CUSUM change-point per series — peak cumulative deviation day (ingest drift alarm)"))
}

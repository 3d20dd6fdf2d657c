package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-6 widening, final batch: two composite "platform" reports —
  * the end-to-end A/B experimentation readout (deterministic hash
  * assignment → per-variant funnel → sample-ratio-mismatch guard →
  * 2×2 χ² significance, all in exact integer arithmetic) and the
  * daily pipeline-health SLO monitor (volume / coverage / null-rate /
  * day-over-day drift with alarm flags — the first dashboard any
  * ingest owner builds). Both compose operators the library already
  * oracles individually; their value is the composition being checked
  * END-TO-END against DuckDB, the same stance as q250/q251.
  */
object R23Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q294 — A/B TEST READOUT: users split 50/50 by parity of the q16
    // modulo convention (deterministic, reproducible assignment — the
    // property an experiment platform must guarantee); conversion =
    // strict view→purchase (q240's pair rule); the report carries the
    // SAMPLE-RATIO-MISMATCH check (assignment counts vs 50/50, the
    // guard that catches a broken bucketing pipeline before anyone
    // reads the lift) and the 2×2 χ² statistic in its integer
    // cross-product form χ² = N·(ad−bc)²/(r₁r₂c₁c₂) — micro-floor-
    // quantized, no division until the end, engine-identical. The
    // per-variant funnel is ONE user-keyed aggregation; everything
    // after runs on a 2-row table. The χ² > 3.841 flag is the 95%
    // significance verdict.
    QuerySpec(
      "q294_ab_test",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("event_type"),
            expr("unix_timestamp(ts)").as("es"))
        val per = ev.where(col("event_type").isin("view", "purchase"))
          .groupBy("user_id")
          .agg(min(when(col("event_type") === "view", col("es"))).as("t_view"),
            min(when(col("event_type") === "purchase", col("es"))).as("t_buy"))
          .where(col("t_view").isNotNull)
          .select((col("user_id") % 2).as("variant"),
            (col("t_buy").isNotNull && col("t_buy") >= col("t_view"))
              .cast("long").as("converted"))
        val v = per.groupBy("variant")
          .agg(count(lit(1)).as("n_users"), sum("converted").as("n_conv"))
        val wide = v.agg(
          sum(when(col("variant") === 0L, col("n_users")).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 0L, col("n_conv")).otherwise(0L)).as("c0"),
          sum(when(col("variant") === 1L, col("n_users")).otherwise(0L)).as("n1"),
          sum(when(col("variant") === 1L, col("n_conv")).otherwise(0L)).as("c1"))
        wide
          .withColumn("srm_bp",
            expr("abs(n0 - n1) * 10000 div greatest(n0 + n1, 1)"))
          .withColumn("rate0_bp", expr("c0 * 10000 div greatest(n0, 1)"))
          .withColumn("rate1_bp", expr("c1 * 10000 div greatest(n1, 1)"))
          // χ² = N (ad − bc)² / (r1 r2 c1 c2), a=c0 b=n0−c0 c=c1 d=n1−c1;
          // the subtraction is exact BIGINT, the one double chain after
          // it is engine-identical (q276 stance)
          .withColumn("adbc",
            (col("c0") * (col("n1") - col("c1")) -
              col("c1") * (col("n0") - col("c0"))).cast("double"))
          .withColumn("chi2_micro",
            floor(col("adbc") * col("adbc") * (col("n0") + col("n1")).cast("double") /
              (col("n0").cast("double") * col("n1").cast("double") *
                (col("c0") + col("c1")).cast("double") *
                ((col("n0") + col("n1")) - (col("c0") + col("c1"))).cast("double"))
              * 1000000.0).cast("long"))
          .withColumn("significant_95",
            (col("chi2_micro") > 3841459L).cast("long"))
          .select("n0", "c0", "n1", "c1", "srm_bp", "rate0_bp", "rate1_bp",
            "chi2_micro", "significant_95")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es FROM events), per AS (SELECT user_id % 2 AS variant, CASE WHEN min(CASE WHEN event_type = 'purchase' THEN es END) IS NOT NULL AND min(CASE WHEN event_type = 'purchase' THEN es END) >= min(CASE WHEN event_type = 'view' THEN es END) THEN 1 ELSE 0 END AS converted FROM ev WHERE event_type IN ('view', 'purchase') GROUP BY user_id HAVING min(CASE WHEN event_type = 'view' THEN es END) IS NOT NULL), w AS (SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c0, CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1 FROM per), x AS (SELECT *, CAST(c0 * (n1 - c1) - c1 * (n0 - c0) AS DOUBLE) AS adbc FROM w) SELECT n0, c0, n1, c1, CAST(abs(n0 - n1) * 10000 // greatest(n0 + n1, 1) AS BIGINT) AS srm_bp, CAST(c0 * 10000 // greatest(n0, 1) AS BIGINT) AS rate0_bp, CAST(c1 * 10000 // greatest(n1, 1) AS BIGINT) AS rate1_bp, CAST(floor(adbc * adbc * CAST(n0 + n1 AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(c0 + c1 AS DOUBLE) * CAST((n0 + n1) - (c0 + c1) AS DOUBLE)) * 1000000.0) AS BIGINT) AS chi2_micro, CAST(CASE WHEN floor(adbc * adbc * CAST(n0 + n1 AS DOUBLE) / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(c0 + c1 AS DOUBLE) * CAST((n0 + n1) - (c0 + c1) AS DOUBLE)) * 1000000.0) > 3841459 THEN 1 ELSE 0 END AS BIGINT) AS significant_95 FROM x"""),
      "A/§2.12 ext: A/B readout — deterministic assignment, SRM guard, integer 2×2 χ² significance"),

    // q295 — DAILY PIPELINE-HEALTH SLO MONITOR: per event-day, the four
    // vitals every ingest owner alarms on — volume, distinct-user
    // coverage, null rate of the value field, and day-over-day volume
    // drift — each with its integer-threshold alarm flag (volume drop
    // > 30% DoD; null rate > 5%; coverage < 40% of trailing max). One
    // map-side daily aggregation carries everything; the DoD/trailing
    // comparisons are lag/max windows over the CALENDAR-bounded daily
    // table (day-keyed rows only — the q270 stance). The report is the
    // composition the engine's observability family (q148/q233/q246)
    // builds toward: a table someone actually pages on.
    QuerySpec(
      "q295_daily_health",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct("user_id").as("n_users"),
            sum(col("value").isNull.cast("long")).as("n_null_value"))
        val w = Window.orderBy("day")
        val wTrail = w.rowsBetween(-7, -1)
        daily
          .withColumn("prev_n", lag("n_events", 1).over(w))
          .withColumn("trail_max_users",
            max("n_users").over(wTrail))
          .withColumn("null_bp", expr("n_null_value * 10000 div n_events"))
          .withColumn("dod_bp",
            when(col("prev_n").isNotNull,
              expr("n_events * 10000 div greatest(prev_n, 1)")).otherwise(lit(null)))
          .withColumn("alarm_volume",
            (col("dod_bp").isNotNull && col("dod_bp") < 7000L).cast("long"))
          .withColumn("alarm_nulls", (col("null_bp") > 500L).cast("long"))
          .withColumn("alarm_coverage",
            (col("trail_max_users").isNotNull &&
              col("n_users") * 10L < col("trail_max_users") * 4L).cast("long"))
          .select("day", "n_events", "n_users", "null_bp", "dod_bp",
            "alarm_volume", "alarm_nulls", "alarm_coverage")
          .orderBy("day")
      },
      Some("""WITH daily AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS day, CAST(count(*) AS BIGINT) AS n_events, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value FROM events GROUP BY 1), x AS (SELECT day, n_events, n_users, n_null_value, lag(n_events) OVER (ORDER BY day) AS prev_n, max(n_users) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS trail_max_users FROM daily) SELECT day, n_events, n_users, CAST(n_null_value * 10000 // n_events AS BIGINT) AS null_bp, CAST(CASE WHEN prev_n IS NOT NULL THEN n_events * 10000 // greatest(prev_n, 1) END AS BIGINT) AS dod_bp, CAST(CASE WHEN prev_n IS NOT NULL AND n_events * 10000 // greatest(prev_n, 1) < 7000 THEN 1 ELSE 0 END AS BIGINT) AS alarm_volume, CAST(CASE WHEN n_null_value * 10000 // n_events > 500 THEN 1 ELSE 0 END AS BIGINT) AS alarm_nulls, CAST(CASE WHEN trail_max_users IS NOT NULL AND n_users * 10 < trail_max_users * 4 THEN 1 ELSE 0 END AS BIGINT) AS alarm_coverage FROM x ORDER BY day"""),
      "§2.4/§2.5 ext: daily ingest-health SLO monitor — calendar-bounded vitals with integer alarm thresholds"))
}

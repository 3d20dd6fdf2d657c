package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables

/** Round-7 widening, part 5: ordered event-pattern matching (q317) —
  * the CEP / MATCH_RECOGNIZE capability Spark has no native operator
  * for, expressed as bounded per-user range joins with a deterministic
  * lexicographic-minimum match policy.
  */
object R32Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q317 — ORDERED EVENT-PATTERN MATCH (view → click → purchase with
    // per-step deadlines): for each user, find the EARLIEST completed
    // instance of the 3-step pattern where the click lands within 12 h
    // after the view and the purchase within 24 h after the click
    // (deadlines sized to the corpus cadence: ~11 h median inter-event
    // gap, so the tight-funnel 1h/2h variant fires for ~1 user — 83
    // users convert at 12h/24h, a live fixture).
    // "Earliest" is the lexicographic minimum over valid (tv, tc, tp)
    // triples — ONE min(struct(...)) aggregate, the deterministic match
    // policy MATCH_RECOGNIZE calls "after match skip": both engines
    // order structs field-wise, so the chosen triple is identical
    // bit-for-bit with zero tie-break windows. Plan shape: two
    // user-keyed joins with range predicates — everything co-partitions
    // on user_id, so a 100-TB run is one user shuffle and per-user
    // sort-merge; candidate fan-out per user is bounded by events-per-
    // user × deadline width, the CEP state bound. Reports the matched
    // timestamps, per-step lags, and total span per converting user.
    QuerySpec(
      "q317_event_pattern",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("es"))
        def leg(tpe: String, as: String) =
          ev.where(col("event_type") === tpe)
            .select(col("user_id"), col("es").as(as))
        leg("view", "tv")
          .join(leg("click", "tc"), "user_id")
          .where(col("tc") > col("tv") && col("tc") <= col("tv") + 43200L)
          .join(leg("purchase", "tp"), "user_id")
          .where(col("tp") > col("tc") && col("tp") <= col("tc") + 86400L)
          .groupBy("user_id")
          .agg(min(struct(col("tv"), col("tc"), col("tp"))).as("m"),
            count(lit(1)).as("n_matches"))
          .select(col("user_id"),
            col("m.tv").as("view_es"),
            (col("m.tc") - col("m.tv")).as("click_lag_s"),
            (col("m.tp") - col("m.tc")).as("purchase_lag_s"),
            (col("m.tp") - col("m.tv")).as("span_s"),
            col("n_matches"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es FROM events), v AS (SELECT user_id, es AS tv FROM ev WHERE event_type = 'view'), c AS (SELECT user_id, es AS tc FROM ev WHERE event_type = 'click'), p AS (SELECT user_id, es AS tp FROM ev WHERE event_type = 'purchase'), m AS (SELECT v.user_id, v.tv, c.tc, p.tp FROM v JOIN c ON c.user_id = v.user_id AND c.tc > v.tv AND c.tc <= v.tv + 43200 JOIN p ON p.user_id = v.user_id AND p.tp > c.tc AND p.tp <= c.tc + 86400), best AS (SELECT user_id, min(struct_pack(tv := tv, tc := tc, tp := tp)) AS m, count(*) AS n_matches FROM m GROUP BY 1) SELECT user_id, m.tv AS view_es, m.tc - m.tv AS click_lag_s, m.tp - m.tc AS purchase_lag_s, m.tp - m.tv AS span_s, n_matches FROM best ORDER BY user_id"""),
      "§2.12/§2.3 ext: ordered event-pattern match (CEP) — per-step deadlines, lexicographic-min match policy"),

    // q318 — CALENDAR GAP / MISSING-PARTITION detector: the data-
    // quality check every daily-partitioned pipeline runs before a
    // backfill — densify each series' calendar (sequence over its
    // [min, max] day span), anti-join the days actually present, and
    // group consecutive missing days into OUTAGE RUNS via the
    // day-minus-row_number islands idiom (windows partition by
    // event_type; rows bounded by the calendar, the q270/q295 stance).
    // The shipped corpus is gap-free, so an OUTAGE LEG is modeled (the
    // q293/q305/q310 planted-fixture convention): 'error' events on
    // days where day-of-month % 7 = 3 are treated as not ingested —
    // the detector must report exactly those runs. Per series: span,
    // present/missing day counts, number of gap runs, longest run, and
    // the first missing day.
    QuerySpec(
      "q318_calendar_gaps",
      (s, d) => {
        val days = Tables.events(s, d)
          .select(col("event_type"), to_date(col("ts")).as("day"))
          .where(!(col("event_type") === "error" &&
            dayofmonth(col("day")) % 7 === 3)) // modeled outage leg
          .distinct()
        val span = days.groupBy("event_type")
          .agg(min("day").as("d0"), max("day").as("d1"),
            count(lit(1)).as("n_present"))
        val missing = span
          .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
          .join(days, Seq("event_type", "day"), "left_anti")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("day")
        val runs = missing
          .withColumn("g",
            datediff(col("day"), lit("1970-01-01")) - row_number().over(w))
          .groupBy("event_type", "g")
          .agg(count(lit(1)).as("len"), min("day").as("start"))
        val gaps = runs.groupBy("event_type")
          .agg(sum("len").as("n_missing"), count(lit(1)).as("n_gaps"),
            max("len").as("longest_gap_days"),
            date_format(min("start"), "yyyy-MM-dd").as("first_missing_day"))
        span.join(gaps, Seq("event_type"), "left")
          .select(col("event_type"),
            (datediff(col("d1"), col("d0")) + 1).cast("long").as("span_days"),
            col("n_present"),
            coalesce(col("n_missing"), lit(0L)).as("n_missing"),
            coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
            coalesce(col("longest_gap_days"), lit(0L)).as("longest_gap_days"),
            coalesce(col("first_missing_day"), lit("none")).as("first_missing_day"))
          .orderBy("event_type")
      },
      Some("""WITH days AS (SELECT DISTINCT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events WHERE NOT (event_type = 'error' AND day(CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 = 3)), span AS (SELECT event_type, min(day) AS d0, max(day) AS d1, count(*) AS n_present FROM days GROUP BY 1), expected AS (SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM span), miss AS (SELECT e.event_type, e.day FROM expected e LEFT JOIN days dd ON dd.event_type = e.event_type AND dd.day = e.day WHERE dd.day IS NULL), runs AS (SELECT event_type, g, count(*) AS len, min(day) AS start FROM (SELECT event_type, day, CAST(day - DATE '1970-01-01' AS INT) - row_number() OVER (PARTITION BY event_type ORDER BY day) AS g FROM miss) z GROUP BY 1, 2), gaps AS (SELECT event_type, CAST(sum(len) AS BIGINT) AS n_missing, count(*) AS n_gaps, CAST(max(len) AS BIGINT) AS longest_gap_days, strftime(min(start), '%Y-%m-%d') AS first_missing_day FROM runs GROUP BY 1) SELECT s.event_type, CAST(CAST(s.d1 - s.d0 AS INT) + 1 AS BIGINT) AS span_days, s.n_present, coalesce(g.n_missing, 0) AS n_missing, coalesce(g.n_gaps, 0) AS n_gaps, coalesce(g.longest_gap_days, 0) AS longest_gap_days, coalesce(g.first_missing_day, 'none') AS first_missing_day FROM span s LEFT JOIN gaps g ON g.event_type = s.event_type ORDER BY s.event_type"""),
      "§2.12/§2.8 ext: calendar gap detector — densified span anti-join + outage-run islands (backfill planner input)"))
}

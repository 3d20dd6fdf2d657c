package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-6 widening, epilogue: discrete-time SURVIVAL ANALYSIS — the
  * one classical-statistics family the library still lacked. q301
  * builds the churn life table (at-risk / events / hazard per tenure
  * day, right-censored at the observation end) and the Kaplan–Meier
  * survival curve over it — the retention report growth teams read
  * weekly, and the only correct way to talk about churn when most
  * users are still alive (naive churn rates ignore censoring).
  */
object R26Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q301 — CHURN LIFE TABLE + KAPLAN–MEIER CURVE: a user churns when
    // they fall silent for ≥1 day before the observation end (this
    // synthetic corpus is uniformly active — a production table would
    // use ≥30 d; the CENSORING LOGIC, not the threshold, is the
    // operator); users active within the final day are RIGHT-CENSORED (still alive —
    // counting them as churned is the classic retention-report bug).
    // Per tenure-day d: at-risk = everyone whose (churn or censor)
    // tenure ≥ d (a reverse cumulative over the tenure histogram),
    // hazard = churns(d)/at-risk(d) in floor bp, and the KM survivor
    // S(d) = Π_{t≤d}(1 − h(t)) computed as exp of a cumulative sum of
    // per-day floor(1e9·ln(factor)) — the per-day factor is first
    // quantized to an exact integer micro ratio, so the ln inputs are
    // identical in both engines and the ONE data-dependent exp at the
    // end is a single IEEE op rounded onto a 1e-3 grid (boundary
    // probability ~1e-12, the house single-double stance). Scale: the
    // per-user reduction is one keyed aggregation; everything after
    // runs on the tenure histogram, whose row count is bounded by the
    // OBSERVATION WINDOW in days (~31 here, ~365 for a year) — the
    // q270/q295 calendar-bound argument, hence the allowlisted global
    // windows.
    QuerySpec(
      "q301_survival_curve",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), expr("unix_timestamp(ts)").as("es"))
        val per = ev.groupBy("user_id")
          .agg(min("es").as("first_es"), max("es").as("last_es"))
        val tEnd = ev.agg(max("es").as("t_end"))
        val tenure = per.crossJoin(broadcast(tEnd))
          .withColumn("churned",
            (col("last_es") < col("t_end") - 86400L).cast("long"))
          .withColumn("day",
            when(col("churned") === 1L,
              expr("(last_es - first_es) div 86400"))
              .otherwise(expr("(t_end - first_es) div 86400")))
          .groupBy("day")
          .agg(count(lit(1)).as("n_exit"), sum("churned").as("n_churned"))
        val wRisk = Window.orderBy("day")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val wCum = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tenure
          .withColumn("at_risk", sum("n_exit").over(wRisk))
          .withColumn("hazard_bp", expr("n_churned * 10000 div at_risk"))
          .withColumn("factor_micro",
            expr("greatest((at_risk - n_churned) * 1000000 div at_risk, 1)"))
          .withColumn("lnf_nano",
            floor(log(col("factor_micro").cast("double") / 1000000.0) * 1e9)
              .cast("long"))
          .withColumn("surv_milli",
            floor(exp(sum("lnf_nano").over(wCum).cast("double") / 1e9) * 1000.0)
              .cast("long"))
          .select("day", "n_exit", "n_churned", "at_risk", "hazard_bp",
            "surv_milli")
          .orderBy("day")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es FROM events), per AS (SELECT user_id, min(es) AS first_es, max(es) AS last_es FROM ev GROUP BY 1), te AS (SELECT max(es) AS t_end FROM ev), ten AS (SELECT CASE WHEN last_es < t_end - 86400 THEN (last_es - first_es) // 86400 ELSE (t_end - first_es) // 86400 END AS day, CASE WHEN last_es < t_end - 86400 THEN 1 ELSE 0 END AS churned FROM per, te), h AS (SELECT day, CAST(count(*) AS BIGINT) AS n_exit, CAST(sum(churned) AS BIGINT) AS n_churned FROM ten GROUP BY 1), r AS (SELECT day, n_exit, n_churned, CAST(sum(n_exit) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk FROM h), f AS (SELECT *, greatest((at_risk - n_churned) * 1000000 // at_risk, 1) AS factor_micro FROM r), l AS (SELECT *, CAST(floor(ln(CAST(factor_micro AS DOUBLE) / 1000000.0) * 1e9) AS BIGINT) AS lnf_nano FROM f) SELECT day, n_exit, n_churned, at_risk, CAST(n_churned * 10000 // at_risk AS BIGINT) AS hazard_bp, CAST(floor(exp(CAST(sum(lnf_nano) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e9) * 1000.0) AS BIGINT) AS surv_milli FROM l ORDER BY day"""),
      "A/§2.5 ext: churn life table + Kaplan-Meier survival — right-censored, calendar-bounded histogram windows"))
}

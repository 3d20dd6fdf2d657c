package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql}

/** Round-11 first widening — the execution halves the round-10 choosers
  * stopped short of (VERDICT r10 asks #2/#3), per the house convention
  * measure → price → choose → APPLY:
  *
  *  - q387 EXECUTES q377's compact_now schedule: the apply pass
  *    physically drops the compacted files' delete-vector victims and a
  *    second pricing pass on the rebuilt state certifies the reclaimed
  *    per-cycle tax equals the schedule's priced relief, within budget;
  *  - q388 EXECUTES q380's refresh trigger: when the drifted delta fires
  *    refresh_boundaries, the boundaries are re-frozen over the true new
  *    range, the histogram rebuilt, and the repair certified by
  *    per-predicate q-error returning to the q343/q374 band that the
  *    stale-boundary merge had blown up;
  *  - q389 assembles the FULL cheap-ANALYZE stack (the r10 ask #5):
  *    q358's Selinger enumeration priced with sample-built histogram
  *    selectivity AND GEE NDVs at q386's chosen per-column rates, the
  *    argmin certified against exact-stat pricing.
  */
object R53Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q387 — COMPACTION EXECUTED, RELIEF CERTIFIED: q377 flags
    // compact_now; a maintenance service then actually REWRITES those
    // files, and the claim that justified the budget spend — the
    // schedule's priced per-cycle tax relief — deserves its measurement.
    // The apply pass re-scans the simulated file layout and physically
    // drops the compacted files' delete-vector victims (the rewrite
    // folds the DV in); the post state is then re-priced by the SAME
    // formula from the REBUILT per-file rows — dv_post is re-derived
    // from data, not zeroed by fiat, so a broken apply (victims
    // surviving, wrong files rewritten) surfaces as a relief_ok = 0 row
    // rather than passing algebraically. Per file: pre tax, post tax,
    // reclaimed = pre − post, the rewrite actually paid, and relief_ok
    // certifying reclaimed == compact_now · tax_pre (a compacted file
    // reclaims its whole recurring tax; an untouched file reclaims
    // nothing — both directions checked). The f = -1 __total row is the
    // service's invoice: total reclaimed equals the schedule's priced
    // relief AND the rewritten pre-rows fit the quarter-table budget
    // (relief_ok on that row carries both). Scale: the apply is one
    // keyed pass over the file layout joined to the broadcast 32-row
    // schedule; everything else is 32-row arithmetic.
    QuerySpec(
      "q387_compaction_apply",
      (s, d) => {
        val sched = R50Queries.compactionSchedule(s, d).localCheckpoint(false)
        // the APPLY: rewrite compacted files without their DV victims,
        // then re-derive per-file rows and residual DV mass from data
        val post = R50Queries.orderFiles(s, d)
          .join(broadcast(sched.select("f", "compact_now")), Seq("f"))
          .where(expr("NOT (compact_now = 1 AND h < 42949672)"))
          .groupBy("f").agg(count(lit(1)).as("rows_post"),
            sum(when(col("h") < 42949672L, 1L).otherwise(0L)).as("dv_post"))
        val perFile = sched.join(post, Seq("f"), "left")
          .select(col("f"), col("rows_f"), col("dv_rows"), col("reads_f"),
            col("compact_now"), col("tax_du").as("tax_pre_du"),
            coalesce(col("rows_post"), lit(0L)).as("rows_post"),
            coalesce(col("dv_post"), lit(0L)).as("dv_post"),
            col("rewrite_du"), col("budget_rows"))
          .withColumn("tax_post_du",
            expr("CASE WHEN dv_post > 0 THEN reads_f * rows_post ELSE 0 END"))
          .withColumn("reclaimed_du", expr("tax_pre_du - tax_post_du"))
          .withColumn("rewrite_paid_du",
            expr("CASE WHEN compact_now = 1 THEN rewrite_du ELSE 0 END"))
          .withColumn("relief_ok",
            expr("CAST(CASE WHEN reclaimed_du = compact_now * tax_pre_du THEN 1 ELSE 0 END AS BIGINT)"))
        val fileRows = perFile.select(col("f"), col("rows_f"), col("dv_rows"),
          col("compact_now"), col("tax_pre_du"), col("rows_post"), col("dv_post"),
          col("tax_post_du"), col("reclaimed_du"), col("rewrite_paid_du"),
          col("relief_ok"))
        // the __total invoice row: reclaimed == priced relief AND the
        // rewritten pre-rows fit the budget
        val total = perFile.agg(
            sum("rows_f").as("rows_f"), sum("dv_rows").as("dv_rows"),
            sum("compact_now").as("compact_now"),
            sum("tax_pre_du").as("tax_pre_du"), sum("rows_post").as("rows_post"),
            sum("dv_post").as("dv_post"), sum("tax_post_du").as("tax_post_du"),
            sum("reclaimed_du").as("reclaimed_du"),
            sum("rewrite_paid_du").as("rewrite_paid_du"),
            sum(expr("compact_now * tax_pre_du")).as("priced_relief"),
            sum(expr("compact_now * rows_f")).as("rewritten_rows"),
            max("budget_rows").as("budget_rows"))
          .select(lit(-1L).as("f"), col("rows_f"), col("dv_rows"),
            col("compact_now"), col("tax_pre_du"), col("rows_post"),
            col("dv_post"), col("tax_post_du"), col("reclaimed_du"),
            col("rewrite_paid_du"),
            expr("CAST(CASE WHEN reclaimed_du = priced_relief AND rewritten_rows <= budget_rows THEN 1 ELSE 0 END AS BIGINT)")
              .as("relief_ok"))
        fileRows.unionByName(total).orderBy("f")
      },
      Some(
        s"""WITH ${R50Queries.compactionSchedCte}, post AS (SELECT fl.f, count(*) AS rows_post, sum(CASE WHEN fl.h < 42949672 THEN 1 ELSE 0 END) AS dv_post FROM files fl JOIN sched sc ON sc.f = fl.f WHERE NOT (sc.compact_now = 1 AND fl.h < 42949672) GROUP BY 1), pfr AS (SELECT sc.f, sc.rows_f, sc.dv_rows, sc.reads_f, sc.compact_now, sc.tax_du AS tax_pre_du, coalesce(p.rows_post, 0) AS rows_post, coalesce(p.dv_post, 0) AS dv_post, CASE WHEN coalesce(p.dv_post, 0) > 0 THEN sc.reads_f * coalesce(p.rows_post, 0) ELSE 0 END AS tax_post_du, sc.rewrite_du, sc.budget FROM sched sc LEFT JOIN post p ON p.f = sc.f), pr2 AS (SELECT *, tax_pre_du - tax_post_du AS reclaimed_du, CASE WHEN compact_now = 1 THEN rewrite_du ELSE 0 END AS rewrite_paid_du FROM pfr), fr AS (SELECT f, rows_f, dv_rows, compact_now, tax_pre_du, rows_post, dv_post, tax_post_du, reclaimed_du, rewrite_paid_du, CASE WHEN reclaimed_du = compact_now * tax_pre_du THEN 1 ELSE 0 END AS relief_ok FROM pr2), tot AS (SELECT -1 AS f, sum(rows_f) AS rows_f, sum(dv_rows) AS dv_rows, sum(compact_now) AS compact_now, sum(tax_pre_du) AS tax_pre_du, sum(rows_post) AS rows_post, sum(dv_post) AS dv_post, sum(tax_post_du) AS tax_post_du, sum(reclaimed_du) AS reclaimed_du, sum(rewrite_paid_du) AS rewrite_paid_du, CASE WHEN sum(reclaimed_du) = sum(compact_now * tax_pre_du) AND sum(compact_now * rows_f) <= max(budget) THEN 1 ELSE 0 END AS relief_ok FROM pr2), u AS (SELECT * FROM fr UNION ALL SELECT * FROM tot) SELECT CAST(f AS BIGINT) AS f, CAST(rows_f AS BIGINT) AS rows_f, CAST(dv_rows AS BIGINT) AS dv_rows, CAST(compact_now AS BIGINT) AS compact_now, CAST(tax_pre_du AS BIGINT) AS tax_pre_du, CAST(rows_post AS BIGINT) AS rows_post, CAST(dv_post AS BIGINT) AS dv_post, CAST(tax_post_du AS BIGINT) AS tax_post_du, CAST(reclaimed_du AS BIGINT) AS reclaimed_du, CAST(rewrite_paid_du AS BIGINT) AS rewrite_paid_du, CAST(relief_ok AS BIGINT) AS relief_ok FROM u ORDER BY f"""),
      "S/E1 ext: compaction EXECUTED — q377's compact_now set applied (DV victims physically dropped in a rebuilt apply pass), post state re-priced from data, per-file and __total reclaimed tax certified equal to the schedule's priced relief within the budget"),

    // q388 — HISTOGRAM REFRESH EXECUTED, RECOVERY CERTIFIED: q380's
    // drift gate says WHEN the cheap additive merge must yield to a
    // boundary rebuild; this performs the rebuild and certifies the
    // repair the way q343/q374 grade histograms — per-predicate q-error
    // back inside the band. The drifted slice is PLANTED dense (a
    // hash-selected 10% shard of orders re-delivered one full range
    // width up — the re-denomination/unit-change bug hitting one ingest
    // shard; the natural delta day is 1 row at sf0.001, the q293
    // dead-fixture rule). Two histograms price the SAME post-drift
    // table: the stale-boundary merge (drifted mass clamped into bin
    // 15 — the merge identity still holds, which is the trap) and the
    // REFRESHED build on re-frozen boundaries over the true new range
    // (the one full scan the refresh pays). Eight range predicates — four
    // quarters of the old domain, four of the drifted shard's domain —
    // are estimated from both against exact counts. The readout: every
    // drifted-region predicate is catastrophically blown on the stale
    // boundaries (est 0 — the histogram cannot see above its frozen
    // range) and EVERY predicate returns inside the q-error<=2 band
    // after the refresh (recovered), with refresh_fired carrying the
    // q380 gate that mandated the rebuild (100% of the planted shard is
    // out of range). Scale: two full scans (the sunk stale build + the
    // refresh — the cost being priced), 16-row interpolation arithmetic
    // downstream.
    QuerySpec(
      "q388_hist_refresh_apply",
      (s, d) => {
        val vAll = t(s, d, "orders").select(
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"),
          md5Long(concat(lit("dr388:"), col("o_orderkey").cast("string")), 10).as("h"))
        val stale = vAll.select("v")
        val mxS = stale.agg(min("v").as("vmin"), max("v").as("vmax"),
          expr("max(v) - min(v) + 1").as("w"))
        val drift = vAll.where("h % 10 = 0").crossJoin(broadcast(mxS))
          .select(expr("v + w").as("v"))
        val full = stale.unionByName(drift)
        val mxF = full.agg(min("v").as("vmin2"),
          expr("max(v) - min(v) + 1").as("w2"))
        val mxDr = drift.agg(min("v").as("dvmin"),
          expr("max(v) - min(v) + 1").as("wd"))
        // merged-on-stale-boundaries (drift clamps into bin 15) vs
        // refreshed-on-new-boundaries — both over the post-drift table
        val hbM = full.crossJoin(broadcast(mxS))
          .groupBy(expr(R50Queries.histBin16("v", "vmin", "w")).as("b"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(mxS))
          .select(col("cnt"),
            expr("vmin + b * w div 16").as("blo"),
            expr("vmin + (b + 1) * w div 16 - 1").as("bhi"))
        val hbR = full.crossJoin(broadcast(mxF))
          .groupBy(expr(R50Queries.histBin16("v", "vmin2", "w2")).as("b"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(mxF))
          .select(col("cnt"),
            expr("vmin2 + b * w2 div 16").as("blo"),
            expr("vmin2 + (b + 1) * w2 div 16 - 1").as("bhi"))
        val predsOld = s.range(0, 4).crossJoin(broadcast(mxS))
          .select((col("id") + 1L).as("pred_id"),
            expr("vmin + id * w div 4").as("lo"),
            expr("vmin + (id + 1) * w div 4 - 1").as("hi"))
        val predsNew = s.range(0, 4).crossJoin(broadcast(mxDr))
          .select((col("id") + 5L).as("pred_id"),
            expr("dvmin + id * wd div 4").as("lo"),
            expr("dvmin + (id + 1) * wd div 4 - 1").as("hi"))
        val preds = predsOld.unionByName(predsNew)
        def estimate(hb: DataFrame, name: String): DataFrame =
          preds.join(broadcast(hb), expr("bhi >= lo AND blo <= hi"), "left")
            .groupBy("pred_id", "lo", "hi")
            .agg(coalesce(sum(expr(
              "(cnt * greatest(0, least(hi, bhi) - greatest(lo, blo) + 1) * 1000000) div (bhi - blo + 1)")),
              lit(0L)).as(name))
        val estM = estimate(hbM, "em_m")
        val estR = estimate(hbR, "em_r")
        val act = full.join(broadcast(preds), expr("v BETWEEN lo AND hi"))
          .groupBy("pred_id").agg(count(lit(1)).as("act_rows"))
        // the q380 gate that mandated this rebuild: 100% of the planted
        // shard clamps out of the frozen range
        val fired = drift.crossJoin(broadcast(mxS))
          .agg(sum(when(expr("v < vmin OR v > vmax"), 1L).otherwise(0L)).as("oor"),
            count(lit(1)).as("nd"))
          .select(expr("CAST(CASE WHEN oor * 10000 div greatest(nd, 1) > 100 THEN 1 ELSE 0 END AS BIGINT)")
            .as("refresh_fired"))
        estM.join(estR, Seq("pred_id", "lo", "hi")).join(act, Seq("pred_id"))
          .crossJoin(broadcast(fired))
          .select(col("pred_id"), col("lo"), col("hi"), col("act_rows"),
            expr("em_m div 1000000").as("est_stale"),
            expr("em_r div 1000000").as("est_refresh"),
            expr("greatest((em_m div 1000000) * 10000 div greatest(act_rows, 1), " +
              "act_rows * 10000 div greatest(em_m div 1000000, 1))").as("qerr_stale_bp"),
            expr("greatest((em_r div 1000000) * 10000 div greatest(act_rows, 1), " +
              "act_rows * 10000 div greatest(em_r div 1000000, 1))").as("qerr_refresh_bp"),
            col("refresh_fired"))
          .withColumn("stale_blown",
            expr("CAST(CASE WHEN qerr_stale_bp > 20000 THEN 1 ELSE 0 END AS BIGINT)"))
          .withColumn("recovered",
            expr("CAST(CASE WHEN qerr_refresh_bp <= 20000 THEN 1 ELSE 0 END AS BIGINT)"))
          .orderBy("pred_id")
      },
      Some(
        s"""WITH va AS (SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v, ${md5LongSql("'dr388:' || CAST(o_orderkey AS VARCHAR)", 10)} AS h FROM orders), stale AS (SELECT v FROM va), mxs AS (SELECT min(v) AS vmin, max(v) AS vmax, max(v) - min(v) + 1 AS w FROM stale), drift AS (SELECT v + w AS v FROM va CROSS JOIN mxs WHERE h % 10 = 0), fullt AS (SELECT v FROM stale UNION ALL SELECT v FROM drift), mxf AS (SELECT min(v) AS vmin2, max(v) - min(v) + 1 AS w2 FROM fullt), mxd AS (SELECT min(v) AS dvmin, max(v) - min(v) + 1 AS wd FROM drift), hbm AS (SELECT cnt, vmin + b * w // 16 AS blo, vmin + (b + 1) * w // 16 - 1 AS bhi FROM (SELECT least(15, greatest(0, (v - vmin) * 16 // w)) AS b, count(*) AS cnt FROM fullt CROSS JOIN mxs GROUP BY 1) h CROSS JOIN mxs), hbr AS (SELECT cnt, vmin2 + b * w2 // 16 AS blo, vmin2 + (b + 1) * w2 // 16 - 1 AS bhi FROM (SELECT least(15, greatest(0, (v - vmin2) * 16 // w2)) AS b, count(*) AS cnt FROM fullt CROSS JOIN mxf GROUP BY 1) h CROSS JOIN mxf), preds AS (SELECT j + 1 AS pred_id, vmin + j * w // 4 AS lo, vmin + (j + 1) * w // 4 - 1 AS hi FROM (SELECT unnest(generate_series(0, 3)) AS j) g CROSS JOIN mxs UNION ALL SELECT j + 5, dvmin + j * wd // 4, dvmin + (j + 1) * wd // 4 - 1 FROM (SELECT unnest(generate_series(0, 3)) AS j) g CROSS JOIN mxd), estm AS (SELECT p.pred_id, p.lo, p.hi, coalesce(sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)), 0) AS em_m FROM preds p LEFT JOIN hbm hb ON hb.bhi >= p.lo AND hb.blo <= p.hi GROUP BY 1, 2, 3), estr AS (SELECT p.pred_id, p.lo, p.hi, coalesce(sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)), 0) AS em_r FROM preds p LEFT JOIN hbr hb ON hb.bhi >= p.lo AND hb.blo <= p.hi GROUP BY 1, 2, 3), act AS (SELECT p.pred_id, count(*) AS act_rows FROM preds p JOIN fullt f ON f.v BETWEEN p.lo AND p.hi GROUP BY 1), fired AS (SELECT CASE WHEN sum(CASE WHEN v < vmin OR v > vmax THEN 1 ELSE 0 END) * 10000 // greatest(count(*), 1) > 100 THEN 1 ELSE 0 END AS refresh_fired FROM drift CROSS JOIN mxs), j AS (SELECT m.pred_id, m.lo, m.hi, a.act_rows, m.em_m // 1000000 AS est_stale, r.em_r // 1000000 AS est_refresh FROM estm m JOIN estr r ON r.pred_id = m.pred_id AND r.lo = m.lo AND r.hi = m.hi JOIN act a ON a.pred_id = m.pred_id), k AS (SELECT *, greatest(est_stale * 10000 // greatest(act_rows, 1), act_rows * 10000 // greatest(est_stale, 1)) AS qerr_stale_bp, greatest(est_refresh * 10000 // greatest(act_rows, 1), act_rows * 10000 // greatest(est_refresh, 1)) AS qerr_refresh_bp FROM j) SELECT CAST(pred_id AS BIGINT) AS pred_id, CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi, CAST(act_rows AS BIGINT) AS act_rows, CAST(est_stale AS BIGINT) AS est_stale, CAST(est_refresh AS BIGINT) AS est_refresh, CAST(qerr_stale_bp AS BIGINT) AS qerr_stale_bp, CAST(qerr_refresh_bp AS BIGINT) AS qerr_refresh_bp, CAST((SELECT refresh_fired FROM fired) AS BIGINT) AS refresh_fired, CAST(CASE WHEN qerr_stale_bp > 20000 THEN 1 ELSE 0 END AS BIGINT) AS stale_blown, CAST(CASE WHEN qerr_refresh_bp <= 20000 THEN 1 ELSE 0 END AS BIGINT) AS recovered FROM k ORDER BY pred_id"""),
      "A/S ext: histogram refresh EXECUTED — q380's boundary-drift gate answered with the rebuild it mandates: boundaries re-frozen over the true post-drift range, per-predicate q-error certified back inside the q343/q374 band (recovered) while every drifted-region predicate shows the stale boundaries catastrophically blown"),

    // q389 — THE FULL CHEAP-ANALYZE STACK, END TO END: q376 proved the
    // Selinger argmin survives sample-built SELECTIVITY; q385 measured
    // GEE NDV error on the System-R join-size formula; q386 chose the
    // per-column sample RATE. This query runs the complete cheap-stats
    // pipeline a 100 TB ANALYZE would actually ship: every NDV the
    // enumeration consumes (l_orderkey, o_orderkey, o_custkey,
    // c_custkey) is GEE-estimated from the CHEAPEST nested Knuth rate
    // q386's rule admits (largest in-budget denominator, densest 1/4 as
    // the fallback the unique keys force — they are NEVER in budget,
    // q386's hardness-floor result), the predicate selectivity comes
    // from the 25% sample-built histogram, and q358's three left-deep
    // orders are priced with textbook System-R arithmetic
    // (|R⋈S| = n_r·n_s / max(ndv_r, ndv_s), cost = first intermediate +
    // final) under BOTH stat regimes. The readout: the unique-key GEE
    // floor (gee ≈ ndv/2 at 1/4) and the FK underestimates inflate the
    // cheap costs, but every inflation cancels or stays within the
    // floor band while the ORDERS stay separated by magnitudes — both
    // chosen flags land on the customer-first order (q358's proven
    // optimum) and argmin_stable certifies the coincidence. Had any
    // drift_bp crossed the inter-order gap, the flip would surface
    // here — the finding either way. Scale: four keyed NDV passes (the
    // nested-rate fusion: each is ONE groupBy, all three rates as
    // conditional sums) + two histogram passes; the enumeration itself
    // is arithmetic over one broadcast scalar row — no data-row joins.
    QuerySpec(
      "q389_cheap_analyze_bundle",
      (s, d) => {
        // --- selectivity legs (q376's exact + 25%-sample-built histograms)
        val c = t(s, d, "orders").select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
        val samp = c.where(
          expr("(o_orderkey % 2147483648) * 2654435761 % 4294967296 < 1073741824"))
        val mxE = c.agg(min("v").as("vmin"), max("v").as("vmax"),
          expr("max(v) - min(v) + 1").as("w"))
        val mxS = samp.agg(min("v").as("svmin"), max("v").as("svmax"),
          expr("max(v) - min(v) + 1").as("sw"))
        val hbE = c.crossJoin(broadcast(mxE))
          .groupBy(expr("least(15, (v - vmin) * 16 div w)").as("b"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(mxE))
          .select(col("cnt"),
            expr("vmin + b * w div 16").as("blo"),
            expr("vmin + (b + 1) * w div 16 - 1").as("bhi"))
        val hbS = samp.crossJoin(broadcast(mxS))
          .groupBy(expr("least(15, (v - svmin) * 16 div sw)").as("b"))
          .agg(expr("count(1) * 4").as("cnt"))
          .crossJoin(broadcast(mxS))
          .select(col("cnt"),
            expr("svmin + b * sw div 16").as("blo"),
            expr("svmin + (b + 1) * sw div 16 - 1").as("bhi"))
        val pred = broadcast(mxE).selectExpr(
          "vmin + w div 2 - w div 64 AS lo", "vmin + w div 2 + w div 64 AS hi")
        def selEst(hb: DataFrame, name: String): DataFrame =
          pred.join(broadcast(hb), expr("bhi >= lo AND blo <= hi"), "left")
            .agg(coalesce(sum(expr(
              "(cnt * greatest(0, least(hi, bhi) - greatest(lo, blo) + 1) * 1000000) div (bhi - blo + 1)")),
              lit(0L)).as("em"))
            .select(expr("em div 1000000").as(name))
        val est = selEst(hbE, "est_f_exact")
          .crossJoin(broadcast(selEst(hbS, "est_f_sample")))
        // --- NDV legs: one keyed pass per column builds the whole q386
        // rate frontier (nested conditional sums), the chooser picks the
        // cheapest in-budget rate (qerr<=1.5x vs the exact NDV the
        // certification needs anyway; q386's offline calibration), and
        // the GEE estimate AT that rate is what the enumeration consumes
        def ndvLeg(df: DataFrame, k: Column, hh: Column, tag: String): DataFrame =
          df.select(k.as("k"), hh.as("hh")).groupBy("k").agg(
              sum(when(col("hh") < 67108864L, 1L).otherwise(0L)).as("sr64"),
              sum(when(col("hh") < 268435456L, 1L).otherwise(0L)).as("sr16"),
              sum(when(col("hh") < 1073741824L, 1L).otherwise(0L)).as("sr4"))
            .agg(count(lit(1)).as("nd"),
              expr("sum(CASE WHEN sr64 > 0 THEN 1 ELSE 0 END) + 7 * sum(CASE WHEN sr64 = 1 THEN 1 ELSE 0 END)").as("e64"),
              expr("sum(CASE WHEN sr16 > 0 THEN 1 ELSE 0 END) + 3 * sum(CASE WHEN sr16 = 1 THEN 1 ELSE 0 END)").as("e16"),
              expr("sum(CASE WHEN sr4 > 0 THEN 1 ELSE 0 END) + sum(CASE WHEN sr4 = 1 THEN 1 ELSE 0 END)").as("e4"))
            .withColumn("q64",
              expr("greatest(e64 * 10000 div greatest(nd, 1), nd * 10000 div greatest(e64, 1))"))
            .withColumn("q16",
              expr("greatest(e16 * 10000 div greatest(nd, 1), nd * 10000 div greatest(e16, 1))"))
            .select(
              expr("CAST(CASE WHEN q64 <= 15000 THEN 64 WHEN q16 <= 15000 THEN 16 ELSE 4 END AS BIGINT)")
                .as(s"dn_$tag"),
              expr("CASE WHEN q64 <= 15000 THEN e64 WHEN q16 <= 15000 THEN e16 ELSE e4 END")
                .as(s"gee_$tag"),
              col("nd").as(s"ndv_$tag"))
        val liH = expr("((l_orderkey * 7919 + l_linenumber) % 2147483648) * 2654435761 % 4294967296")
        val orH = expr("(o_orderkey % 2147483648) * 2654435761 % 4294967296")
        val cuH = expr("(c_custkey % 2147483648) * 2654435761 % 4294967296")
        val nLok = ndvLeg(t(s, d, "lineitem"), col("l_orderkey"), liH, "lok")
        val nOok = ndvLeg(t(s, d, "orders"), col("o_orderkey"), orH, "ook")
        val nOc = ndvLeg(t(s, d, "orders"), col("o_custkey"), orH, "oc")
        val nCk = ndvLeg(t(s, d, "customer"), col("c_custkey"), cuH, "ck")
        val st = t(s, d, "lineitem").agg(count(lit(1)).as("n_li"))
          .crossJoin(broadcast(t(s, d, "orders").agg(count(lit(1)).as("n_ord"))))
          .crossJoin(broadcast(t(s, d, "customer").agg(count(lit(1)).as("n_cust"))))
        val base = est.crossJoin(broadcast(st))
          .crossJoin(broadcast(nLok)).crossJoin(broadcast(nOok))
          .crossJoin(broadcast(nOc)).crossJoin(broadcast(nCk))
        // --- System-R pricing under both stat regimes (identical
        // arithmetic; only the stats differ — the point of the bundle)
        def costs(f: String, lok: String, ook: String, oc: String, ck: String)
            : (String, String, String) = {
          val i1 = s"($f * n_li div greatest($f, $lok))"
          val i2 = s"($f * n_cust div greatest($oc, $ck))"
          (s"$i1 + $i1 * n_cust div greatest($oc, $ck)",
            s"$i2 + $i2 * n_li div greatest($ook, $lok)",
            s"n_li * n_cust + $f * n_li div greatest($ook, $lok)")
        }
        val (ce1, ce2, ce3) = costs("est_f_exact", "ndv_lok", "ndv_ook", "ndv_oc", "ndv_ck")
        val (cc1, cc2, cc3) = costs("est_f_sample", "gee_lok", "gee_ook", "gee_oc", "gee_ck")
        val ctx = Seq("est_f_exact", "est_f_sample", "dn_lok", "gee_lok", "ndv_lok",
          "dn_ook", "gee_ook", "ndv_ook", "dn_oc", "gee_oc", "ndv_oc",
          "dn_ck", "gee_ck", "ndv_ck").map(col)
        val zCol = explode(array(
          struct(lit("1: (orders join lineitem) join customer").as("join_order"),
            expr(ce1).as("cost_exact"), expr(cc1).as("cost_cheap")),
          struct(lit("2: (orders join customer) join lineitem").as("join_order"),
            expr(ce2).as("cost_exact"), expr(cc2).as("cost_cheap")),
          struct(lit("3: (lineitem cross customer) join orders").as("join_order"),
            expr(ce3).as("cost_exact"), expr(cc3).as("cost_cheap")))).as("z")
        val plan = base.select(zCol +: ctx: _*)
          .select(Seq(col("z.join_order").as("join_order"),
            col("z.cost_exact").as("cost_exact"),
            col("z.cost_cheap").as("cost_cheap")) ++ ctx: _*)
        plan.crossJoin(broadcast(plan.agg(
            min("cost_exact").as("be"), min("cost_cheap").as("bc"))))
          .select(Seq(col("join_order"), col("cost_exact"), col("cost_cheap"),
            expr("greatest(cost_cheap * 10000 div greatest(cost_exact, 1), cost_exact * 10000 div greatest(cost_cheap, 1))")
              .as("drift_bp"),
            expr("CAST(CASE WHEN cost_exact = be THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen_exact"),
            expr("CAST(CASE WHEN cost_cheap = bc THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen_cheap"),
            expr("CAST(CASE WHEN (CASE WHEN cost_exact = be THEN 1 ELSE 0 END) = (CASE WHEN cost_cheap = bc THEN 1 ELSE 0 END) THEN 1 ELSE 0 END AS BIGINT)")
              .as("argmin_stable")) ++ ctx: _*)
          .orderBy("join_order")
      },
      Some {
        def ndvSql(cte: String, tag: String, sel: String): String =
          s"""$cte AS (SELECT CAST(CASE WHEN q64 <= 15000 THEN 64 WHEN q16 <= 15000 THEN 16 ELSE 4 END AS BIGINT) AS dn_$tag, CASE WHEN q64 <= 15000 THEN e64 WHEN q16 <= 15000 THEN e16 ELSE e4 END AS gee_$tag, nd AS ndv_$tag FROM (SELECT nd, e64, e16, e4, greatest(e64 * 10000 // greatest(nd, 1), nd * 10000 // greatest(e64, 1)) AS q64, greatest(e16 * 10000 // greatest(nd, 1), nd * 10000 // greatest(e16, 1)) AS q16 FROM (SELECT count(*) AS nd, sum(CASE WHEN sr64 > 0 THEN 1 ELSE 0 END) + 7 * sum(CASE WHEN sr64 = 1 THEN 1 ELSE 0 END) AS e64, sum(CASE WHEN sr16 > 0 THEN 1 ELSE 0 END) + 3 * sum(CASE WHEN sr16 = 1 THEN 1 ELSE 0 END) AS e16, sum(CASE WHEN sr4 > 0 THEN 1 ELSE 0 END) + sum(CASE WHEN sr4 = 1 THEN 1 ELSE 0 END) AS e4 FROM (SELECT k, sum(CASE WHEN hh < 67108864 THEN 1 ELSE 0 END) AS sr64, sum(CASE WHEN hh < 268435456 THEN 1 ELSE 0 END) AS sr16, sum(CASE WHEN hh < 1073741824 THEN 1 ELSE 0 END) AS sr4 FROM ($sel) src GROUP BY 1) pv) a) b)"""
        def costsSql(f: String, lok: String, ook: String, oc: String, ck: String)
            : (String, String, String) = {
          val i1 = s"($f * n_li // greatest($f, $lok))"
          val i2 = s"($f * n_cust // greatest($oc, $ck))"
          (s"$i1 + $i1 * n_cust // greatest($oc, $ck)",
            s"$i2 + $i2 * n_li // greatest($ook, $lok)",
            s"n_li * n_cust + $f * n_li // greatest($ook, $lok)")
        }
        val (ce1, ce2, ce3) = costsSql("est_f_exact", "ndv_lok", "ndv_ook", "ndv_oc", "ndv_ck")
        val (cc1, cc2, cc3) = costsSql("est_f_sample", "gee_lok", "gee_ook", "gee_oc", "gee_ck")
        val ctxCols = "est_f_exact, est_f_sample, dn_lok, gee_lok, ndv_lok, dn_ook, gee_ook, ndv_ook, dn_oc, gee_oc, ndv_oc, dn_ck, gee_ck, ndv_ck"
        val ctxCast = ctxCols.split(", ").map(x => s"CAST($x AS BIGINT) AS $x").mkString(", ")
        s"""WITH c AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), samp AS (SELECT * FROM c WHERE (o_orderkey % 2147483648) * 2654435761 % 4294967296 < 1073741824), mxe AS (SELECT min(v) AS vmin, max(v) AS vmax, max(v) - min(v) + 1 AS w FROM c), mxs AS (SELECT min(v) AS svmin, max(v) AS svmax, max(v) - min(v) + 1 AS sw FROM samp), hbe AS (SELECT cnt, vmin + b * w // 16 AS blo, vmin + (b + 1) * w // 16 - 1 AS bhi FROM (SELECT least(15, (v - vmin) * 16 // w) AS b, count(*) AS cnt FROM c CROSS JOIN mxe GROUP BY 1) h CROSS JOIN mxe), hbs AS (SELECT cnt, svmin + b * sw // 16 AS blo, svmin + (b + 1) * sw // 16 - 1 AS bhi FROM (SELECT least(15, (v - svmin) * 16 // sw) AS b, count(*) * 4 AS cnt FROM samp CROSS JOIN mxs GROUP BY 1) h CROSS JOIN mxs), pred AS (SELECT vmin + w // 2 - w // 64 AS lo, vmin + w // 2 + w // 64 AS hi FROM mxe), ee AS (SELECT coalesce(sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)), 0) // 1000000 AS est_f_exact FROM pred p LEFT JOIN hbe hb ON hb.bhi >= p.lo AND hb.blo <= p.hi), es AS (SELECT coalesce(sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)), 0) // 1000000 AS est_f_sample FROM pred p LEFT JOIN hbs hb ON hb.bhi >= p.lo AND hb.blo <= p.hi), ${ndvSql("nlok", "lok", "SELECT l_orderkey AS k, ((l_orderkey * 7919 + l_linenumber) % 2147483648) * 2654435761 % 4294967296 AS hh FROM lineitem")}, ${ndvSql("nook", "ook", "SELECT o_orderkey AS k, (o_orderkey % 2147483648) * 2654435761 % 4294967296 AS hh FROM orders")}, ${ndvSql("noc", "oc", "SELECT o_custkey AS k, (o_orderkey % 2147483648) * 2654435761 % 4294967296 AS hh FROM orders")}, ${ndvSql("nck", "ck", "SELECT c_custkey AS k, (c_custkey % 2147483648) * 2654435761 % 4294967296 AS hh FROM customer")}, st AS (SELECT (SELECT count(*) FROM lineitem) AS n_li, (SELECT count(*) FROM orders) AS n_ord, (SELECT count(*) FROM customer) AS n_cust), base AS (SELECT * FROM ee CROSS JOIN es CROSS JOIN st CROSS JOIN nlok CROSS JOIN nook CROSS JOIN noc CROSS JOIN nck), plan AS (SELECT '1: (orders join lineitem) join customer' AS join_order, $ce1 AS cost_exact, $cc1 AS cost_cheap, $ctxCols FROM base UNION ALL SELECT '2: (orders join customer) join lineitem', $ce2, $cc2, $ctxCols FROM base UNION ALL SELECT '3: (lineitem cross customer) join orders', $ce3, $cc3, $ctxCols FROM base), mn AS (SELECT min(cost_exact) AS be, min(cost_cheap) AS bc FROM plan) SELECT join_order, CAST(cost_exact AS BIGINT) AS cost_exact, CAST(cost_cheap AS BIGINT) AS cost_cheap, CAST(greatest(cost_cheap * 10000 // greatest(cost_exact, 1), cost_exact * 10000 // greatest(cost_cheap, 1)) AS BIGINT) AS drift_bp, CAST(CASE WHEN cost_exact = be THEN 1 ELSE 0 END AS BIGINT) AS chosen_exact, CAST(CASE WHEN cost_cheap = bc THEN 1 ELSE 0 END AS BIGINT) AS chosen_cheap, CAST(CASE WHEN (CASE WHEN cost_exact = be THEN 1 ELSE 0 END) = (CASE WHEN cost_cheap = bc THEN 1 ELSE 0 END) THEN 1 ELSE 0 END AS BIGINT) AS argmin_stable, $ctxCast FROM plan CROSS JOIN mn ORDER BY join_order"""
      },
      "A/J/S ext: the full cheap-ANALYZE stack end-to-end — q358's Selinger enumeration priced with System-R join sizes whose EVERY stat is cheap (25%-sample-built histogram selectivity + GEE NDVs at q386's chosen per-column rates, unique keys on the 1/4 fallback their hardness floor forces) next to exact-stat pricing; the argmin certified stable on the customer-first optimum"))
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql, md5Bucket, md5BucketSql}

/** Round-10 second widening — the estimation/maintenance layer grows
  * the members a 100-TB stats pipeline still lacked:
  *
  *  - q377 operationalizes q375's read-tax economics at FILE
  *    granularity: a budgeted compaction scheduler that ranks
  *    delete-vector-carrying files by payback and flags this cycle's
  *    compaction set;
  *  - q378 prices NDV-from-a-sample (GEE vs naive scale-up) against
  *    exact distinct counts across a cardinality battery — including
  *    the unique-key column where sample NDV is PROVABLY hard (the
  *    known sqrt lower bound), which is exactly why ANALYZE pipelines
  *    do full-pass HLL (q49) for NDV while sampling everything else;
  *  - q379 runs the join-size estimator shootout: Bernoulli-sample F2
  *    (unbiased, integer-exact correction) vs the q361 count-min inner
  *    product vs exact, with state budgets side by side;
  *  - q380 maintains the q343 CBO histogram INCREMENTALLY (delta-day
  *    bin counts added onto frozen boundaries, merge == rebuild
  *    certified per bin) and computes the boundary-drift trigger that
  *    says when the cheap merge must give way to a boundary rebuild.
  */
object R50Queries {

  /** q380's frozen-boundary 16-bin rule (clamped equi-width on the stale
    * range) — the additive-merge core shared verbatim by the batch
    * scenarios and EventStream.histRefreshStream's online fold.
    */
  private[graft] def histBin16(v: String, vmin: String, w: String): String =
    s"least(15, greatest(0, ($v - $vmin) * 16 div $w))"

  /** q377's simulated file layout: every order row keyed by the q368
    * Knuth hash (h < 42949672 ⇒ a delete-vector victim) and bucketed
    * into 32 value-width files. Shared with q387's apply pass, which
    * re-scans it to physically drop the compacted files' victims.
    */
  private[queries] def orderFiles(s: SparkSession, d: String): DataFrame = {
    val keyed = t(s, d, "orders").select(col("o_orderkey"),
      expr("(o_custkey % 2147483648) * 2654435761 % 4294967296").as("h"))
    keyed.crossJoin(broadcast(keyed.agg(max("o_orderkey").as("kmax"))))
      .select(col("h"), expr("least(31, o_orderkey * 32 div (kmax + 1))").as("f"))
  }

  /** The q377 compaction schedule — per-file read-tax economics, payback
    * ranking, and the budgeted greedy compact_now flags. q387 executes
    * exactly this schedule and re-prices the post-compaction state.
    */
  private[queries] def compactionSchedule(s: SparkSession, d: String): DataFrame = {
    val perFile = orderFiles(s, d).groupBy("f").agg(count(lit(1)).as("rows_f"),
        sum(when(col("h") < 42949672L, 1L).otherwise(0L)).as("dv_rows"))
      .withColumn("hf", md5Long(concat(lit("rd:"), col("f").cast("string")), 10))
      .withColumn("reads_f", expr(
        "CASE WHEN hf % 100 < 60 THEN hf % 3 " +
          "WHEN hf % 100 < 90 THEN 5 + hf % 10 ELSE 50 + hf % 50 END"))
    val econ = perFile.select(col("f"), col("rows_f"), col("dv_rows"), col("reads_f"),
      expr("CASE WHEN dv_rows > 0 THEN reads_f * rows_f ELSE 0 END").as("tax_du"),
      expr("rows_f * 10").as("rewrite_du"))
      .withColumn("payback_cycles",
        expr("CASE WHEN tax_du > 0 THEN (rewrite_du + tax_du - 1) div tax_du ELSE -1 END"))
    val whole = Window.orderBy("payback_cycles", "f")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val run = Window.orderBy("payback_cycles", "f")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    econ
      .withColumn("qual", expr(
        "CAST(CASE WHEN dv_rows > 0 AND payback_cycles BETWEEN 1 AND 10 THEN 1 ELSE 0 END AS BIGINT)"))
      .withColumn("budget", expr("sum(rows_f)").over(whole) / lit(4L))
      .withColumn("cum_qual_rows",
        sum(expr("CASE WHEN qual = 1 THEN rows_f ELSE 0 END")).over(run))
      .select(col("f"), col("rows_f"), col("dv_rows"), col("reads_f"),
        col("tax_du"), col("rewrite_du"), col("payback_cycles"), col("qual"),
        col("budget").cast("long").as("budget_rows"),
        expr("CAST(CASE WHEN qual = 1 AND cum_qual_rows <= budget THEN 1 ELSE 0 END AS BIGINT)")
          .as("compact_now"))
  }

  /** The q377 oracle's CTE chain up to the schedule — shared verbatim by
    * q387's oracle, which extends it with the apply + re-price passes.
    */
  private[queries] val compactionSchedCte: String =
    s"""keyed AS (SELECT o_orderkey, (o_custkey % 2147483648) * 2654435761 % 4294967296 AS h FROM orders), mxk AS (SELECT max(o_orderkey) AS kmax FROM keyed), files AS (SELECT h, least(31, o_orderkey * 32 // (kmax + 1)) AS f FROM keyed CROSS JOIN mxk), pf AS (SELECT f, count(*) AS rows_f, sum(CASE WHEN h < 42949672 THEN 1 ELSE 0 END) AS dv_rows FROM files GROUP BY 1), pr AS (SELECT *, ${md5LongSql("'rd:' || CAST(f AS VARCHAR)", 10)} AS hf FROM pf), pe AS (SELECT f, rows_f, dv_rows, CASE WHEN hf % 100 < 60 THEN hf % 3 WHEN hf % 100 < 90 THEN 5 + hf % 10 ELSE 50 + hf % 50 END AS reads_f FROM pr), econ AS (SELECT f, rows_f, dv_rows, reads_f, CASE WHEN dv_rows > 0 THEN reads_f * rows_f ELSE 0 END AS tax_du, rows_f * 10 AS rewrite_du FROM pe), pb AS (SELECT *, CASE WHEN tax_du > 0 THEN (rewrite_du + tax_du - 1) // tax_du ELSE -1 END AS payback_cycles FROM econ), q AS (SELECT *, CASE WHEN dv_rows > 0 AND payback_cycles BETWEEN 1 AND 10 THEN 1 ELSE 0 END AS qual, sum(rows_f) OVER () // 4 AS budget, sum(CASE WHEN dv_rows > 0 AND payback_cycles BETWEEN 1 AND 10 THEN rows_f ELSE 0 END) OVER (ORDER BY payback_cycles, f ROWS UNBOUNDED PRECEDING) AS cum_qual_rows FROM pb), sched AS (SELECT f, rows_f, dv_rows, reads_f, tax_du, rewrite_du, payback_cycles, qual, budget, CASE WHEN qual = 1 AND cum_qual_rows <= budget THEN 1 ELSE 0 END AS compact_now FROM q)"""

  val specs: Seq[QuerySpec] = Seq(

    // q377 — COMPACTION TRIGGER CHOOSER: q375 proved the MoR read tax
    // makes small deletes flip to copy-on-write once the table is read
    // ~10 times before compaction; this query turns that economics into
    // the SCHEDULE a lakehouse maintenance service runs. The 1%-request
    // delete vectors land on the q368 32-file layout; each file gets a
    // PLANTED heavy-tailed read rate (md5 of the file id — 60% cold,
    // 30% warm, 10% hot, the access skew real tables show; natural read
    // stats don't exist in a synthetic corpus, the q293 rule). Per
    // file: the per-cycle probe tax reads_f x rows_f (deci-units, the
    // q375 constants), the one-time rewrite cost rows_f x 10, and
    // payback_cycles = ceil(rewrite / tax) — a hot file pays for its
    // compaction in under a cycle, a cold one never does. The chooser
    // then packs this cycle's budget (a quarter of the table's rows,
    // the throttle every maintenance service has) with files in payback
    // order, flagging compact_now — greedy is optimal here because
    // ranking by payback IS ranking by tax-relief per rewritten row.
    // Scale: one keyed file aggregate; the schedule is a rank + prefix
    // window over the 32-row file table (the q326 waterfill class).
    QuerySpec(
      "q377_compaction_trigger",
      (s, d) => compactionSchedule(s, d).orderBy("f"),
      Some(
        s"""WITH $compactionSchedCte SELECT CAST(f AS BIGINT) AS f, CAST(rows_f AS BIGINT) AS rows_f, CAST(dv_rows AS BIGINT) AS dv_rows, CAST(reads_f AS BIGINT) AS reads_f, CAST(tax_du AS BIGINT) AS tax_du, CAST(rewrite_du AS BIGINT) AS rewrite_du, CAST(payback_cycles AS BIGINT) AS payback_cycles, CAST(qual AS BIGINT) AS qual, CAST(budget AS BIGINT) AS budget_rows, CAST(compact_now AS BIGINT) AS compact_now FROM sched ORDER BY f"""),
      "S/E1 ext: compaction trigger chooser — q375's read-tax economics at file granularity: planted heavy-tailed read rates, per-file payback_cycles, budgeted greedy schedule in payback order (compact_now flagged)"),

    // q378 — NDV FROM A SAMPLE (GEE): the OTHER statistic ANALYZE
    // needs besides the histogram — distinct counts drive join
    // estimates (q346) and dictionary pricing (q344) — priced from the
    // q356 25% sample across the cardinality spectrum: a unique key
    // (o_orderkey), a skewed FK (o_custkey), a mid-cardinality date
    // (o_orderdate, ~calendar-many values) and a 5-value enum
    // (o_orderpriority). Two estimators per column, both integer-exact:
    // the naive scale-up d×4 (right only when every value repeats past
    // the sample rate) and GEE — d + f1·(√(1/q) − 1), the
    // guaranteed-error estimator that scales only the SINGLETON count
    // by √(1/q) (= exactly 2 at q = 1/4, so the arithmetic stays pure
    // BIGINT: est = d + f1). Chao1 was measured and REJECTED here: its
    // abundance model assumes sampling with replacement, and on a
    // finite-population unique key every sampled value is a singleton
    // with f2 = 0, blowing the estimate to f1²/2 ≈ 47× truth. The
    // table shows the known hardness result empirically: GEE's error
    // on the unique key is the √(1/q) = 2× factor the lower bound says
    // no sample estimator can beat, scale-up lands ~right there by
    // design (4d ≈ n) but overshoots 3.4× on the skewed FK where GEE
    // is near-exact, and both are exact on the enum. No sample
    // estimator wins everywhere — WHY the engine's NDV path is the
    // full-pass HLL sketch (q49/q121) and the sample feeds only the
    // histogram (q374). Scale: one 25% scan with four two-level
    // aggregates; everything downstream is 4-row arithmetic.
    QuerySpec(
      "q378_sample_ndv_chao",
      (s, d) => {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val ord = t(s, d, "orders")
        val samp = ord.where(
          expr("(o_orderkey % 2147483648) * 2654435761 % 4294967296 < 1073741824"))
        val legs = cols.zipWithIndex.map { case (c, i) =>
          val ex = ord.agg(countDistinct(col(c)).as("ndv_exact"))
          val sm = samp.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
            .agg(count(lit(1)).as("d"),
              sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("f1"),
              sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("f2"))
          sm.crossJoin(broadcast(ex))
            .select(lit((i + 1).toLong).as("col_id"), lit(c).as("col_name"),
              col("ndv_exact"), col("d").as("sample_d"), col("f1"), col("f2"))
        }
        legs.reduce(_ unionByName _)
          .select(col("col_id"), col("col_name"), col("ndv_exact"),
            col("sample_d"), col("f1"), col("f2"),
            expr("sample_d + f1").as("est_gee"),
            expr("sample_d * 4").as("est_scaleup"))
          .select(col("col_id"), col("col_name"), col("ndv_exact"),
            col("sample_d"), col("f1"), col("f2"), col("est_gee"), col("est_scaleup"),
            expr("greatest(est_gee * 10000 div greatest(ndv_exact, 1), " +
              "ndv_exact * 10000 div greatest(est_gee, 1))").as("qerr_gee_bp"),
            expr("greatest(est_scaleup * 10000 div greatest(ndv_exact, 1), " +
              "ndv_exact * 10000 div greatest(est_scaleup, 1))").as("qerr_scaleup_bp"))
          .orderBy("col_id")
      },
      Some {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val legs = cols.zipWithIndex.map { case (c, i) =>
          s"SELECT ${i + 1} AS col_id, '$c' AS col_name, (SELECT count(DISTINCT $c) FROM orders) AS ndv_exact, count(*) AS sample_d, sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS f1, sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS f2 FROM (SELECT $c, count(*) AS cnt FROM samp GROUP BY 1) g"
        }.mkString(" UNION ALL ")
        s"""WITH samp AS (SELECT * FROM orders WHERE (o_orderkey % 2147483648) * 2654435761 % 4294967296 < 1073741824), u AS ($legs), e AS (SELECT *, sample_d + f1 AS est_gee, sample_d * 4 AS est_scaleup FROM u) SELECT CAST(col_id AS BIGINT) AS col_id, col_name, CAST(ndv_exact AS BIGINT) AS ndv_exact, CAST(sample_d AS BIGINT) AS sample_d, CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2, CAST(est_gee AS BIGINT) AS est_gee, CAST(est_scaleup AS BIGINT) AS est_scaleup, CAST(greatest(est_gee * 10000 // greatest(ndv_exact, 1), ndv_exact * 10000 // greatest(est_gee, 1)) AS BIGINT) AS qerr_gee_bp, CAST(greatest(est_scaleup * 10000 // greatest(ndv_exact, 1), ndv_exact * 10000 // greatest(est_scaleup, 1)) AS BIGINT) AS qerr_scaleup_bp FROM e ORDER BY col_id"""
      },
      "A/S ext: NDV from a sample — GEE (singleton count scaled by sqrt(1/q), integer-exact at q=1/4) vs naive scale-up priced against exact distinct counts across a cardinality battery; the sqrt sample-NDV hardness bound shown on the unique key (why the engine's NDV path is full-pass HLL)"),

    // q379 — JOIN-SIZE ESTIMATOR SHOOTOUT: the q361 count-min inner
    // product and a Bernoulli row sample price the SAME quantity — the
    // l_partkey self-join size Σf², the number every join planner and
    // memory provisioner needs — next to the exact second moment, with
    // their state budgets side by side. The sample estimator is the
    // UNBIASED integer-exact correction: under p=1/4 row sampling
    // E[Σf_s²] = p²F2 + p(1-p)n, so est = 16·Σf_s² − 3n (n is the
    // exact rowcount — metadata, not stats; every term is BIGINT, no
    // float anywhere). The scaling story is the state_units column:
    // the sample's state grows LINEARLY with the data (25% of the
    // rows — ~6× the sketch already at sf0.1, unbounded at 100 TB)
    // while the sketch stays 24,576 cells at any scale. And for the
    // planner's use the sample is the wrong SHAPE even when its error
    // is comparable: it is two-sided (it can undershoot, so memory
    // provisioned off it can OOM), while count-min is certified
    // one-sided (est ≥ exact, the q361 invariant). one_sided_safe
    // makes that planner-facing distinction a column. Scale: one hash pass each; the
    // sample leg is a map-side filter + keyed count, the sketch leg is
    // the q361 shape at one width.
    QuerySpec(
      "q379_joinsize_shootout",
      (s, d) => {
        val keys = t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").as("k"))
        val exact = keys.groupBy("k").agg(count(lit(1)).as("fr"))
          .agg(sum(expr("fr * fr")).as("exact_f2"), sum("fr").as("n_rows"))
        // count-min at w=8192, d=3 (the q361 md5 convention)
        val cm = keys.select(explode(array((1 to 3).map(i =>
            struct(lit(i.toLong).as("hr"),
              md5Bucket(concat(lit(s"cm$i:"), col("k").cast("string")), 8192)
                .as("cell"))): _*)).as("z"))
          .select(col("z.hr").as("hr"), col("z.cell").as("cell"))
          .groupBy("hr", "cell").agg(count(lit(1)).as("c"))
          .groupBy("hr").agg(sum(expr("c * c")).as("row_est"))
          .agg(min("row_est").as("est"))
          .select(lit("1:count_min").as("estimator"), lit(3L * 8192L).as("state_units"),
            col("est"))
        // Bernoulli p=1/4 row sample (40-bit md5 of the row key), with
        // the unbiased correction 16*S2 - 3n
        val sampEst = keys.where(
            md5Long(concat(lit("js:"), col("l_orderkey").cast("string"),
              lit(":"), col("l_linenumber").cast("string")), 10) < 274877906944L)
          .groupBy("k").agg(count(lit(1)).as("fs"))
          .agg(sum(expr("fs * fs")).as("s2"), count(lit(1)).as("sample_keys"),
            sum("fs").as("sample_rows"))
        val samp = sampEst.crossJoin(broadcast(exact.select(col("n_rows").as("nr"))))
          .select(lit("2:bernoulli_sample").as("estimator"),
            col("sample_rows").as("state_units"),
            expr("16 * s2 - 3 * nr").as("est"))
        cm.unionByName(samp).crossJoin(broadcast(exact))
          .select(col("estimator"), col("state_units"), col("est"),
            col("exact_f2"),
            expr("greatest(est * 10000 div greatest(exact_f2, 1), " +
              "exact_f2 * 10000 div greatest(est, 1))").as("qerr_bp"),
            expr("CAST(CASE WHEN est >= exact_f2 THEN 1 ELSE 0 END AS BIGINT)")
              .as("overestimates"),
            expr("CAST(CASE WHEN estimator = '1:count_min' THEN 1 ELSE 0 END AS BIGINT)")
              .as("one_sided_safe"))
          .orderBy("estimator")
      },
      Some(
        s"""WITH keys AS (SELECT l_orderkey, l_linenumber, l_partkey AS k FROM lineitem), exact AS (SELECT sum(fr * fr) AS exact_f2, sum(fr) AS n_rows FROM (SELECT k, count(*) AS fr FROM keys GROUP BY 1) g), cmc AS (SELECT hr, cell, count(*) AS c FROM (SELECT i AS hr, ${md5BucketSql("'cm' || CAST(i AS VARCHAR) || ':' || CAST(k AS VARCHAR)", 8192)} AS cell FROM keys CROSS JOIN (SELECT unnest([1, 2, 3]) AS i) ii) z GROUP BY 1, 2), cm AS (SELECT '1:count_min' AS estimator, CAST(3 * 8192 AS BIGINT) AS state_units, min(row_est) AS est FROM (SELECT hr, sum(c * c) AS row_est FROM cmc GROUP BY 1) r), se AS (SELECT sum(fs * fs) AS s2, sum(fs) AS sample_rows FROM (SELECT k, count(*) AS fs FROM keys WHERE ${md5LongSql("'js:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)", 10)} < 274877906944 GROUP BY 1) g), samp AS (SELECT '2:bernoulli_sample', sample_rows, 16 * s2 - 3 * (SELECT n_rows FROM exact) FROM se), u AS (SELECT * FROM cm UNION ALL SELECT * FROM samp) SELECT estimator, CAST(state_units AS BIGINT) AS state_units, CAST(est AS BIGINT) AS est, CAST((SELECT exact_f2 FROM exact) AS BIGINT) AS exact_f2, CAST(greatest(est * 10000 // greatest((SELECT exact_f2 FROM exact), 1), (SELECT exact_f2 FROM exact) * 10000 // greatest(est, 1)) AS BIGINT) AS qerr_bp, CAST(CASE WHEN est >= (SELECT exact_f2 FROM exact) THEN 1 ELSE 0 END AS BIGINT) AS overestimates, CAST(CASE WHEN estimator = '1:count_min' THEN 1 ELSE 0 END AS BIGINT) AS one_sided_safe FROM u ORDER BY estimator"""),
      "A/S ext: join-size estimator shootout — Bernoulli-sample F2 with the unbiased integer correction (16*S2 - 3n) vs the q361 count-min inner product vs exact, state budgets side by side and the one-sided planner-safety distinction as a column"),

    // q380 — INCREMENTAL HISTOGRAM MAINTENANCE: the stats-refresh
    // policy q374 leaves open — a histogram is rebuilt nightly at 100
    // TB only if someone pays for the scan, but on FROZEN boundaries
    // equi-width bin counts are purely ADDITIVE, so the delta day can
    // be merged in for the cost of scanning the delta (the q355/q357
    // mergeable-summary algebra applied to the CBO's own statistic).
    // Certified the house way: per bin, merged(stale + delta) ==
    // rebuilt-on-stale-boundaries, exactly — in BOTH scenarios. The
    // real delta day sits inside the stale range (the natural corpus
    // never drifts, the q293 dead-fixture rule), so a DRIFTED scenario
    // is planted alongside: the same delta shifted one full range
    // width up, the shape a currency re-denomination or unit-change
    // bug produces. What additivity CANNOT fix is boundary fidelity —
    // drifted values clamp into bin 15, silently fattening it (the
    // merge identity still HOLDS, which is the subtle trap: nothing in
    // the merge arithmetic fails, only the histogram's meaning) — so
    // the table carries the refresh TRIGGER: oor_rows counts the
    // clamped delta rows, refresh_boundaries fires when they exceed 1%
    // of the delta (the drift gate q370 applies to embeddings, here
    // applied to the optimizer's stats): 0 on the observed day, 1 on
    // the drifted one. Scale: one stale scan (the sunk nightly build)
    // + one delta-day scan per refresh; the merge is 16-row arithmetic.
    QuerySpec(
      "q380_incr_histogram",
      (s, d) => {
        val c = t(s, d, "orders").select(
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"),
          expr("unix_timestamp(o_orderdate) div 86400").as("dk"))
        val cm = c.crossJoin(broadcast(c.agg(max("dk").as("dmax"))))
        val stale = cm.where("dk < dmax").select("v")
        val mxS = stale.agg(min("v").as("vmin"), max("v").as("vmax"),
          expr("max(v) - min(v) + 1").as("w"))
        val deltaReal = cm.where("dk = dmax").select("v")
        val deltaDrift = deltaReal.crossJoin(broadcast(mxS))
          .select(expr("v + w").as("v"))
        def histOn(df: DataFrame, name: String): DataFrame =
          df.crossJoin(broadcast(mxS))
            .groupBy(expr(histBin16("v", "vmin", "w")).as("bin"))
            .agg(count(lit(1)).as(name))
        val hS = histOn(stale, "stale_cnt")
        def scenario(delta: DataFrame, name: String): DataFrame = {
          val hD = histOn(delta, "delta_cnt")
          val hR = histOn(stale.unionByName(delta), "rebuilt_cnt")
          val oor = delta.crossJoin(broadcast(mxS))
            .agg(sum(when(expr("v < vmin OR v > vmax"), 1L).otherwise(0L)).as("oor_rows"),
              count(lit(1)).as("delta_rows"))
          hS.join(hD, Seq("bin"), "full_outer").join(hR, Seq("bin"), "full_outer")
            .select(col("bin"),
              coalesce(col("stale_cnt"), lit(0L)).as("stale_cnt"),
              coalesce(col("delta_cnt"), lit(0L)).as("delta_cnt"),
              coalesce(col("rebuilt_cnt"), lit(0L)).as("rebuilt_cnt"))
            .crossJoin(broadcast(oor))
            .select(lit(name).as("scenario"), col("bin"), col("stale_cnt"),
              col("delta_cnt"), expr("stale_cnt + delta_cnt").as("merged_cnt"),
              col("rebuilt_cnt"),
              expr("CAST(CASE WHEN stale_cnt + delta_cnt = rebuilt_cnt THEN 1 ELSE 0 END AS BIGINT)")
                .as("matches"),
              col("oor_rows"),
              expr("CAST(CASE WHEN oor_rows * 10000 div greatest(delta_rows, 1) > 100 THEN 1 ELSE 0 END AS BIGINT)")
                .as("refresh_boundaries"))
        }
        scenario(deltaReal, "1:observed")
          .unionByName(scenario(deltaDrift, "2:drifted"))
          .orderBy("scenario", "bin")
      },
      Some {
        def leg(deltaSel: String, name: String): String =
          s"""SELECT '$name' AS scenario, coalesce(hs.bin, hd.bin, hr.bin) AS bin, coalesce(stale_cnt, 0) AS stale_cnt, coalesce(delta_cnt, 0) AS delta_cnt, coalesce(stale_cnt, 0) + coalesce(delta_cnt, 0) AS merged_cnt, coalesce(rebuilt_cnt, 0) AS rebuilt_cnt, CASE WHEN coalesce(stale_cnt, 0) + coalesce(delta_cnt, 0) = coalesce(rebuilt_cnt, 0) THEN 1 ELSE 0 END AS matches, (SELECT sum(CASE WHEN v < vmin OR v > vmax THEN 1 ELSE 0 END) FROM $deltaSel CROSS JOIN mxs) AS oor_rows, CASE WHEN (SELECT sum(CASE WHEN v < vmin OR v > vmax THEN 1 ELSE 0 END) * 10000 // greatest(count(*), 1) FROM $deltaSel CROSS JOIN mxs) > 100 THEN 1 ELSE 0 END AS refresh_boundaries FROM (SELECT least(15, greatest(0, (v - vmin) * 16 // w)) AS bin, count(*) AS stale_cnt FROM stale CROSS JOIN mxs GROUP BY 1) hs FULL JOIN (SELECT least(15, greatest(0, (v - vmin) * 16 // w)) AS bin, count(*) AS delta_cnt FROM $deltaSel CROSS JOIN mxs GROUP BY 1) hd ON hd.bin = hs.bin FULL JOIN (SELECT least(15, greatest(0, (v - vmin) * 16 // w)) AS bin, count(*) AS rebuilt_cnt FROM (SELECT v FROM stale UNION ALL SELECT v FROM $deltaSel) z CROSS JOIN mxs GROUP BY 1) hr ON hr.bin = coalesce(hs.bin, hd.bin)"""
        s"""WITH c AS (SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v, CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS dk FROM orders), mx AS (SELECT max(dk) AS dmax FROM c), stale AS (SELECT v FROM c CROSS JOIN mx WHERE dk < dmax), deltar AS (SELECT v FROM c CROSS JOIN mx WHERE dk = dmax), mxs AS (SELECT min(v) AS vmin, max(v) AS vmax, max(v) - min(v) + 1 AS w FROM stale), deltad AS (SELECT v + w AS v FROM deltar CROSS JOIN mxs), u AS (${leg("deltar", "1:observed")} UNION ALL ${leg("deltad", "2:drifted")}) SELECT scenario, CAST(bin AS BIGINT) AS bin, CAST(stale_cnt AS BIGINT) AS stale_cnt, CAST(delta_cnt AS BIGINT) AS delta_cnt, CAST(merged_cnt AS BIGINT) AS merged_cnt, CAST(rebuilt_cnt AS BIGINT) AS rebuilt_cnt, CAST(matches AS BIGINT) AS matches, CAST(oor_rows AS BIGINT) AS oor_rows, CAST(refresh_boundaries AS BIGINT) AS refresh_boundaries FROM u ORDER BY scenario, bin"""
      },
      "A/S ext: incremental histogram maintenance — q343's CBO histogram merged additively on frozen boundaries (merge == rebuild certified per bin, observed AND planted-drift scenarios) with the boundary-drift refresh trigger (clamped delta rows over 1%) firing only on the drifted day"))
}

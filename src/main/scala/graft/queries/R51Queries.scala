package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.md5LongSql
import graft.ops.QuantileOps

/** Round-10 third widening — ingestion-correctness members (the CDC
  * hazards q366 left open) and the second estimator shootout:
  *
  *  - q381 prices quantiles-from-a-sample against q357's 256-bin
  *    sketch, both graded by TRUE RANK ERROR — the q379 state-vs-
  *    accuracy story on the other statistic a planner reads;
  *  - q382 certifies IDEMPOTENT delta application: at-least-once
  *    delivery replays a batch, the naive fold double-counts it, the
  *    high-water-mark fold does not — divergence computed per segment
  *    (and the same rule ships online as
  *    EventStream.idempotentViewStream);
  *  - q383 handles the LATE-ARRIVING DIMENSION: facts whose dim row
  *    has not landed yet are parked with their fingerprint mass, then
  *    drained and merged when the dim slice arrives — final state
  *    certified equal to the full recompute, conservation checked.
  */
object R51Queries {

  /** q381's honest grade: the TRUE rank of every estimate — the corpus
    * stays on the PROBE side of a broadcast join against the tiny
    * estimate table, so grading cost is one linear pass regardless of
    * how many estimators compete. ScaleSlopeSpec measures this exact
    * core (SLOPES artifact).
    */
  private[graft] def trueRankGrade(corpus: DataFrame, ests: DataFrame): DataFrame =
    corpus.join(broadcast(ests), expr("v <= est_v"))
      .groupBy("f_bp", "estimator", "est_v", "state_units")
      .agg(count(lit(1)).as("true_rank"))

  val specs: Seq[QuerySpec] = Seq(

    // q381 — QUANTILE ESTIMATOR SHOOTOUT (sketch vs sample): q379
    // compared fixed-state vs linear-state estimators for join size;
    // this does the same for quantiles, the statistic behind q150's
    // grading, q307's curriculum cuts and every latency SLO. Targets
    // p50/p95/p99 of l_extendedprice (integer cents). Estimator A is
    // q357's 256-bin fixed-grid sketch (state: 256 counters forever);
    // estimator B is the exact quantile OF the q356 25% row sample
    // (state: n/4 rows, computed through the QuantileOps two-level
    // rank core — no global sort). Both are graded the honest way: by
    // the TRUE RANK of the returned value (count of v ≤ v̂, one
    // broadcast probe of the 6-row estimate table), err_bp =
    // |rank − target| — value-space error would flatter whichever
    // estimator the data's density favors. The measured lesson mirrors
    // q379: the sample is rank-accurate (~sqrt(1/n_s) noise) but its
    // state grows with the data; the sketch's error is bounded by the
    // bin width a-priori (q357's certified bound) at constant state —
    // and BOTH beat scanning 100 TB for an exact sort. Scale: one
    // map-side bucket pass + one sample pass; the probe join's build
    // side is the 6-row estimate table, never the corpus.
    QuerySpec(
      "q381_quantile_shootout",
      (s, d) => {
        val vm = t(s, d, "lineitem").select(
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("v"),
          col("l_orderkey"), col("l_linenumber"))
        val mx = vm.agg(min("v").as("vmin"), expr("max(v) - min(v) + 1").as("w"),
          count(lit(1)).as("n"))
        // estimator A: the q357 fixed-grid sketch, global
        val cum = vm.crossJoin(broadcast(mx))
          .groupBy(expr("least(255, (v - vmin) * 256 div w)").as("bin"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val grid = s.range(0, 1, 1, 1).select(
          explode(array(lit(5000L), lit(9500L), lit(9900L))).as("f_bp"))
        val skEst = grid.crossJoin(broadcast(mx))
          .join(broadcast(cum), expr("cum >= CAST(ceil(n * (f_bp / 10000.0)) AS BIGINT)"))
          .groupBy("f_bp").agg(min("bin").as("qbin"))
          .crossJoin(broadcast(mx))
          .select(col("f_bp"), lit("1:sketch_256").as("estimator"),
            expr("vmin + qbin * w div 256").as("est_v"), lit(256L).as("state_units"))
        // estimator B: exact quantiles of the 25% Knuth-hash row sample
        // (the q356 keep rule on the (orderkey, linenumber) row key)
        val samp = vm.where(expr(
          "((l_orderkey * 7919 + l_linenumber) % 2147483648) * 2654435761 % 4294967296 < 1073741824"))
        val nSamp = samp.agg(count(lit(1)).as("ns"))
        val smEst = QuantileOps.exactElementQuantiles(
            samp.select("v"), "v", Seq.empty, Seq(0.5, 0.95, 0.99))
          .select(explode(array(
            struct(lit(5000L).as("f_bp"), col("cut_1").cast("long").as("est_v")),
            struct(lit(9500L).as("f_bp"), col("cut_2").cast("long").as("est_v")),
            struct(lit(9900L).as("f_bp"), col("cut_3").cast("long").as("est_v")))).as("z"))
          .select(col("z.f_bp").as("f_bp"), lit("2:sample_25pct").as("estimator"),
            col("z.est_v").as("est_v"))
          .crossJoin(broadcast(nSamp))
          .select(col("f_bp"), col("estimator"), col("est_v"),
            col("ns").as("state_units"))
        val ests = skEst.unionByName(smEst)
        // the honest grade: TRUE rank of each returned value (corpus on
        // the PROBE side, 6-row estimate table on the build side)
        val ranks = trueRankGrade(vm.select("v"), ests)
        ranks.crossJoin(broadcast(mx.select("n")))
          .select(col("f_bp"), col("estimator"), col("est_v"), col("state_units"),
            expr("true_rank * 10000 div n").as("true_rank_bp"),
            expr("abs(true_rank * 10000 div n - f_bp)").as("rank_err_bp"))
          .orderBy("f_bp", "estimator")
      },
      Some {
        val exQ = QuantileOps.oracleSql(
          "(SELECT v FROM vm WHERE ((l_orderkey * 7919 + l_linenumber) % 2147483648) * 2654435761 % 4294967296 < 1073741824) vv",
          "v", Seq.empty, Seq(0.5, 0.95, 0.99))
        s"""WITH vm AS (SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v, l_orderkey, l_linenumber FROM lineitem), mx AS (SELECT min(v) AS vmin, max(v) - min(v) + 1 AS w, count(*) AS n FROM vm), cum AS (SELECT bin, sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum FROM (SELECT least(255, (v - vmin) * 256 // w) AS bin, count(*) AS c FROM vm CROSS JOIN mx GROUP BY 1) h), grid AS (SELECT unnest([5000, 9500, 9900]) AS f_bp), ska AS (SELECT g.f_bp, min(c.bin) AS qbin FROM grid g CROSS JOIN mx JOIN cum c ON c.cum >= CAST(ceil(n * (g.f_bp / 10000.0)) AS BIGINT) GROUP BY 1), ske AS (SELECT f_bp, '1:sketch_256' AS estimator, vmin + qbin * w // 256 AS est_v, 256 AS state_units FROM ska CROSS JOIN mx), ns AS (SELECT count(*) AS nss FROM vm WHERE ((l_orderkey * 7919 + l_linenumber) % 2147483648) * 2654435761 % 4294967296 < 1073741824), exq AS (SELECT CAST(cut_1 AS BIGINT) AS e1, CAST(cut_2 AS BIGINT) AS e2, CAST(cut_3 AS BIGINT) AS e3 FROM $exQ z), sme AS (SELECT f_bp, '2:sample_25pct' AS estimator, est_v, (SELECT nss FROM ns) AS state_units FROM (SELECT 5000 AS f_bp, e1 AS est_v FROM exq UNION ALL SELECT 9500, e2 FROM exq UNION ALL SELECT 9900, e3 FROM exq) y), ests AS (SELECT * FROM ske UNION ALL SELECT * FROM sme), ranks AS (SELECT e.f_bp, e.estimator, e.est_v, e.state_units, count(*) AS true_rank FROM ests e JOIN vm ON vm.v <= e.est_v GROUP BY 1, 2, 3, 4) SELECT CAST(f_bp AS BIGINT) AS f_bp, estimator, CAST(est_v AS BIGINT) AS est_v, CAST(state_units AS BIGINT) AS state_units, CAST(true_rank * 10000 // n AS BIGINT) AS true_rank_bp, CAST(abs(true_rank * 10000 // n - f_bp) AS BIGINT) AS rank_err_bp FROM ranks CROSS JOIN mx ORDER BY f_bp, estimator"""
      },
      "A/S ext: quantile estimator shootout — q357's 256-bin fixed-grid sketch vs exact quantiles of the 25% row sample, both graded by TRUE rank error via a 6-row broadcast probe; the q379 fixed-vs-linear-state story on the quantile statistic"),

    // q382 — IDEMPOTENT DELTA APPLICATION: at-least-once delivery WILL
    // replay a batch eventually, and q366's additive merge — correct
    // under exactly-once — silently double-counts it. The fix every
    // warehouse ships is a HIGH-WATER MARK: a batch whose id is ≤ the
    // MV's applied watermark is skipped wholesale. Simulated on real
    // data: the last three order days are the delta batches, day
    // dmax−1 is delivered TWICE. The naive fold applies all four
    // deliveries (base + d1 + 2·d2 + d3); the idempotent fold skips
    // the replay. Certified per segment against the exactly-once
    // recompute: idem_n/idem_ck match, matches = 1; the naive fold's
    // divergence is EXACTLY the replayed batch (naive − full = d2,
    // count and fingerprint both — the signature that tells an oncall
    // "this is a replay, not corruption"). The same high-water-mark
    // rule runs online as EventStream.idempotentViewStream through the
    // identical jvMerge core, with skipped replays counted. Scale: one
    // orders pass splits the days; everything else is segment-row
    // arithmetic through broadcast joins.
    QuerySpec(
      "q382_idempotent_apply",
      (s, d) => {
        val b = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          expr("unix_timestamp(o_orderdate) div 86400").as("dk"))
        val dks = b.select("dk").distinct()
          .agg(max("dk").as("d3k"), expr("max(dk) - 1").as("d2k"),
            expr("max(dk) - 2").as("d1k"))
        val bm = b.crossJoin(broadcast(dks))
        val dim = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
        def summ(df: DataFrame): DataFrame =
          df.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
            .groupBy(col("c_mktsegment").as("seg"))
            .agg(count(lit(1)).as("n"),
              sum(R46Queries.jvFingerprint(col("o_orderkey"))).as("ck"))
        val base = summ(bm.where("dk < d1k"))
        val d1 = summ(bm.where("dk = d1k"))
        val d2 = summ(bm.where("dk = d2k"))
        val d3 = summ(bm.where("dk = d3k"))
        val full = summ(bm)
        // naive fold: applies the replayed d2 twice
        val naive = Seq(d1, d2, d2, d3).foldLeft(base)(R46Queries.jvMerge)
        // idempotent fold: the high-water mark skips the second d2 —
        // algebraically base + d1 + d2 + d3, same jvMerge core
        val idem = Seq(d1, d2, d3).foldLeft(base)(R46Queries.jvMerge)
        idem.select(col("seg"), col("n").as("idem_n"), col("ck").as("idem_ck"))
          .join(naive.select(col("seg"), col("n").as("naive_n"), col("ck").as("naive_ck")),
            Seq("seg"))
          .join(full.select(col("seg"), col("n").as("full_n"), col("ck").as("full_ck")),
            Seq("seg"))
          .join(d2.select(col("seg"), col("n").as("replay_n"), col("ck").as("replay_ck")),
            Seq("seg"), "left")
          .select(col("seg").as("c_mktsegment"), col("idem_n"), col("naive_n"),
            col("full_n"),
            expr("CAST(CASE WHEN idem_n = full_n AND idem_ck = full_ck THEN 1 ELSE 0 END AS BIGINT)")
              .as("matches"),
            expr("naive_n - full_n").as("overcount_n"),
            expr("CAST(CASE WHEN naive_n - full_n = coalesce(replay_n, 0) AND naive_ck - full_ck = coalesce(replay_ck, 0) THEN 1 ELSE 0 END AS BIGINT)")
              .as("divergence_is_replay"))
          .orderBy("c_mktsegment")
      },
      Some(
        s"""WITH b AS (SELECT o_orderkey, o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS dk FROM orders), dks AS (SELECT max(dk) AS d3k, max(dk) - 1 AS d2k, max(dk) - 2 AS d1k FROM b), v AS (SELECT b.dk, c.c_mktsegment AS seg, ${md5LongSql("concat('jv:', CAST(b.o_orderkey AS VARCHAR))", 10)} AS ck FROM b JOIN customer c ON c.c_custkey = b.o_custkey CROSS JOIN dks), base AS (SELECT seg, count(*) AS n, sum(ck) AS ckk FROM v CROSS JOIN dks WHERE dk < d1k GROUP BY 1), d1 AS (SELECT seg, count(*) AS n, sum(ck) AS ckk FROM v CROSS JOIN dks WHERE dk = d1k GROUP BY 1), d2 AS (SELECT seg, count(*) AS n, sum(ck) AS ckk FROM v CROSS JOIN dks WHERE dk = d2k GROUP BY 1), d3 AS (SELECT seg, count(*) AS n, sum(ck) AS ckk FROM v CROSS JOIN dks WHERE dk = d3k GROUP BY 1), fullv AS (SELECT seg, count(*) AS n, sum(ck) AS ckk FROM v GROUP BY 1), naive AS (SELECT seg, sum(n) AS n, sum(ckk) AS ckk FROM (SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3) z GROUP BY 1), idem AS (SELECT seg, sum(n) AS n, sum(ckk) AS ckk FROM (SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3) z GROUP BY 1) SELECT i.seg AS c_mktsegment, CAST(i.n AS BIGINT) AS idem_n, CAST(nv.n AS BIGINT) AS naive_n, CAST(f.n AS BIGINT) AS full_n, CAST(CASE WHEN i.n = f.n AND i.ckk = f.ckk THEN 1 ELSE 0 END AS BIGINT) AS matches, CAST(nv.n - f.n AS BIGINT) AS overcount_n, CAST(CASE WHEN nv.n - f.n = coalesce(d2.n, 0) AND nv.ckk - f.ckk = coalesce(d2.ckk, 0) THEN 1 ELSE 0 END AS BIGINT) AS divergence_is_replay FROM idem i JOIN naive nv ON nv.seg = i.seg JOIN fullv f ON f.seg = i.seg LEFT JOIN d2 ON d2.seg = i.seg ORDER BY c_mktsegment"""),
      "A/S ext: idempotent delta application — a replayed batch (at-least-once delivery) double-counts under the naive additive fold; the high-water-mark fold is certified equal to exactly-once recompute, and the naive divergence proven to be exactly the replayed batch (count AND fingerprint)"),

    // q383 — LATE-ARRIVING DIMENSION: the other CDC hazard — a fact
    // lands before its dimension row (a brand-new customer's first
    // order beats the customer record through the pipeline). Dropping
    // it corrupts the view; blocking the pipeline on referential
    // integrity stalls ingest. The warehouse pattern: join what you
    // can, PARK the orphans keyed by the missing dim key (with their
    // fingerprint mass, so nothing can silently vanish), and DRAIN the
    // parking lot when the dim slice arrives. Simulated on real data:
    // customers with c_custkey % 13 = 0 arrive late; phase 1 joins the
    // last quarter's facts (90 ship days — one delta day carries too
    // few orders at the small SFs to keep the orphan fixture alive)
    // against the on-time dim and parks the rest, phase 2 drains
    // against the late slice. Certified: (a) the
    // drained+matched merge equals the full recompute per segment
    // (matches); (b) CONSERVATION — parked mass equals drained mass
    // exactly (orphans_in = orphans_out, fingerprints too), so the
    // parking lot neither eats nor invents facts; (c) the fixture is
    // alive (orphan_rows > 0). Scale: two broadcast dim joins + keyed
    // aggregates; the parking lot is keyed by dim key, bounded by the
    // orphan population, and drains by equi-join.
    QuerySpec(
      "q383_late_dimension",
      (s, d) => {
        val b = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          expr("unix_timestamp(o_orderdate) div 86400").as("dk"))
        val facts = b.crossJoin(broadcast(b.agg(max("dk").as("dmax"))))
          .where("dk > dmax - 90")
          .select(col("o_orderkey"), col("o_custkey"),
            R46Queries.jvFingerprint(col("o_orderkey")).as("ck"))
        val dim = t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
        val onTime = dim.where("c_custkey % 13 != 0")
        val late = dim.where("c_custkey % 13 = 0")
        // phase 1: join what's there, park the rest (keyed by dim key,
        // carrying count + fingerprint so mass is conserved observably)
        val matched = facts.join(broadcast(onTime), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("n"), sum("ck").as("ck"))
        val parked = facts.join(broadcast(onTime), col("o_custkey") === col("c_custkey"),
            "left_anti")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("pn"), sum("ck").as("pck"))
        // phase 2: the late slice lands — drain the lot by equi-join
        val drained = parked.join(broadcast(late), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"))
          .agg(sum("pn").as("n"), sum("pck").as("ck"))
        val finalMv = R46Queries.jvMerge(matched, drained)
        val full = facts.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("full_n"), sum("ck").as("full_ck"))
        val cons = parked.agg(coalesce(sum("pn"), lit(0L)).as("parked_n"),
            coalesce(sum("pck"), lit(0L)).as("parked_ck"))
          .crossJoin(broadcast(drained.agg(
            coalesce(sum("n"), lit(0L)).as("drained_n"),
            coalesce(sum("ck"), lit(0L)).as("drained_ck"))))
        finalMv.select(col("seg"), col("n").as("final_n"), col("ck").as("final_ck"))
          .join(full, Seq("seg"))
          .crossJoin(broadcast(cons))
          .select(col("seg").as("c_mktsegment"), col("final_n"), col("full_n"),
            expr("CAST(CASE WHEN final_n = full_n AND final_ck = full_ck THEN 1 ELSE 0 END AS BIGINT)")
              .as("matches"),
            col("parked_n"),
            expr("CAST(CASE WHEN parked_n = drained_n AND parked_ck = drained_ck THEN 1 ELSE 0 END AS BIGINT)")
              .as("mass_conserved"))
          .orderBy("c_mktsegment")
      },
      Some(
        s"""WITH b AS (SELECT o_orderkey, o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS dk FROM orders), mx AS (SELECT max(dk) AS dmax FROM b), facts AS (SELECT o_orderkey, o_custkey, ${md5LongSql("concat('jv:', CAST(o_orderkey AS VARCHAR))", 10)} AS ck FROM b CROSS JOIN mx WHERE dk > dmax - 90), ontime AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 13 != 0), late AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 13 = 0), matched AS (SELECT c_mktsegment AS seg, count(*) AS n, sum(ck) AS ckk FROM facts JOIN ontime ON c_custkey = o_custkey GROUP BY 1), parked AS (SELECT o_custkey, count(*) AS pn, sum(ck) AS pck FROM facts WHERE o_custkey NOT IN (SELECT c_custkey FROM ontime) GROUP BY 1), drained AS (SELECT c_mktsegment AS seg, sum(pn) AS n, sum(pck) AS ckk FROM parked JOIN late ON c_custkey = o_custkey GROUP BY 1), fin AS (SELECT coalesce(m.seg, dr.seg) AS seg, coalesce(m.n, 0) + coalesce(dr.n, 0) AS n, coalesce(m.ckk, 0) + coalesce(dr.ckk, 0) AS ckk FROM matched m FULL JOIN drained dr ON dr.seg = m.seg WHERE coalesce(m.n, 0) + coalesce(dr.n, 0) > 0), fullv AS (SELECT c_mktsegment AS seg, count(*) AS full_n, sum(ck) AS full_ck FROM facts JOIN customer ON c_custkey = o_custkey GROUP BY 1), cons AS (SELECT coalesce((SELECT sum(pn) FROM parked), 0) AS parked_n, coalesce((SELECT sum(pck) FROM parked), 0) AS parked_ck, coalesce((SELECT sum(n) FROM drained), 0) AS drained_n, coalesce((SELECT sum(ckk) FROM drained), 0) AS drained_ck) SELECT f.seg AS c_mktsegment, CAST(f.n AS BIGINT) AS final_n, CAST(fv.full_n AS BIGINT) AS full_n, CAST(CASE WHEN f.n = fv.full_n AND f.ckk = fv.full_ck THEN 1 ELSE 0 END AS BIGINT) AS matches, CAST(parked_n AS BIGINT) AS parked_n, CAST(CASE WHEN parked_n = drained_n AND parked_ck = drained_ck THEN 1 ELSE 0 END AS BIGINT) AS mass_conserved FROM fin f JOIN fullv fv ON fv.seg = f.seg CROSS JOIN cons ORDER BY c_mktsegment"""),
      "A/J/S ext: late-arriving dimension — facts park with fingerprint mass when their dim row is missing, drain by equi-join when the late slice lands; final merge certified equal to full recompute, parked==drained conservation checked"))
}

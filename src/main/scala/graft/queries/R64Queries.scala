package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables
import graft.ops.HashOps.{md5Bucket, md5BucketSql}

/** Round-12 eighth widening — ESTIMATION ROBUSTNESS: what a planted
  * stats error actually COSTS, and which sampling design keeps it
  * small.
  *
  *  - q431 prices the q358 enumeration's robustness: the customer
  *    fan-out estimate is swept across a 1×–16× planted error, the
  *    argmin re-chosen at every error level, and the REGRET (the
  *    chosen order's exact cost over the true optimum) measured — the
  *    flip sits exactly where the planted fan-out crosses the true
  *    lineitem fan-out, and until it flips the regret is zero (the
  *    robustness plateau cost-based optimizers rely on);
  *  - q432 runs the classic join-size estimation duel on the
  *    frequency-skewed self-join: CORRELATED sampling (both sides
  *    keep the same hash band of the JOIN KEY, scale by 1/p) against
  *    INDEPENDENT row sampling (different hashes, scale by 1/p²),
  *    replayed over all 16 disjoint bands — per-band q-errors show
  *    the correlated design tight at every band while the independent
  *    one swings, the variance gap that makes key-coordinated
  *    sampling the standard for join stats.
  *
  * Everything is integer and deterministic (md5 bands, no RNG);
  * truths are exact corpus aggregates.
  */
object R64Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q431 — THE PLAN-REGRET FRONTIER: q358 proved the estimate argmin
    // lands on the exact-cost argmin when stats are right; this
    // measures what happens as ONE stat goes wrong. The optimizer
    // believes each filtered order matches e customer rows (truth: 1,
    // TPC-H RI) for e in {1,2,4,8,16}; under sum-of-intermediates
    // pricing, order 2 (customer first) is estimated at nf·e + nf·fan
    // and order 1 (lineitem first) at nf·fan + nf·fan·... both final
    // estimates coincide, so the argmin flips exactly when e exceeds
    // the true lineitem fan-out (~4). Until the flip, regret_bp =
    // 10000 — misestimation is FREE while the ordering survives (the
    // plateau that makes CBOs usable at all); past it the chosen
    // plan's EXACT cost pays the measured ~1.6x. All exact costs are
    // data (the fo-keyed probe joins), not formulas. Scale: one
    // filtered key set broadcast through two probe joins; the sweep
    // is arithmetic.
    QuerySpec(
      "q431_plan_regret",
      (s, d) => {
        val cc = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
        val pred = cc.agg(min("v").as("vmin"), expr("max(v) - min(v) + 1").as("w"))
          .selectExpr("vmin + w div 2 - w div 64 AS lo", "vmin + w div 2 + w div 64 AS hi")
        val fo = cc.join(broadcast(pred), expr("v BETWEEN lo AND hi"))
          .select("o_orderkey", "o_custkey").localCheckpoint(false)
        val st = t(s, d, "lineitem").agg(count(lit(1)).as("n_li"))
          .crossJoin(broadcast(t(s, d, "orders").agg(count(lit(1)).as("n_ord"))))
          .crossJoin(broadcast(fo.agg(count(lit(1)).as("nf"))))
        val actA = t(s, d, "lineitem").join(broadcast(fo),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, d, "customer").select(col("c_custkey"))),
            col("c_custkey") === col("o_custkey"), "left")
          .agg(count(lit(1)).as("act_a"),
            sum(when(col("c_custkey").isNotNull, 1L).otherwise(0L)).as("act_f"))
          .localCheckpoint(false)
        val actB = t(s, d, "customer").join(broadcast(fo),
          col("c_custkey") === col("o_custkey")).agg(count(lit(1)).as("act_b"))
        val base = st.crossJoin(broadcast(actA)).crossJoin(broadcast(actB))
          .localCheckpoint(false)
        val errs = s.range(5).select(expr("CAST(pow(2, id) AS BIGINT)").as("e"))
        errs.crossJoin(broadcast(base))
          .select(col("e"),
            // fhat = estimated O join L rows; both finals = fhat * e
            expr("nf * n_li div n_ord").as("fhat"),
            col("nf"), col("act_a"), col("act_b"), col("act_f"))
          .select(col("e"),
            expr("fhat + fhat * e").as("est_cost_o1"),
            expr("nf * e + fhat * e").as("est_cost_o2"),
            expr("CASE WHEN fhat + fhat * e < nf * e + fhat * e THEN '1:lineitem_first' ELSE '2:customer_first' END")
              .as("chosen_order"),
            expr("CASE WHEN fhat + fhat * e < nf * e + fhat * e THEN act_a + act_f ELSE act_b + act_f END")
              .as("act_cost_chosen"),
            expr("least(act_a + act_f, act_b + act_f)").as("act_cost_opt"))
          .select(col("e"), col("est_cost_o1"), col("est_cost_o2"),
            col("chosen_order"), col("act_cost_chosen"), col("act_cost_opt"),
            expr("act_cost_chosen * 10000 div act_cost_opt").as("regret_bp"),
            expr("CAST(CASE WHEN act_cost_chosen = act_cost_opt THEN 0 ELSE 1 END AS BIGINT)")
              .as("flipped"))
          .orderBy("e")
      },
      Some(
        """WITH cc AS (SELECT o_orderkey, o_custkey, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), pred AS (SELECT vmin + w // 2 - w // 64 AS lo, vmin + w // 2 + w // 64 AS hi FROM (SELECT min(v) AS vmin, max(v) - min(v) + 1 AS w FROM cc) z), fo AS (SELECT o_orderkey, o_custkey FROM cc JOIN pred ON v BETWEEN lo AND hi), st AS (SELECT (SELECT count(*) FROM lineitem) AS n_li, (SELECT count(*) FROM orders) AS n_ord, (SELECT count(*) FROM fo) AS nf), acts AS (SELECT (SELECT count(*) FROM lineitem JOIN fo ON l_orderkey = fo.o_orderkey) AS act_a, (SELECT count(*) FROM customer JOIN fo ON c_custkey = fo.o_custkey) AS act_b, (SELECT count(*) FROM lineitem l JOIN fo ON l.l_orderkey = fo.o_orderkey JOIN customer cu ON cu.c_custkey = fo.o_custkey) AS act_f), errs AS (SELECT 1 AS e UNION ALL SELECT 2 UNION ALL SELECT 4 UNION ALL SELECT 8 UNION ALL SELECT 16), k AS (SELECT e, nf * n_li // n_ord AS fhat, nf, act_a, act_b, act_f FROM errs CROSS JOIN st CROSS JOIN acts), k2 AS (SELECT e, fhat + fhat * e AS est_cost_o1, nf * e + fhat * e AS est_cost_o2, CASE WHEN fhat + fhat * e < nf * e + fhat * e THEN '1:lineitem_first' ELSE '2:customer_first' END AS chosen_order, CASE WHEN fhat + fhat * e < nf * e + fhat * e THEN act_a + act_f ELSE act_b + act_f END AS act_cost_chosen, least(act_a + act_f, act_b + act_f) AS act_cost_opt FROM k) SELECT CAST(e AS BIGINT) AS e, CAST(est_cost_o1 AS BIGINT) AS est_cost_o1, CAST(est_cost_o2 AS BIGINT) AS est_cost_o2, chosen_order, CAST(act_cost_chosen AS BIGINT) AS act_cost_chosen, CAST(act_cost_opt AS BIGINT) AS act_cost_opt, CAST(act_cost_chosen * 10000 // act_cost_opt AS BIGINT) AS regret_bp, CAST(CASE WHEN act_cost_chosen = act_cost_opt THEN 0 ELSE 1 END AS BIGINT) AS flipped FROM k2 ORDER BY e"""),
      "A/J ext: the plan-regret frontier — the customer fan-out estimate swept across a 1x-16x planted error over the q358 enumeration, the argmin re-chosen per level, and regret measured from EXACT executed costs: zero while the ordering survives (the CBO robustness plateau), the flip landing exactly where the planted fan-out crosses the true lineitem fan-out, and the measured ~1.6x price beyond it"),

    // q432 — THE SAMPLING-DESIGN DUEL FOR JOIN-SIZE ESTIMATION, RUN
    // ON BOTH FREQUENCY CLASSES: self-join size is Σ cnt(key)², and
    // which sampling design estimates it well is governed by PAIR
    // SURVIVAL. CORRELATED (universe) sampling keeps the same md5
    // band of the JOIN KEY on both sides (scale 1/p: surviving keys
    // keep their FULL cnt², error = the key-mass dispersion of a
    // 1/16 key subset — scale-free in the corpus); INDEPENDENT row
    // sampling keeps rows by two different hashes of the ROW ID
    // (scale 1/p²: a pair survives only when both rows independently
    // do, so a band expects truth/256 pairs — exp_pairs_per_band, the
    // diagnostic emitted per row). Both replayed over all 16 disjoint
    // bands (deterministic md5, no RNG), per-band q-errors against
    // the exact truth, per-class worst-band frontier. The dense
    // custkey class (~10 rows/key) keeps Bernoulli's bands fed at
    // every SF — independent wins on dispersion. The sparse value
    // class (~1.5 rows/key) STARVES at small corpora: at sf0.001 the
    // worst independent band misses by ~1100x (a band with no
    // surviving pair at scale-up 256) while correlated stays inside
    // 1.25x — the regime where engines must key-coordinate their
    // stats samples. As the corpus grows, exp_pairs_per_band crosses
    // into the hundreds and Bernoulli's averaging over ALL keys takes
    // back over — the gate is the SURVIVAL COUNT, not the key class
    // alone, and the frame carries the number that decides it.
    // Scale: each estimator is one keyed aggregate; the exact
    // Σ cnt² truths are the graders.
    QuerySpec(
      "q432_sampling_duel",
      (s, d) => {
        val dense = t(s, d, "orders")
          .select(lit("1:dense_custkey").as("class"),
            col("o_orderkey").as("rid"), col("o_custkey").as("c"))
        val sparse = Tables.events(s, d)
          .select(lit("2:sparse_value").as("class"), col("event_id").as("rid"),
            expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("c"))
        // one class-tagged pipeline: every aggregate below carries the
        // class key, so both duels ride the same jobs.
        // ONE per-(class, key) pass (guide §2.3; the q361/q404 per-key
        // convention, r14): the old shape scanned `rows` three times
        // (cnts, the ia band counts, the ib band counts) and joined the
        // two row-sample legs back on (class, c, band). Both row-hash
        // band assignments are evaluated in the SAME scan and folded
        // into 16+16 conditional counters per key, so the union
        // shuffles once on (class, c) and every estimator below is a
        // fold of this ~|keys|-row table. est_indep equivalence: the
        // inner join summed ca·cb over (c, band) where BOTH legs had
        // rows — exactly Σ_k ca_k·cb_k of the pivot, since a leg with
        // no rows in band k has ca_k = 0 and kills the product; bands
        // whose every product is zero now emit est 0 directly, which is
        // what the old left-join + coalesce produced for them.
        val rows = dense.unionByName(sparse)
        val keyed = rows.select(col("class"), col("c"),
          md5Bucket(concat(lit("ia:"), col("rid").cast("string")), 16)
            .as("ba"),
          md5Bucket(concat(lit("ib:"), col("rid").cast("string")), 16)
            .as("bb"))
        val pivots = count(lit(1)).as("cnt") +:
          ((0 until 16).map(k =>
            sum(when(col("ba") === k, 1L).otherwise(0L)).as(s"ca_$k")) ++
           (0 until 16).map(k =>
            sum(when(col("bb") === k, 1L).otherwise(0L)).as(s"cb_$k")))
        val perKey = keyed.groupBy("class", "c").agg(pivots.head, pivots.tail: _*)
          .localCheckpoint(false)
        val truth = perKey.groupBy("class").agg(sum(expr("cnt * cnt")).as("truth"),
          count(lit(1)).as("keys"))
        val corr = perKey.select(col("class"),
            md5Bucket(concat(lit("cs:"), col("c").cast("string")), 16)
              .as("band"), expr("cnt * cnt").as("m"))
          .groupBy("class", "band").agg((sum("m") * 16L).as("est_corr"))
        val indep = perKey.select(col("class"), explode(array((0 until 16).map(k =>
            struct(lit(k.toLong).as("band"),
              (col(s"ca_$k") * col(s"cb_$k")).as("prod"))): _*)).as("z"))
          .select(col("class"), col("z.band").as("band"), col("z.prod").as("prod"))
          .groupBy("class", "band").agg((sum("prod") * 256L).as("est_indep"))
        val bands = truth.select("class")
          .crossJoin(s.range(16).select(col("id").as("band")))
        val per = bands.join(corr, Seq("class", "band"), "left")
          .join(indep, Seq("class", "band"), "left")
          .join(broadcast(truth), Seq("class"))
          .select(col("class"), col("band"),
            coalesce(col("est_corr"), lit(0L)).as("est_corr"),
            coalesce(col("est_indep"), lit(0L)).as("est_indep"),
            col("truth"), col("keys").cast("long").as("keys"))
          .select(col("class"), col("band"), col("est_corr"), col("est_indep"),
            col("truth"), col("keys"),
            expr("greatest(est_corr * 10000 div truth, truth * 10000 div greatest(est_corr, 1))")
              .as("qerr_corr_bp"),
            expr("greatest(est_indep * 10000 div truth, truth * 10000 div greatest(est_indep, 1))")
              .as("qerr_indep_bp"))
          .localCheckpoint(false)
        val fr = per.groupBy("class").agg(max("qerr_corr_bp").as("worst_corr_bp"),
          max("qerr_indep_bp").as("worst_indep_bp"))
        per.join(broadcast(fr), Seq("class"))
          .select(col("class"), col("band"), col("keys"), col("truth"),
            expr("truth div 256").as("exp_pairs_per_band"),
            col("est_corr"), col("qerr_corr_bp"), col("est_indep"), col("qerr_indep_bp"),
            col("worst_corr_bp"), col("worst_indep_bp"),
            expr("CAST(CASE WHEN worst_corr_bp < worst_indep_bp THEN 1 ELSE 0 END AS BIGINT)")
              .as("corr_wins"))
          .orderBy("class", "band")
      },
      Some {
        def bkt(e: String, salt: String): String =
          md5BucketSql(s"concat('$salt', CAST($e AS VARCHAR))", 16)
        def duelSql(cls: String, rowsSel: String): String =
          s"""SELECT '$cls' AS class, bands.band, tr.keys, tr.truth, coalesce(corr.est_corr, 0) AS est_corr, coalesce(indep.est_indep, 0) AS est_indep FROM (SELECT range AS band FROM range(16)) bands LEFT JOIN (SELECT ${bkt("c", "cs:")} AS band, sum(cnt * cnt) * 16 AS est_corr FROM (SELECT c, count(*) AS cnt FROM ($rowsSel) r GROUP BY c) cn GROUP BY 1) corr ON corr.band = bands.band LEFT JOIN (SELECT a.band, sum(a.ca * b.cb) * 256 AS est_indep FROM (SELECT c, ${bkt("rid", "ia:")} AS band, count(*) AS ca FROM ($rowsSel) r GROUP BY 1, 2) a JOIN (SELECT c, ${bkt("rid", "ib:")} AS band, count(*) AS cb FROM ($rowsSel) r GROUP BY 1, 2) b ON a.c = b.c AND a.band = b.band GROUP BY 1) indep ON indep.band = bands.band CROSS JOIN (SELECT sum(cnt * cnt) AS truth, count(*) AS keys FROM (SELECT c, count(*) AS cnt FROM ($rowsSel) r GROUP BY c) cn) tr"""
        val dense = "SELECT o_orderkey AS rid, o_custkey AS c FROM orders"
        val sparse = "SELECT event_id AS rid, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c FROM events"
        s"""WITH per AS (${duelSql("1:dense_custkey", dense)} UNION ALL ${duelSql("2:sparse_value", sparse)}), q AS (SELECT class, band, keys, truth, est_corr, est_indep, greatest(est_corr * 10000 // truth, truth * 10000 // greatest(est_corr, 1)) AS qerr_corr_bp, greatest(est_indep * 10000 // truth, truth * 10000 // greatest(est_indep, 1)) AS qerr_indep_bp FROM per), fr AS (SELECT class, max(qerr_corr_bp) AS worst_corr_bp, max(qerr_indep_bp) AS worst_indep_bp FROM q GROUP BY class) SELECT q.class, CAST(q.band AS BIGINT) AS band, CAST(q.keys AS BIGINT) AS keys, CAST(q.truth AS BIGINT) AS truth, CAST(q.truth // 256 AS BIGINT) AS exp_pairs_per_band, CAST(q.est_corr AS BIGINT) AS est_corr, CAST(q.qerr_corr_bp AS BIGINT) AS qerr_corr_bp, CAST(q.est_indep AS BIGINT) AS est_indep, CAST(q.qerr_indep_bp AS BIGINT) AS qerr_indep_bp, CAST(fr.worst_corr_bp AS BIGINT) AS worst_corr_bp, CAST(fr.worst_indep_bp AS BIGINT) AS worst_indep_bp, CAST(CASE WHEN fr.worst_corr_bp < fr.worst_indep_bp THEN 1 ELSE 0 END AS BIGINT) AS corr_wins FROM q JOIN fr ON fr.class = q.class ORDER BY q.class, q.band"""
      },
      "A/J ext: the sampling-design duel for join-size estimation on both frequency classes — correlated (universe, 1/p) vs independent (Bernoulli, 1/p-squared) over 16 deterministic md5 bands against the exact sum-cnt-squared truth, with exp_pairs_per_band (truth/256) emitted as the deciding diagnostic: Bernoulli starves when it drops to tens (worst band ~1100x on the sparse key at sf0.001, where universe sampling holds 1.25x) and takes over once survival reaches the hundreds — the measured gate behind key-coordinated stats samples"))
}

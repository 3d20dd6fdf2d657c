package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables
import graft.functions.cosineSim

/** Round-8 fourth widening — the measurement-and-governance layer a
  * data-curation team runs ON TOP of the pipeline the earlier rounds
  * built, plus the one multilingual mining operator still missing:
  *
  *  - q331 inter-rater agreement: the quality GATES themselves audited
  *    as raters (pairwise Cohen's kappa) — gates that merely agree by
  *    chance add no signal to a filtering ensemble;
  *  - q332 empirical-Bayes rate shrinkage: the small-n per-segment rate
  *    table every dashboard needs before anyone ranks segments by a
  *    raw ratio of tiny counts;
  *  - q333 Benjamini–Hochberg FDR: the multiple-testing discipline for
  *    the per-segment alarm sweep (one CUSUM/SRM per segment at α=0.1
  *    fires ~15 false alarms per 150 segments without it);
  *  - q334 day-of-week seasonal profile + deseasonalized anomalies: the
  *    calendar structure Holt (q315) and CUSUM (q316) deliberately
  *    smooth over, read out explicitly;
  *  - q335 margin-based bitext mining: cross-lingual parallel-pair
  *    mining (the CCMatrix/LASER ratio-margin criterion) over the
  *    embedding corpus — the multilingual twin of the dedup funnel;
  *  - q336 token-mass concentration: per-source/per-lang Gini + top-
  *    decile share — how few documents carry the corpus's token mass
  *    (mixture-weight sanity input).
  *
  * All six follow the house determinism conventions: integer micro/bp
  * grids via `div`//`//` on non-negative operands, doubles only as a
  * single order-pinned expression over exact integer aggregates (or
  * running-frame window sums, which both engines fold sequentially),
  * `round(x, 6)` at the boundary.
  */
object R36Queries {

  /** Shared q332 scalar-prior expressions: ONE text, interpolated into
    * both the Spark plan and the DuckDB oracle, so the double-precision
    * expression tree is identical by construction (the q328 convention,
    * applied to method-of-moments algebra instead of cosines). All
    * inputs (k, sv, sc, sp, sp2, v, c) are exact integer aggregates.
    */
  private val ebMean = "(CAST(sc AS DOUBLE) / CAST(sv AS DOUBLE))"
  private val ebVar =
    "((CAST(sp2 AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(k AS DOUBLE)) / CAST(k - 1 AS DOUBLE) / 1000000000000.0)"
  private val ebKRaw =
    s"(CASE WHEN $ebVar > 0.0 THEN $ebMean * (1.0 - $ebMean) / $ebVar - 1.0 ELSE 1.0 END)"
  private val ebK = s"greatest(1.0, least($ebKRaw, 1000000.0))"
  private val ebShrunk =
    s"round((CAST(c AS DOUBLE) + $ebMean * $ebK) / (CAST(v AS DOUBLE) + $ebK), 6)"

  /** Shared q333 z / p-value expressions (same one-text convention).
    * The p-value uses Lin's (1989) closed-form normal-tail
    * approximation p ≈ 2·exp(−0.717|z| − 0.416z²) — monotone in |z|,
    * computable identically in both engines (no erf in the oracle
    * dialect), and rounded to 6 places BEFORE it becomes the BH sort
    * key so the ranking compares identical values.
    */
  private val bhP = "(CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE))"
  private val bhZ =
    s"((CAST(c AS DOUBLE) / CAST(n AS DOUBLE) - $bhP) / sqrt($bhP * (1.0 - $bhP) / CAST(n AS DOUBLE)))"
  private val bhPv =
    s"round(least(1.0, 2.0 * exp(-0.717 * abs($bhZ) - 0.416 * $bhZ * $bhZ)), 6)"

  /** The BH step-up core q333 ships, shared with its streaming twin
    * (EventStream.bhAlarmStream runs it per micro-batch over the
    * complete-mode segment aggregate — StreamingSpec proves
    * stream == batch on the same events). Input: one row per segment
    * (user_id, n, c); output: the ranked, multiplicity-controlled
    * alarm table.
    */
  private[graft] def bhTail(per: DataFrame): DataFrame = {
    val tot = per.agg(count(lit(1)).as("m"), sum("n").as("tn"), sum("c").as("tc"))
    per.crossJoin(broadcast(tot))
      .withColumn("pv", expr(bhPv))
      .withColumn("k", row_number()
        .over(Window.orderBy(col("pv").asc, col("user_id").asc)).cast("long"))
      .withColumn("fk",
        expr("CASE WHEN pv * CAST(m AS DOUBLE) <= CAST(k AS DOUBLE) * 0.10 THEN k ELSE CAST(0 AS BIGINT) END"))
      .withColumn("kstar", max("fk").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("user_id"), col("n"), col("c"),
        round(expr(bhZ), 6).as("z"),
        col("pv").as("p_val"), col("k"),
        when(col("k") <= col("kstar"), 1L).otherwise(0L).as("rejected"))
      .orderBy("k")
  }

  val specs: Seq[QuerySpec] = Seq(

    // q331 — INTER-RATER AGREEMENT OF THE QUALITY GATES: treat three
    // deterministic per-doc quality raters (length gate n>=30 tokens;
    // stopword-ratio gate >=5%; type-token-ratio gate >=0.5 — the
    // q39-family signal set) as annotators and compute each pair's
    // 2×2 contingency table plus Cohen's kappa. Kappa is what an
    // ensemble designer actually reads: two gates with high RAW
    // agreement but kappa ~ 0 agree only because both mostly say
    // "keep" — adding the second gate buys nothing. The whole query is
    // ONE map-side pass over documents (12 conditional counters in a
    // single aggregate — no self-join of a labels table), reshaped to
    // 3 rows with stack(); kappa's numerator and denominator are exact
    // integer expressions (n·(n11+n00) − E and n² − E with
    // E = (n11+n10)(n11+n01) + (n01+n00)(n10+n00)), so the only float
    // op is the final division. Scale: linear, no shuffle beyond a
    // 1-row aggregate.
    QuerySpec(
      "q331_rater_agreement",
      (s, d) => {
        val lab = t(s, d, "documents")
          .select(split(lower(col("text")), " ").as("tk"))
          .select(size(col("tk")).cast("long").as("n"),
            size(expr("filter(tk, x -> x = 'a' OR x = 'the')")).cast("long").as("sw"),
            size(array_distinct(col("tk"))).cast("long").as("dt"))
          .select(
            when(col("n") >= 30L, 1L).otherwise(0L).as("ra"),
            when(col("sw") * 20L >= col("n"), 1L).otherwise(0L).as("rb"),
            when(col("dt") * 2L >= col("n"), 1L).otherwise(0L).as("rc"))
        def cell(x: String, y: String, vx: Int, vy: Int) =
          sum(when(col(x) === vx.toLong && col(y) === vy.toLong, 1L).otherwise(0L))
        val g = lab.agg(
          count(lit(1)).as("nn"),
          cell("ra", "rb", 1, 1).as("ab11"), cell("ra", "rb", 1, 0).as("ab10"),
          cell("ra", "rb", 0, 1).as("ab01"), cell("ra", "rb", 0, 0).as("ab00"),
          cell("ra", "rc", 1, 1).as("ac11"), cell("ra", "rc", 1, 0).as("ac10"),
          cell("ra", "rc", 0, 1).as("ac01"), cell("ra", "rc", 0, 0).as("ac00"),
          cell("rb", "rc", 1, 1).as("bc11"), cell("rb", "rc", 1, 0).as("bc10"),
          cell("rb", "rc", 0, 1).as("bc01"), cell("rb", "rc", 0, 0).as("bc00"))
        g.selectExpr("nn",
            """stack(3,
               'len_stop', ab11, ab10, ab01, ab00,
               'len_ttr',  ac11, ac10, ac01, ac00,
               'stop_ttr', bc11, bc10, bc01, bc00) AS (pair, n11, n10, n01, n00)""")
          .select(col("pair"), col("n11"), col("n10"), col("n01"), col("n00"),
            expr("(n11 + n00) * 1000000 div nn").as("agree_micro"),
            round(expr(
              """CAST(nn * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                 / CAST(nn * nn - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)"""), 6)
              .as("kappa"))
          .orderBy("pair")
      },
      Some("""WITH tok AS (SELECT string_split(lower(text), ' ') AS tk FROM documents), f AS (SELECT len(tk) AS n, len([x for x in tk if x = 'a' OR x = 'the']) AS sw, len(list_distinct(tk)) AS dt FROM tok), l AS (SELECT CASE WHEN n >= 30 THEN 1 ELSE 0 END AS ra, CASE WHEN sw * 20 >= n THEN 1 ELSE 0 END AS rb, CASE WHEN dt * 2 >= n THEN 1 ELSE 0 END AS rc FROM f), g AS (SELECT count(*) AS nn, sum(ra * rb) AS ab11, sum(ra * (1 - rb)) AS ab10, sum((1 - ra) * rb) AS ab01, sum((1 - ra) * (1 - rb)) AS ab00, sum(ra * rc) AS ac11, sum(ra * (1 - rc)) AS ac10, sum((1 - ra) * rc) AS ac01, sum((1 - ra) * (1 - rc)) AS ac00, sum(rb * rc) AS bc11, sum(rb * (1 - rc)) AS bc10, sum((1 - rb) * rc) AS bc01, sum((1 - rb) * (1 - rc)) AS bc00 FROM l), p AS (SELECT 'len_stop' AS pair, nn, ab11 AS n11, ab10 AS n10, ab01 AS n01, ab00 AS n00 FROM g UNION ALL SELECT 'len_ttr', nn, ac11, ac10, ac01, ac00 FROM g UNION ALL SELECT 'stop_ttr', nn, bc11, bc10, bc01, bc00 FROM g) SELECT pair, CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00, CAST((n11 + n00) * 1000000 // nn AS BIGINT) AS agree_micro, round(CAST(nn * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE) / CAST(nn * nn - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE), 6) AS kappa FROM p ORDER BY pair"""),
      "M5/E4 ext: inter-rater agreement of the quality gates — pairwise 2×2 tables + Cohen's kappa in one map-side pass (ensemble-design input)"),

    // q332 — EMPIRICAL-BAYES RATE SHRINKAGE (beta-binomial, method of
    // moments): per-user click share = clicks / (views + clicks) rides
    // on ~26 exposures per user at sf0.01 — raw ratios of tiny counts
    // are rank noise. Fit a beta prior to the per-user rate
    // distribution by method of moments (prior strength
    // K = m(1−m)/Var(p) − 1, clamped to [1, 1e6]) and emit each user's
    // shrunken rate (c + mK)/(v + K) next to the raw one. The
    // denominator is the exposure count (views + clicks), so the rate
    // is a true proportion in [0, 1] and the beta prior is
    // well-defined. The per-user rates enter the moment sums on the
    // exact integer micro grid (p_micro = c·1e6 div v, so Σp and Σp²
    // are order-free integer sums); the prior scalars and the final
    // shrunken value are ONE shared expression text interpolated into
    // both engines. pulled_up is decided by the exact integer
    // cross-multiply c·Σv < v·Σc, not by comparing rounded doubles.
    // Scale: one keyed aggregation + a broadcast 1-row prior — the
    // grid never shuffles twice.
    QuerySpec(
      "q332_eb_ctr_shrinkage",
      (s, d) => {
        val per = Tables.events(s, d)
          .where(col("event_type").isin("view", "click"))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("v"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"))
          .where(col("v") >= 1L)
          .withColumn("p_micro", expr("c * 1000000 div v"))
        val pri = per.agg(count(lit(1)).as("k"), sum("v").as("sv"), sum("c").as("sc"),
          sum("p_micro").as("sp"), sum(expr("p_micro * p_micro")).as("sp2"))
        per.crossJoin(broadcast(pri))
          .select(col("user_id"), col("v"), col("c"),
            col("p_micro").as("ctr_micro"),
            expr(ebShrunk).as("shrunk_ctr"),
            expr(s"round($ebK, 4)").as("prior_strength"),
            expr("CAST(CASE WHEN c * sv < v * sc THEN 1 ELSE 0 END AS BIGINT)").as("pulled_up"))
          .orderBy("user_id")
      },
      Some(s"""WITH per AS (SELECT user_id, count(*) AS v, sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c FROM events WHERE event_type IN ('view', 'click') GROUP BY 1), pm AS (SELECT user_id, v, c, c * 1000000 // v AS p_micro FROM per WHERE v >= 1), pri AS (SELECT count(*) AS k, sum(v) AS sv, sum(c) AS sc, sum(p_micro) AS sp, sum(p_micro * p_micro) AS sp2 FROM pm) SELECT user_id, CAST(v AS BIGINT) AS v, CAST(c AS BIGINT) AS c, CAST(p_micro AS BIGINT) AS ctr_micro, $ebShrunk AS shrunk_ctr, round($ebK, 4) AS prior_strength, CAST(CASE WHEN c * sv < v * sc THEN 1 ELSE 0 END AS BIGINT) AS pulled_up FROM pm CROSS JOIN pri ORDER BY user_id"""),
      "A/M ext: empirical-Bayes rate shrinkage — beta-binomial method-of-moments prior fitted on the integer micro grid, per-user shrunken click-share rates"),

    // q333 — BENJAMINI–HOCHBERG FDR OVER THE SEGMENT ALARM SWEEP: test
    // every user segment's purchase rate against the pooled rate (the
    // q294 SRM shape, per-segment), then apply the BH step-up rule at
    // α = 0.1: rank p ascending, k* = max{k : p_k ≤ kα/m}, reject
    // ranks ≤ k*. This is the difference between "11 segments look
    // off" and "after multiplicity control, none do" — the discipline
    // a 10,000-segment production sweep cannot skip. p-values are
    // rounded to the 1e-6 grid BEFORE ranking (ties broken by
    // user_id), so the sort key is engine-identical; the rejection
    // threshold compares that rounded key. The organic segments are
    // homogeneous by construction (uniform event mix), so the fixture
    // plants three synthetic segments under negative ids (the q310
    // convention): a hot one (40/60 purchases) and a cold one (0/80)
    // that BH must reject, and a control at the pooled rate (10/50)
    // that it must not — both failure directions exercised, the
    // organic sweep fully retained. The two partition-by-nothing
    // windows run over the |segments|-row AGGREGATE (153 rows here;
    // bounded by the segment vocabulary, never by event volume —
    // PlanShapeSpec-allowlisted like q326's).
    QuerySpec(
      "q333_bh_fdr",
      (s, d) => {
        val organic = Tables.events(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
        val planted = {
          import s.implicits._
          Seq((-1001L, 60L, 40L), (-1002L, 80L, 0L), (-1003L, 50L, 10L))
            .toDF("user_id", "n", "c")
        }
        bhTail(organic.unionByName(planted))
      },
      Some(s"""WITH organic AS (SELECT user_id, count(*) AS n, sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c FROM events GROUP BY 1), per AS (SELECT * FROM organic UNION ALL SELECT * FROM (VALUES (-1001, 60, 40), (-1002, 80, 0), (-1003, 50, 10)) v(user_id, n, c)), tot AS (SELECT count(*) AS m, sum(n) AS tn, sum(c) AS tc FROM per), sc AS (SELECT user_id, n, c, m, tn, tc, $bhPv AS pv FROM per CROSS JOIN tot), rk AS (SELECT *, CAST(row_number() OVER (ORDER BY pv, user_id) AS BIGINT) AS k FROM sc), fl AS (SELECT *, CASE WHEN pv * CAST(m AS DOUBLE) <= CAST(k AS DOUBLE) * 0.10 THEN k ELSE 0 END AS fk FROM rk), ks AS (SELECT *, max(fk) OVER () AS kstar FROM fl) SELECT user_id, CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c, round($bhZ, 6) AS z, pv AS p_val, k, CAST(CASE WHEN k <= kstar THEN 1 ELSE 0 END AS BIGINT) AS rejected FROM ks ORDER BY k"""),
      "A/M5 ext: Benjamini-Hochberg FDR over the per-segment rate sweep — step-up rejection at alpha=0.1 on the rounded p grid (multiplicity control)"),

    // q334 — DAY-OF-WEEK SEASONAL PROFILE + DESEASONALIZED ANOMALIES:
    // the calendar decomposition the trend monitors (Holt q315, CUSUM
    // q316) assume away. Day key = epoch-seconds div 86400 (the q317
    // integer-time convention), dow = (day+4) mod 7 — pure integer
    // arithmetic, no engine dayofweek() convention mismatch. Per dow:
    // seasonal index = dow mean / overall mean on the exact bp grid
    // (sc·ndt·10000 div (nd·sct) — all-integer cross-multiply); per
    // day: ratio to its OWN dow mean, flagged at ±15%. A Monday that
    // is 20% below a typical Monday alarms even though Mondays are the
    // weekly trough. The organic corpus is Poisson-flat (max natural
    // deviation shrinks with SF: 8.5% at sf0.01, 4.6% at sf0.1), so a
    // PARTIAL OUTAGE is planted (the q318 outage convention, but
    // partial — the day still reports, 40% low): day 19740 sheds every
    // event_id ≡ 0,1 (mod 5), and the detector must flag exactly that
    // deseasonalized crater while the raw daily count alone would
    // still sit inside the weekly swing of a busy dow. Scale: one
    // map-side daily aggregation; the dow profile and the global total
    // are broadcast 7-row/1-row joins — fact rows shuffle exactly once.
    QuerySpec(
      "q334_dow_seasonality",
      (s, d) => {
        val days = Tables.events(s, d)
          .select(expr("unix_timestamp(ts) div 86400").as("dk"), col("event_id"))
          .where(!(col("dk") === 19740L && col("event_id") % 5L < 2L))
          .groupBy("dk").agg(count(lit(1)).as("cnt"))
          .withColumn("dow", (col("dk") + 4L) % 7L)
        val prof = days.groupBy("dow").agg(count(lit(1)).as("nd"), sum("cnt").as("sc"))
        val tot = days.agg(count(lit(1)).as("ndt"), sum("cnt").as("sct"))
        days.join(broadcast(prof), "dow").crossJoin(broadcast(tot))
          .select(col("dk"), col("dow"), col("cnt"),
            expr("sc * ndt * 10000 div (nd * sct)").as("season_bp"),
            expr("cnt * nd * 10000 div sc").as("des_bp"))
          .withColumn("anomaly",
            when(abs(col("des_bp") - 10000L) >= 1500L, 1L).otherwise(0L))
          .orderBy("dk")
      },
      Some("""WITH ev AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS dk, event_id FROM events), days AS (SELECT dk, count(*) AS cnt FROM ev WHERE NOT (dk = 19740 AND event_id % 5 < 2) GROUP BY 1), dd AS (SELECT dk, cnt, (dk + 4) % 7 AS dow FROM days), prof AS (SELECT dow, count(*) AS nd, sum(cnt) AS sc FROM dd GROUP BY 1), tot AS (SELECT count(*) AS ndt, sum(cnt) AS sct FROM dd) SELECT dk, dow, CAST(cnt AS BIGINT) AS cnt, CAST(sc * ndt * 10000 // (nd * sct) AS BIGINT) AS season_bp, CAST(cnt * nd * 10000 // sc AS BIGINT) AS des_bp, CAST(CASE WHEN abs(cnt * nd * 10000 // sc - 10000) >= 1500 THEN 1 ELSE 0 END AS BIGINT) AS anomaly FROM dd JOIN prof USING (dow) CROSS JOIN tot ORDER BY dk"""),
      "§2.5/§2.12 ext: day-of-week seasonal profile + per-day deseasonalized anomaly flags — all-integer bp grids, one fact-table pass"),

    // q335 — MARGIN-BASED BITEXT MINING (CCMatrix/LASER ratio margin):
    // mine cross-lingual parallel pairs between a bounded non-English
    // query batch and the English corpus side. score(x,y) =
    // cos(x,y) / ((meanNN4(x→en) + meanNN4(y→batch)) / 2) — the margin
    // denominator demotes "hub" vectors that are everyone's neighbor,
    // the known failure of raw-cosine mining. The corpus has no real
    // translations, so the fixture plants them (the q310 mirror
    // convention): every 29th English vector re-enters as a synthetic
    // 'xx'-language twin under a negative id, deterministically
    // perturbed per-dimension (±3% scale wobble, round-tripped through
    // FLOAT so both engines hold bit-identical vectors) — each must
    // come back as its own base's mutual top-1 with the batch's top
    // margin scores (R36InvariantSpec pins recovery). NN4 means are
    // running-frame window sums over rank ≤ 4 (sequential fold in both
    // engines, the q315 order-pinning convention). Scale: |batch| ×
    // |en| with the batch broadcast — the q37 delta-budget, never
    // corpus×corpus; rank windows partition on qid/cid.
    QuerySpec(
      "q335_bitext_margin",
      (s, d) => {
        val emb = t(s, d, "embeddings")
          .join(t(s, d, "documents").select(col("doc_id"), col("lang")),
            col("vec_id") === col("doc_id"))
          .select(col("vec_id"), col("embedding"), col("lang"))
        val en = emb.where(col("lang") === "en")
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        val planted = emb.where(col("lang") === "en" && col("vec_id") % 29 === 0)
          .select((-col("vec_id") - 9000000L).as("qid"),
            expr("""transform(embedding, (x, i) ->
                    CAST(CAST(x AS DOUBLE) * (1.0 + CAST(((i + 1) % 7) - 3 AS DOUBLE) / 100.0) AS FLOAT))""")
              .as("qe"))
        val natural = emb.where(col("lang") =!= "en" && col("vec_id") < 60)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val q = planted.unionByName(natural)
        val p = broadcast(q).crossJoin(en)
          .select(col("qid"), col("cid"), round(cosineSim(col("qe"), col("ce")), 6).as("cs"))
        val wf = Window.partitionBy("qid").orderBy(col("cs").desc, col("cid").asc)
        val wb = Window.partitionBy("cid").orderBy(col("cs").desc, col("qid").asc)
        val r = p.withColumn("rnf", row_number().over(wf).cast("long"))
          .withColumn("rnb", row_number().over(wb).cast("long"))
        val dx = r.where(col("rnf") <= 4)
          .withColumn("s4", sum("cs").over(Window.partitionBy("qid").orderBy("rnf")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .where(col("rnf") === 4).select(col("qid"), col("s4").as("s4x"))
        val dy = r.where(col("rnb") <= 4)
          .withColumn("s4", sum("cs").over(Window.partitionBy("cid").orderBy("rnb")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .where(col("rnb") === 4).select(col("cid"), col("s4").as("s4y"))
        r.where(col("rnf") === 1)
          .join(dx, "qid").join(dy, "cid")
          .select(col("qid"), col("cid"), col("cs").as("cos_top"),
            round(expr("cs * 8.0 / (s4x + s4y)"), 6).as("margin"),
            when(col("rnb") === 1, 1L).otherwise(0L).as("mutual"),
            when(col("qid") < 0, 1L).otherwise(0L).as("is_planted"),
            when(col("qid") < 0 && col("cid") === -col("qid") - 9000000L, 1L)
              .otherwise(0L).as("is_hit"))
          .orderBy("qid")
      },
      Some("""WITH emb AS (SELECT vec_id, embedding, lang FROM embeddings JOIN documents ON doc_id = vec_id), en AS (SELECT vec_id AS cid, embedding AS ce FROM emb WHERE lang = 'en'), pl AS (SELECT -vec_id - 9000000 AS qid, [CAST(CAST(embedding[i] AS DOUBLE) * (1.0 + CAST((i % 7) - 3 AS DOUBLE) / 100.0) AS FLOAT) for i in generate_series(1, len(embedding))] AS qe FROM emb WHERE lang = 'en' AND vec_id % 29 = 0), nat AS (SELECT vec_id AS qid, embedding AS qe FROM emb WHERE lang <> 'en' AND vec_id < 60), q AS (SELECT * FROM pl UNION ALL SELECT * FROM nat), p AS (SELECT q.qid, en.cid, round(list_sum([CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) for i in generate_series(1, len(qe))]) / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in qe])) * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in ce]))), 6) AS cs FROM q CROSS JOIN en), r AS (SELECT qid, cid, cs, CAST(row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS BIGINT) AS rnf, CAST(row_number() OVER (PARTITION BY cid ORDER BY cs DESC, qid) AS BIGINT) AS rnb FROM p), dx AS (SELECT qid, s4 AS s4x FROM (SELECT qid, rnf, sum(cs) OVER (PARTITION BY qid ORDER BY rnf ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s4 FROM r WHERE rnf <= 4) z WHERE rnf = 4), dy AS (SELECT cid, s4 AS s4y FROM (SELECT cid, rnb, sum(cs) OVER (PARTITION BY cid ORDER BY rnb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s4 FROM r WHERE rnb <= 4) z WHERE rnb = 4) SELECT r.qid, r.cid, r.cs AS cos_top, round(r.cs * 8.0 / (dx.s4x + dy.s4y), 6) AS margin, CAST(CASE WHEN r.rnb = 1 THEN 1 ELSE 0 END AS BIGINT) AS mutual, CAST(CASE WHEN r.qid < 0 THEN 1 ELSE 0 END AS BIGINT) AS is_planted, CAST(CASE WHEN r.qid < 0 AND r.cid = -r.qid - 9000000 THEN 1 ELSE 0 END AS BIGINT) AS is_hit FROM r JOIN dx ON dx.qid = r.qid JOIN dy ON dy.cid = r.cid WHERE r.rnf = 1 ORDER BY r.qid"""),
      "E3/E4 ext: margin-based bitext mining — ratio-margin (NN4-mean denominators) cross-lingual top-1 pairs with mutual-match flags, planted-twin-verified"),

    // q336 — TOKEN-MASS CONCENTRATION (Gini + top-decile share) per
    // source and per language: how unevenly the corpus's token mass is
    // spread over documents — the mixture-weighting sanity check (a
    // source whose Gini is 0.8 is a few giant docs wearing a source
    // label, and its q181-style token budget means something different
    // from a flat source's). Gini comes from the sorted cumulative
    // formula G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n with BOTH terms on the
    // exact integer micro grid; the top-decile membership test uses
    // the rank identity i + j = n + 1 (asc rank i, desc rank j), so
    // j ≤ ceil(n/10) becomes the PER-ROW integer predicate
    // j ≤ (i+j+8) div 10 and the whole statistic is one window pass +
    // one aggregation — no second join to carry n. Scale: windows
    // partition on (dim, key) — per-source/per-lang sorts, never a
    // global one.
    QuerySpec(
      "q336_token_gini",
      (s, d) => {
        val docs = t(s, d, "documents")
        def leg(dim: String, key: org.apache.spark.sql.Column) =
          docs.select(col("doc_id"), lit(dim).as("dim"), key.as("key"),
            size(split(lower(col("text")), " ")).cast("long").as("x"))
        val base = leg("lang", col("lang")).unionByName(leg("source", col("source")))
        val wa = Window.partitionBy("dim", "key").orderBy(col("x").asc, col("doc_id").asc)
        val wd = Window.partitionBy("dim", "key").orderBy(col("x").desc, col("doc_id").desc)
        base
          .withColumn("i", row_number().over(wa).cast("long"))
          .withColumn("j", row_number().over(wd).cast("long"))
          .groupBy("dim", "key")
          .agg(count(lit(1)).as("n_docs"), sum("x").as("total_tokens"),
            sum(expr("i * x")).as("s2"),
            sum(expr("CASE WHEN j <= (i + j + 8) div 10 THEN x ELSE CAST(0 AS BIGINT) END"))
              .as("top10_mass"))
          .select(col("dim"), col("key"), col("n_docs"), col("total_tokens"),
            expr("2 * s2 * 1000000 div (n_docs * total_tokens) - (n_docs + 1) * 1000000 div n_docs")
              .as("gini_micro"),
            expr("top10_mass * 10000 div total_tokens").as("top10_bp"))
          .orderBy("dim", "key")
      },
      Some("""WITH base AS (SELECT doc_id, 'lang' AS dim, lang AS key, len(string_split(lower(text), ' ')) AS x FROM documents UNION ALL SELECT doc_id, 'source', source, len(string_split(lower(text), ' ')) FROM documents), rk AS (SELECT dim, key, x, CAST(row_number() OVER (PARTITION BY dim, key ORDER BY x, doc_id) AS BIGINT) AS i, CAST(row_number() OVER (PARTITION BY dim, key ORDER BY x DESC, doc_id DESC) AS BIGINT) AS j FROM base), g AS (SELECT dim, key, count(*) AS n_docs, sum(x) AS total_tokens, sum(i * x) AS s2, sum(CASE WHEN j <= (i + j + 8) // 10 THEN x ELSE 0 END) AS top10_mass FROM rk GROUP BY 1, 2) SELECT dim, key, CAST(n_docs AS BIGINT) AS n_docs, CAST(total_tokens AS BIGINT) AS total_tokens, CAST(2 * s2 * 1000000 // (n_docs * total_tokens) - (n_docs + 1) * 1000000 // n_docs AS BIGINT) AS gini_micro, CAST(top10_mass * 10000 // total_tokens AS BIGINT) AS top10_bp FROM g ORDER BY dim, key"""),
      "E4/A ext: token-mass concentration — per-source/per-lang Gini + top-decile share on exact integer grids (mixture-weight sanity table)"))
}

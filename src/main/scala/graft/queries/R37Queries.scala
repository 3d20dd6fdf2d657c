package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables
import graft.ops.HashOps.{md5Bucket, md5BucketSql}

/** Round-8 fifth widening — the experimentation-analytics completions
  * next to q294 (A/B + SRM), q333 (BH-FDR) and the robust-trend
  * completions next to q315/q316, plus the vocabulary-pricing table the
  * tokenizer loop (q292/q319) still lacked:
  *
  *  - q337 CUPED variance reduction: pre-period covariate adjustment,
  *    the single highest-leverage trick in production experimentation;
  *  - q338 Theil–Sen robust trend vs OLS: median-of-pairwise-slopes on
  *    the bounded per-type daily table;
  *  - q339 A/A calibration: 50 seeded pseudo-experiments over the SAME
  *    corpus — the empirical false-positive rate of the z-test the
  *    platform ships (the table that catches a broken randomizer or a
  *    fat-tailed metric before any real A/B runs);
  *  - q340 vocab-size coverage pricing: per-language corpus coverage at
  *    top-K vocabulary cutoffs (the OOV-rate curve a tokenizer-budget
  *    decision reads).
  *
  * Same determinism regime as R36: exact integer aggregates everywhere,
  * doubles only as single shared-text expressions over those integers,
  * portable md5 bucket hashing (the q311 convention) for the A/A arms.
  */
object R37Queries {

  /** q337 shared expressions (one text, both engines). Inputs are exact
    * integer sums: global (n, sx, sy, sxy, sx2, sy2), per-arm
    * (na, sxa, sya). theta = Cov(x,y)/Var(x); rho² is the variance
    * fraction CUPED removes.
    */
  private val cupedTheta =
    "(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sx2 - sx * sx AS DOUBLE))"
  private val cupedMx = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
  private val cupedRaw = "(CAST(sya AS DOUBLE) / CAST(na AS DOUBLE))"
  private val cupedAdj =
    s"round($cupedRaw - $cupedTheta * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) - $cupedMx), 6)"
  private val cupedVarRed =
    "round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) / (CAST(n * sx2 - sx * sx AS DOUBLE) * CAST(n * sy2 - sy * sy AS DOUBLE)), 6)"

  /** q339 shared z expression over the per-replica 2×2 integer counts,
    * with degenerate-cell guards (an empty arm or an all/none-purchase
    * replica returns z = 0 instead of a NaN/∞ that the engines would
    * disagree on).
    */
  private val aaP = "(CAST(c1 + c0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))"
  private val aaZ =
    s"(CASE WHEN n1 >= 1 AND n0 >= 1 AND c1 + c0 >= 1 AND c1 + c0 < n1 + n0 THEN (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / sqrt($aaP * (1.0 - $aaP) * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE))) ELSE 0.0 END)"

  val specs: Seq[QuerySpec] = Seq(

    // q337 — CUPED VARIANCE REDUCTION: split the 30-day window in half,
    // use each user's PRE-period click count as the covariate for their
    // POST-period click count, arm = user_id % 2 (the q16 modulo-split
    // convention). theta = Cov(x,y)/Var(x) is fitted POOLED (the
    // standard CUPED prescription — fitting per-arm biases the
    // estimate), and every reported arm mean comes out twice: raw and
    // covariate-adjusted, next to the rho² variance fraction the
    // adjustment removes (the number that decides whether CUPED halves
    // your experiment duration or does nothing). The organic users are
    // rate-homogeneous by construction (independent Poisson halves,
    // theta ≈ 0 — CUPED honestly reports "nothing to remove"), so a
    // 20-user POWER-USER cohort is planted (the q310 convention) with
    // perfectly covarying pre/post counts x = y = 5u — that makes
    // theta and rho² non-degenerate and the adjustment visibly move
    // the arm means. Planted ids sit ABOVE the organic range
    // (9000000+u), not below zero: the modulo arm split must stay
    // portable, and the two engines disagree on the sign of % for
    // negative operands. EVERY moment is an exact integer sum (counts
    // and products of counts); the adjusted means are algebra over
    // those sums — per-user adjusted values are never materialized, so
    // no order-dependent double accumulation exists anywhere. Scale:
    // one keyed pass over events, one 2-row arm aggregate, one
    // broadcast 1-row moment table.
    QuerySpec(
      "q337_cuped",
      (s, d) => {
        val organic = Tables.events(s, d)
          .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("dk"),
            col("event_type"))
          .groupBy("user_id")
          .agg(
            sum(when(col("event_type") === "click" && col("dk") < 19738L, 1L)
              .otherwise(0L)).as("x"),
            sum(when(col("event_type") === "click" && col("dk") >= 19738L, 1L)
              .otherwise(0L)).as("y"))
        val planted = s.range(1, 21).select(
          (col("id") + 9000000L).as("user_id"),
          (col("id") * 5L).as("x"), (col("id") * 5L).as("y"))
        val perUser = organic.unionByName(planted)
          .withColumn("arm", pmod(col("user_id"), lit(2L)))
        val glob = perUser.agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum("y").as("sy"), sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sx2"), sum(expr("y * y")).as("sy2"))
        perUser.groupBy("arm")
          .agg(count(lit(1)).as("na"), sum("x").as("sxa"), sum("y").as("sya"))
          .crossJoin(broadcast(glob))
          .select(col("arm"), col("na").as("n_users"),
            col("sxa").as("pre_clicks"), col("sya").as("post_clicks"),
            expr(s"round($cupedRaw, 6)").as("raw_mean"),
            expr(cupedAdj).as("adj_mean"),
            expr(s"round($cupedTheta, 6)").as("theta"),
            expr(cupedVarRed).as("var_reduction"))
          .orderBy("arm")
      },
      Some(s"""WITH pu AS (SELECT user_id, sum(CASE WHEN event_type = 'click' AND CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 < 19738 THEN 1 ELSE 0 END) AS x, sum(CASE WHEN event_type = 'click' AND CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 >= 19738 THEN 1 ELSE 0 END) AS y FROM events GROUP BY 1), pp AS (SELECT * FROM pu UNION ALL SELECT 9000000 + u, 5 * u, 5 * u FROM (SELECT unnest(generate_series(1, 20)) AS u) g), pa AS (SELECT user_id % 2 AS arm, x, y FROM pp), gm AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2 FROM pa), arms AS (SELECT arm, count(*) AS na, sum(x) AS sxa, sum(y) AS sya FROM pa GROUP BY 1) SELECT CAST(arm AS BIGINT) AS arm, CAST(na AS BIGINT) AS n_users, CAST(sxa AS BIGINT) AS pre_clicks, CAST(sya AS BIGINT) AS post_clicks, round($cupedRaw, 6) AS raw_mean, $cupedAdj AS adj_mean, round($cupedTheta, 6) AS theta, $cupedVarRed AS var_reduction FROM arms CROSS JOIN gm ORDER BY arm"""),
      "A/M ext: CUPED variance reduction — pooled pre-period covariate adjustment of per-arm means, rho^2 removed-variance readout, all moments exact integer sums"),

    // q338 — THEIL–SEN ROBUST TREND vs OLS: per event type, the median
    // of all pairwise daily-count slopes next to the least-squares
    // slope. One outlier day (an outage, a bot burst) drags OLS but
    // moves Theil–Sen by at most one rank — shipping both columns is
    // the robustness diagnostic. The pair generation is bounded by the
    // CALENDAR, not the data: C(|days|, 2) ≈ 435 pairs per type a
    // month, forever, regardless of fact volume — the same argument as
    // q270's per-day windows. The median picks 1–2 ranked slopes via a
    // conditional sum whose other terms are exact 0.0 (x + 0 = x in
    // IEEE, and the two-element case is commutative, so the aggregate
    // is order-safe); each slope itself is a single division of exact
    // integer deltas. OLS comes from five integer sums.
    QuerySpec(
      "q338_theilsen_trend",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), expr("unix_timestamp(ts) div 86400").as("dk"))
          .agg(count(lit(1)).as("cnt"))
        val pairs = daily.as("a").join(daily.as("b"),
            col("a.event_type") === col("b.event_type") && col("a.dk") < col("b.dk"))
          .select(col("a.event_type").as("event_type"),
            col("a.dk").as("d1"), col("b.dk").as("d2"),
            ((col("b.cnt") - col("a.cnt")).cast("double") /
              (col("b.dk") - col("a.dk")).cast("double")).as("slope"))
        val ranked = pairs
          .withColumn("rs", row_number().over(Window.partitionBy("event_type")
            .orderBy(col("slope").asc, col("d1").asc, col("d2").asc)).cast("long"))
          .withColumn("np", count(lit(1))
            .over(Window.partitionBy("event_type")).cast("long"))
        val med = ranked.groupBy("event_type").agg(
          max("np").as("n_pairs"),
          sum(expr(
            """CASE WHEN np % 2 = 1 AND rs = (np + 1) div 2 THEN slope
                    WHEN np % 2 = 0 AND (rs = np div 2 OR rs = np div 2 + 1) THEN slope / 2.0
                    ELSE 0.0 END""")).as("ts_raw"))
        val ols = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"),
          sum("dk").as("sd"), sum("cnt").as("sc"),
          sum(expr("dk * cnt")).as("sdc"), sum(expr("dk * dk")).as("sd2"))
        med.join(ols, "event_type")
          .select(col("event_type"), col("n_days"), col("n_pairs"),
            round(col("ts_raw"), 6).as("ts_slope"),
            round(expr(
              "CAST(n_days * sdc - sd * sc AS DOUBLE) / CAST(n_days * sd2 - sd * sd AS DOUBLE)"), 6)
              .as("ols_slope"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS dk, count(*) AS cnt FROM events GROUP BY 1, 2), pairs AS (SELECT a.event_type, a.dk AS d1, b.dk AS d2, CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.dk - a.dk AS DOUBLE) AS slope FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.dk < b.dk), ranked AS (SELECT event_type, slope, CAST(row_number() OVER (PARTITION BY event_type ORDER BY slope, d1, d2) AS BIGINT) AS rs, CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np FROM pairs), med AS (SELECT event_type, max(np) AS n_pairs, sum(CASE WHEN np % 2 = 1 AND rs = (np + 1) // 2 THEN slope WHEN np % 2 = 0 AND (rs = np // 2 OR rs = np // 2 + 1) THEN slope / 2.0 ELSE 0.0 END) AS ts_raw FROM ranked GROUP BY 1), ols AS (SELECT event_type, count(*) AS n_days, sum(dk) AS sd, sum(cnt) AS sc, sum(dk * cnt) AS sdc, sum(dk * dk) AS sd2 FROM daily GROUP BY 1) SELECT med.event_type, CAST(n_days AS BIGINT) AS n_days, CAST(n_pairs AS BIGINT) AS n_pairs, round(ts_raw, 6) AS ts_slope, round(CAST(n_days * sdc - sd * sc AS DOUBLE) / CAST(n_days * sd2 - sd * sd AS DOUBLE), 6) AS ols_slope FROM med JOIN ols ON ols.event_type = med.event_type ORDER BY med.event_type"""),
      "§2.5 ext: Theil-Sen robust trend vs OLS per event type — calendar-bounded median-of-pairwise-slopes next to the five-integer-sum least-squares line"),

    // q339 — A/A CALIBRATION SWEEP: run the SAME two-proportion z-test
    // the platform would ship, 50 times, on seeded pseudo-experiments
    // where the null is true BY CONSTRUCTION (both arms draw from the
    // same corpus via the portable md5 user hash, the q311 convention).
    // The empirical share of |z| ≥ 1.96 replicas IS the test's real
    // false-positive rate on this metric — the calibration any
    // experimentation platform runs before trusting its dashboard
    // (broken randomizers and fat-tailed metrics show up here first;
    // R37InvariantSpec bounds the rate). The event pass happens ONCE
    // (per-user aggregate); the 50× replication fans out over the
    // per-USER table, so the hash work is |users|×50, never |events|×50.
    // Significance is decided on the ROUNDED z so both engines compare
    // identical values.
    QuerySpec(
      "q339_aa_calibration",
      (s, d) => {
        val perUser = Tables.events(s, d).groupBy("user_id")
          .agg(count(lit(1)).as("ne"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("npu"))
        val reps = s.range(50).select(col("id").as("rep"))
        val wide = perUser.crossJoin(broadcast(reps))
          .withColumn("arm", md5Bucket(
            concat(lit("aa:"), col("rep").cast("string"), lit(":"),
              col("user_id").cast("string")), 2))
          .groupBy("rep")
          .agg(
            sum(when(col("arm") === 1L, col("ne")).otherwise(0L)).as("n1"),
            sum(when(col("arm") === 1L, col("npu")).otherwise(0L)).as("c1"),
            sum(when(col("arm") === 0L, col("ne")).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 0L, col("npu")).otherwise(0L)).as("c0"))
        wide
          .withColumn("z", expr(s"round($aaZ, 6)"))
          .select(col("rep"), col("n1"), col("c1"), col("n0"), col("c0"), col("z"),
            when(abs(col("z")) >= 1.959964, 1L).otherwise(0L).as("is_sig"))
          .orderBy("rep")
      },
      Some(s"""WITH pu AS (SELECT user_id, count(*) AS ne, sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS npu FROM events GROUP BY 1), reps AS (SELECT unnest(generate_series(0, 49)) AS rep), wide AS (SELECT rep, sum(CASE WHEN arm = 1 THEN ne ELSE 0 END) AS n1, sum(CASE WHEN arm = 1 THEN npu ELSE 0 END) AS c1, sum(CASE WHEN arm = 0 THEN ne ELSE 0 END) AS n0, sum(CASE WHEN arm = 0 THEN npu ELSE 0 END) AS c0 FROM (SELECT rep, ${md5BucketSql("'aa:' || CAST(rep AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)", 2)} AS arm, ne, npu FROM pu CROSS JOIN reps) z GROUP BY 1), sc AS (SELECT rep, n1, c1, n0, c0, round($aaZ, 6) AS z FROM wide) SELECT CAST(rep AS BIGINT) AS rep, CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1, CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0, z, CAST(CASE WHEN abs(z) >= 1.959964 THEN 1 ELSE 0 END AS BIGINT) AS is_sig FROM sc ORDER BY rep"""),
      "A/M5 ext: A/A calibration sweep — 50 seeded null pseudo-experiments via the portable md5 user hash; empirical false-positive rate of the shipped z-test"),

    // q340 — VOCAB-SIZE COVERAGE PRICING: per language, what share of
    // running tokens the top-K global vocabulary covers, for
    // K ∈ {4, 8, 16, 31} — the OOV-rate curve that prices a tokenizer
    // vocabulary budget (the q292/q319 loop learns merges; this table
    // says what a vocabulary SIZE buys, and how unevenly across
    // languages — the under-served-language check). The corpus
    // contributes ONE (lang, word) aggregation; the global rank window
    // runs over the |vocab|-row aggregate (the q206 heavy-hitters
    // class, PlanShapeSpec-allowlisted); the K legs are a broadcast
    // 4-row range join against vocab ranks. K = |vocab| = 31 is the
    // built-in self-check row (coverage exactly 10000 bp). Scale:
    // token rows never enter a window or a fan-out — only the
    // vocab-sized aggregate does.
    QuerySpec(
      "q340_vocab_coverage",
      (s, d) => {
        val wl = t(s, d, "documents")
          .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        val vocab = wl.groupBy("w").agg(sum("c").as("gc"))
          .withColumn("r", row_number()
            .over(Window.orderBy(col("gc").desc, col("w").asc)).cast("long"))
        val totals = wl.groupBy("lang").agg(sum("c").as("total_tokens"))
        val grid = s.range(0, 1, 1, 1).select(explode(array(
          Seq(4L, 8L, 16L, 31L).map(lit): _*)).as("k"))
        wl.join(broadcast(vocab.select("w", "r")), "w")
          .join(broadcast(grid), col("r") <= col("k"))
          .groupBy("lang", "k").agg(sum("c").as("covered"))
          .join(totals, "lang")
          .select(col("lang"), col("k"), col("covered"), col("total_tokens"),
            expr("covered * 10000 div total_tokens").as("coverage_bp"),
            expr("10000 - covered * 10000 div total_tokens").as("oov_bp"))
          .orderBy("lang", "k")
      },
      Some("""WITH wl AS (SELECT lang, w, count(*) AS c FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents) z GROUP BY 1, 2), vocab AS (SELECT w, CAST(row_number() OVER (ORDER BY sum(c) DESC, w) AS BIGINT) AS r FROM wl GROUP BY w), totals AS (SELECT lang, sum(c) AS total_tokens FROM wl GROUP BY 1), grid AS (SELECT unnest([4, 8, 16, 31]) AS k), cov AS (SELECT lang, k, sum(c) AS covered FROM wl JOIN vocab USING (w) JOIN grid ON vocab.r <= grid.k GROUP BY 1, 2) SELECT lang, CAST(k AS BIGINT) AS k, CAST(covered AS BIGINT) AS covered, CAST(total_tokens AS BIGINT) AS total_tokens, CAST(covered * 10000 // total_tokens AS BIGINT) AS coverage_bp, CAST(10000 - covered * 10000 // total_tokens AS BIGINT) AS oov_bp FROM cov JOIN totals USING (lang) ORDER BY lang, k"""),
      "E4/T ext: vocab-size coverage pricing — per-language corpus coverage and OOV rate at top-K vocabulary cutoffs, token rows aggregated once"))
}

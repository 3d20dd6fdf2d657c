package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5Bucket, md5BucketSql}

/** Round-11 second widening — the SKEW STACK, executed end to end.
  * q148/q347 diagnosed shuffle skew and priced one salt factor; this
  * family closes the loop the house way (measure → price → choose →
  * APPLY):
  *
  *  - q390 CHOOSES the salt factor from one nested-grid pass (every
  *    power-of-two factor's partition loads derived from a single
  *    64-bucket keyed grid — the q361/q362 fusion applied to salting),
  *    then APPLIES the chosen factor on the raw rows and certifies the
  *    grid's prediction exactly;
  *  - q391 builds the MERGEABLE HEAVY-HITTER summary (sharded
  *    SpaceSaving: per-shard exact top-k + the (k+1)-th count as the
  *    shard's error mass) and certifies the deterministic two-sided
  *    bound est ≤ f ≤ est + Σ_absent ε_s per candidate key;
  *  - q392 turns the summary SIZE into a frontier (the q386 pattern):
  *    every k from ONE ranked pass, the smallest k that is
  *    detection-complete (Σ ε_s(k) < τ·n — no τ-heavy key can hide)
  *    AND certifies every true heavy key from the summary alone;
  *  - q393 EXECUTES the decision the summary exists for: the hybrid
  *    skew join — summary-certified heavy keys take the broadcast
  *    map-side leg, the long tail takes the shuffle leg, and the union
  *    is certified equal to the plain join.
  *
  * The heavy-hitter corpus is PLANTED (q293 dead-fixture rule: events'
  * natural user_id mass is uniform, ~66 rows/user at every SF, and its
  * user population grows with SF): a 40-bit md5 of event_id folds to
  * 128 scale-stable pseudo-users, the low 63 collapse onto a geometric
  * ladder g0..g5 (g5 ≈ 25% of all rows) and the rest stay singleton
  * tail keys (~0.8% each) — a zipf-ish head+tail whose τ = 2% heavy
  * set is the same four keys {g2..g5} at every SF.
  */
object R54Queries {

  // ---- shared planted-zipf fixture (q391/q392/q393 + heavyHitterStream)

  /** (k, sh, pu) rows over events: planted zipf key, 8-way row shard
    * (event_id % 8 — the "executor" a combiner would run on), and the
    * pseudo-user for dim attributes.
    */
  private[graft] def hhKeyed(events: DataFrame): DataFrame =
    events.select(
        (md5Long(concat(lit("hh:"), col("event_id").cast("string")), 10) % 128).as("pu"),
        (col("event_id") % 8).as("sh"),
        col("event_id").as("eid"))
      .select(expr(
        "CASE WHEN pu < 63 THEN concat('g', CAST(CAST(floor(log2(pu + 1)) AS BIGINT) AS STRING)) " +
          "ELSE concat('u', CAST(pu AS STRING)) END").as("k"),
        col("sh"), col("pu"), col("eid"))

  /** One keyed pass + one bounded window: per-shard key counts ranked
    * (count desc, key asc — deterministic). Everything q391/q392 read —
    * any summary size's top-k, its ε, its estimates — derives from this
    * table, so the whole frontier costs ONE pass over the corpus.
    */
  private[graft] def hhRanked(keyed: DataFrame): DataFrame =
    keyed.groupBy("sh", "k").agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(
        Window.partitionBy("sh").orderBy(col("c").desc, col("k"))))

  private val hhKeyedSql: String =
    "SELECT CASE WHEN pu < 63 THEN 'g' || CAST(CAST(floor(log2(pu + 1)) AS BIGINT) AS VARCHAR) " +
      "ELSE 'u' || CAST(pu AS VARCHAR) END AS k, sh, pu FROM " +
      s"(SELECT ${md5BucketSql("'hh:' || CAST(event_id AS VARCHAR)", 128)} AS pu, " +
      "event_id % 8 AS sh FROM events) z"

  private val hhRankedSql: String =
    s"keyed AS ($hhKeyedSql), shard AS (SELECT sh, k, count(*) AS c FROM keyed GROUP BY 1, 2), " +
      "rk AS (SELECT sh, k, c, row_number() OVER (PARTITION BY sh ORDER BY c DESC, k) AS r FROM shard)"

  val specs: Seq[QuerySpec] = Seq(

    // q390 — SALT-FACTOR CHOOSER, EXECUTED: q347 showed the flag key at
    // ~10.7x uniform and priced exactly one salt (16). The decision is
    // WHICH factor, and the naive way prices each candidate with its
    // own corpus pass. One nested grid kills that: salt buckets at the
    // FINEST factor once per row (b64 = md5 % 64), and because every
    // candidate divides 64, b64 % s IS the s-way salt — every
    // candidate's 32-partition load table derives from the 192-row
    // (flag × b64) grid by arithmetic. Per factor: sub-key count,
    // partition loads under the portable md5 partitioner (through
    // q347's shared skewSummary fold, so "skew" cannot mean two
    // things), skew_bp, and the price of salting — the OTHER join side
    // must replicate ×s (repl_rows). meets_bal gates at 2x uniform;
    // the measured frontier is honest about the floor: at key
    // granularity the 3-flag mass imbalance never reaches uniform, and
    // only s=64 clears 2x (s=32 sits at ~2.6x) — chosen = the smallest
    // factor in the gate. The APPLY then recomputes the chosen
    // factor's loads from the RAW rows (composite string key, no grid)
    // and certifies parts/max/min equal the grid's prediction —
    // apply_ok guards the b64 % s fusion identity the whole frontier
    // stands on. Scale: one keyed grid pass + one apply pass; the
    // frontier itself is arithmetic on 192 rows × 7 factors.
    QuerySpec(
      "q390_salt_chooser",
      (s, d) => {
        import R39Queries.skewSummary
        val rows = t(s, d, "lineitem").select(col("l_returnflag").as("fl"),
          md5Bucket(concat(lit("salt:"), col("l_orderkey").cast("string")), 64).as("b64"))
        val grid = rows.groupBy("fl", "b64").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(false)
        val nFlags = grid.select(countDistinct("fl").as("n_flags"))
        val perS = Seq(1, 2, 4, 8, 16, 32, 64).map { sF =>
          val loads = grid
            .groupBy(md5Bucket(concat(col("fl"), lit(":"),
              (col("b64") % sF).cast("string")), 32).as("p"))
            .agg(sum("cnt").as("c"))
          val sub = grid.select(countDistinct(col("fl"),
            (col("b64") % sF)).as("n_subkeys"))
          skewSummary(loads).crossJoin(broadcast(sub)).crossJoin(broadcast(nFlags))
            .select(lit(sF.toLong).as("salt_s"), col("n_subkeys"),
              col("parts_used"), col("max_load"), col("min_load"), col("skew_bp"),
              expr(s"$sF * n_flags").as("repl_rows"),
              expr("CAST(CASE WHEN skew_bp <= 20000 THEN 1 ELSE 0 END AS BIGINT)")
                .as("meets_bal"))
        }.reduce(_ unionByName _)
        val ch = perS.where(col("meets_bal") === 1L)
          .agg(min("salt_s").as("chosen_s"))
        // the APPLY: chosen factor recomputed from raw rows, no grid.
        // (r14, measured and REJECTED: folding this leg from the grid by
        // Σ-additivity — the q399 argument — removed the second corpus
        // md5Bucket pass but measured FLAT-to-worse in two interleaved
        // QTime A/B rounds at sf0.1 (new 2.41/1.94 vs old 2.08/1.81
        // medians); the apply scan overlaps work the fold serializes,
        // and the recompute-from-raw is also what apply_ok certifies.)
        val applyLoads = rows.crossJoin(broadcast(ch))
          .groupBy(md5Bucket(concat(col("fl"), lit(":"),
            pmod(col("b64"), col("chosen_s")).cast("string")), 32).as("p"))
          .agg(count(lit(1)).as("c"))
        val app = skewSummary(applyLoads).crossJoin(broadcast(ch))
          .select(col("chosen_s"), col("parts_used").as("a_parts"),
            col("max_load").as("a_max"), col("min_load").as("a_min"))
        perS.join(broadcast(app), col("salt_s") === col("chosen_s"), "left")
          .select(col("salt_s"), col("n_subkeys"), col("parts_used"),
            col("max_load"), col("min_load"), col("skew_bp"), col("repl_rows"),
            col("meets_bal"),
            expr("CAST(CASE WHEN chosen_s IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"),
            coalesce(col("a_max"), lit(0L)).as("apply_max_load"),
            expr("CAST(CASE WHEN chosen_s IS NULL THEN 1 WHEN a_parts = parts_used AND a_max = max_load AND a_min = min_load THEN 1 ELSE 0 END AS BIGINT)")
              .as("apply_ok"))
          .orderBy("salt_s")
      },
      Some {
        val pExpr = md5BucketSql("fl || ':' || CAST(b64 % s AS VARCHAR)", 32)
        val aExpr = md5BucketSql(
          "fl || ':' || CAST(b64 % (SELECT chosen_s FROM ch) AS VARCHAR)", 32)
        s"""WITH rows_s AS (SELECT l_returnflag AS fl, ${md5BucketSql("'salt:' || CAST(l_orderkey AS VARCHAR)", 64)} AS b64 FROM lineitem), grid AS (SELECT fl, b64, count(*) AS cnt FROM rows_s GROUP BY 1, 2), nf AS (SELECT count(DISTINCT fl) AS n_flags FROM grid), fac AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64]) AS s), loads AS (SELECT s, $pExpr AS p, sum(cnt) AS c FROM grid CROSS JOIN fac GROUP BY 1, 2), summ AS (SELECT s, count(*) AS parts_used, max(c) AS max_load, min(c) AS min_load, max(c) * 32 * 10000 // sum(c) AS skew_bp FROM loads GROUP BY 1), sub AS (SELECT s, count(DISTINCT fl || ':' || CAST(b64 % s AS VARCHAR)) AS n_subkeys FROM grid CROSS JOIN fac GROUP BY 1), pers AS (SELECT su.s AS salt_s, sb.n_subkeys, su.parts_used, su.max_load, su.min_load, su.skew_bp, su.s * (SELECT n_flags FROM nf) AS repl_rows, CASE WHEN su.skew_bp <= 20000 THEN 1 ELSE 0 END AS meets_bal FROM summ su JOIN sub sb ON sb.s = su.s), ch AS (SELECT min(salt_s) AS chosen_s FROM pers WHERE meets_bal = 1), al AS (SELECT $aExpr AS p, count(*) AS c FROM rows_s GROUP BY 1), app AS (SELECT (SELECT chosen_s FROM ch) AS chosen_s, count(*) AS a_parts, max(c) AS a_max, min(c) AS a_min FROM al) SELECT CAST(p.salt_s AS BIGINT) AS salt_s, CAST(p.n_subkeys AS BIGINT) AS n_subkeys, CAST(p.parts_used AS BIGINT) AS parts_used, CAST(p.max_load AS BIGINT) AS max_load, CAST(p.min_load AS BIGINT) AS min_load, CAST(p.skew_bp AS BIGINT) AS skew_bp, CAST(p.repl_rows AS BIGINT) AS repl_rows, CAST(p.meets_bal AS BIGINT) AS meets_bal, CAST(CASE WHEN a.chosen_s IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS chosen, CAST(coalesce(a.a_max, 0) AS BIGINT) AS apply_max_load, CAST(CASE WHEN a.chosen_s IS NULL THEN 1 WHEN a.a_parts = p.parts_used AND a.a_max = p.max_load AND a.a_min = p.min_load THEN 1 ELSE 0 END AS BIGINT) AS apply_ok FROM pers p LEFT JOIN app a ON a.chosen_s = p.salt_s ORDER BY p.salt_s"""
      },
      "S/J ext: salt-factor chooser EXECUTED — every power-of-two factor's 32-partition loads derived from ONE 64-bucket nested grid (b64 % s fusion), gated at 2x uniform with the x s dim-replication price alongside; the chosen factor re-applied on raw rows and the grid's prediction certified exactly (apply_ok)"),

    // q391 — MERGEABLE HEAVY-HITTER SUMMARY (sharded SpaceSaving): the
    // statistic the salt chooser, the hybrid join and every "which keys
    // are hot" monitor read, built the way a 1000-executor combiner
    // actually builds it — per shard (executor) an EXACT top-k (k = 8)
    // plus ε_s = the (k+1)-th count, the shard's certified blind spot
    // (public SpaceSaving/Misra-Gries merge bound). The merged estimate
    // for a key is the sum of its counts over the shards that kept it —
    // a LOWER bound — and the two-sided guarantee is deterministic:
    // est ≤ f ≤ est + Σ_{shards that dropped it} ε_s. Every candidate
    // key is certified against the exact count (the grader pass, the
    // q385 convention): err = f − est nonneg and inside the bound
    // (bound_ok), certified_heavy readable from the summary ALONE
    // (est ≥ τ·n, τ = 2%), is_heavy the exact truth. The planted head
    // {g2..g5} is certified heavy from 64 summary rows at every SF; the
    // tail candidates show the bound genuinely binding (est ~ one
    // shard's count, err just under Σε). Scale: the summary is one
    // keyed pass + a size-8-per-shard window; state is 8 shards × 8
    // entries regardless of corpus size; only the grader touches the
    // corpus again.
    QuerySpec(
      "q391_heavy_hitters",
      (s, d) => {
        val keyed = hhKeyed(t(s, d, "events")).localCheckpoint(false)
        val rk = hhRanked(keyed).localCheckpoint(false)
        val topk = rk.where(col("r") <= 8)
        val eps = rk.select(col("sh")).distinct()
          .join(rk.where(col("r") === 9).select(col("sh"), col("c").as("e")),
            Seq("sh"), "left")
          .select(col("sh"), coalesce(col("e"), lit(0L)).as("eps"))
        val totEps = eps.agg(sum("eps").as("tot_eps"))
        val stateRows = topk.agg(count(lit(1)).as("state_rows"))
        val est = topk.join(eps, "sh")
          .groupBy("k").agg(sum("c").as("est"), sum("eps").as("present_eps"))
        val f = keyed.groupBy("k").agg(count(lit(1)).as("f"))
        val n = keyed.agg(count(lit(1)).as("n"))
        est.join(f, "k").crossJoin(broadcast(totEps))
          .crossJoin(broadcast(n)).crossJoin(broadcast(stateRows))
          .select(col("k"), col("est"), col("f"),
            expr("f - est").as("err"),
            expr("tot_eps - present_eps").as("bound"),
            expr("CAST(CASE WHEN f - est >= 0 AND f - est <= tot_eps - present_eps THEN 1 ELSE 0 END AS BIGINT)")
              .as("bound_ok"),
            expr("CAST(CASE WHEN est * 100 >= n * 2 THEN 1 ELSE 0 END AS BIGINT)")
              .as("certified_heavy"),
            expr("CAST(CASE WHEN f * 100 >= n * 2 THEN 1 ELSE 0 END AS BIGINT)")
              .as("is_heavy"),
            col("state_rows"))
          .orderBy("k")
      },
      Some(
        s"""WITH $hhRankedSql, topk AS (SELECT * FROM rk WHERE r <= 8), eps AS (SELECT s.sh, coalesce(e.c, 0) AS eps FROM (SELECT DISTINCT sh FROM rk) s LEFT JOIN (SELECT sh, c FROM rk WHERE r = 9) e ON e.sh = s.sh), te AS (SELECT sum(eps) AS tot_eps FROM eps), sr AS (SELECT count(*) AS state_rows FROM topk), est AS (SELECT t.k, sum(t.c) AS est, sum(ep.eps) AS present_eps FROM topk t JOIN eps ep ON ep.sh = t.sh GROUP BY 1), f AS (SELECT k, count(*) AS f FROM keyed GROUP BY 1), n AS (SELECT count(*) AS n FROM keyed) SELECT e.k, CAST(e.est AS BIGINT) AS est, CAST(f.f AS BIGINT) AS f, CAST(f.f - e.est AS BIGINT) AS err, CAST(tot_eps - e.present_eps AS BIGINT) AS bound, CAST(CASE WHEN f.f - e.est >= 0 AND f.f - e.est <= tot_eps - e.present_eps THEN 1 ELSE 0 END AS BIGINT) AS bound_ok, CAST(CASE WHEN e.est * 100 >= n.n * 2 THEN 1 ELSE 0 END AS BIGINT) AS certified_heavy, CAST(CASE WHEN f.f * 100 >= n.n * 2 THEN 1 ELSE 0 END AS BIGINT) AS is_heavy, CAST(state_rows AS BIGINT) AS state_rows FROM est e JOIN f ON f.k = e.k CROSS JOIN te CROSS JOIN n CROSS JOIN sr ORDER BY e.k"""),
      "A/S ext: mergeable heavy-hitter summary — per-shard exact top-8 + the (k+1)-th count as the shard's error mass (sharded SpaceSaving), merged estimates certified against exact counts under the deterministic two-sided bound est <= f <= est + sum of absent shards' eps; the planted 2% head certified from 64 summary rows"),

    // q392 — HEAVY-HITTER SUMMARY-SIZE FRONTIER: q391 fixed k = 8; the
    // ANALYZE-shaped question is the smallest summary that still
    // certifies the workload's heavy set (the q386 rate-frontier
    // pattern on the summary-size axis). ONE ranked pass serves every
    // candidate k ∈ {2,4,8,16}: the k-summary's entries are r ≤ k, its
    // per-shard blind spot is the count at r = k+1, its estimates are
    // conditional sums. Per k: state_rows, Σ ε_s(k), τ·n, and the two
    // halves of fitness — detection_complete (Σ ε < τ·n: the public
    // merge bound says NO key with f ≥ τ·n can be absent from every
    // shard's top-k... and stay hidden) and recovered_all (every truly
    // heavy key certified heavy from the summary alone). chosen = the
    // smallest fit k. The measured frontier MOVES with scale — k = 16
    // at sf0.001 but k = 4 from sf0.01 up — because what the summary
    // must resolve is the gap between the head and the (k+1)-th shard
    // count, the same rows-per-value lesson as q386's date column: a
    // summary size cannot be set once and forgotten as the corpus
    // grows. Scale: the corpus is touched once for the ranked pass and
    // once for the exact grader; the frontier is arithmetic on ≤ 8×17
    // ranked rows × 4 candidate sizes.
    QuerySpec(
      "q392_hh_k_frontier",
      (s, d) => {
        val keyed = hhKeyed(t(s, d, "events")).localCheckpoint(false)
        val rk = hhRanked(keyed).localCheckpoint(false)
        val f = keyed.groupBy("k").agg(count(lit(1)).as("f"))
        val n = keyed.agg(count(lit(1)).as("n"))
        val perK = Seq(2, 4, 8, 16).map { kk =>
          val eps = rk.select(col("sh")).distinct()
            .join(rk.where(col("r") === kk + 1).select(col("sh"), col("c").as("e")),
              Seq("sh"), "left")
            .agg(sum(coalesce(col("e"), lit(0L))).as("sum_eps"))
          val est = rk.where(col("r") <= kk).groupBy("k").agg(sum("c").as("est"))
          val cand = est.join(f, "k").crossJoin(broadcast(n))
            .agg(count(lit(1)).as("n_cand"),
              sum(expr("CASE WHEN est * 100 >= n * 2 THEN 1 ELSE 0 END")).as("n_cert"),
              sum(expr("CASE WHEN f * 100 >= n * 2 AND est * 100 >= n * 2 THEN 1 ELSE 0 END"))
                .as("n_heavy_cert"))
          val stateRows = rk.where(col("r") <= kk).agg(count(lit(1)).as("state_rows"))
          val nHeavy = f.crossJoin(broadcast(n))
            .agg(sum(expr("CASE WHEN f * 100 >= n * 2 THEN 1 ELSE 0 END")).as("n_heavy"))
          broadcast(eps).crossJoin(broadcast(cand)).crossJoin(broadcast(stateRows))
            .crossJoin(broadcast(nHeavy)).crossJoin(broadcast(n))
            .select(lit(kk.toLong).as("kk"), col("state_rows"), col("sum_eps"),
              expr("n * 2 div 100").as("tau_n"),
              expr("CAST(CASE WHEN sum_eps * 100 < n * 2 THEN 1 ELSE 0 END AS BIGINT)")
                .as("detection_complete"),
              col("n_cand"), col("n_cert"), col("n_heavy"), col("n_heavy_cert"),
              expr("CAST(CASE WHEN n_heavy_cert = n_heavy THEN 1 ELSE 0 END AS BIGINT)")
                .as("recovered_all"))
        }.reduce(_ unionByName _)
        perK.crossJoin(broadcast(perK
            .where(expr("detection_complete = 1 AND recovered_all = 1"))
            .agg(min("kk").as("best_k"))))
          .select(col("kk"), col("state_rows"), col("sum_eps"), col("tau_n"),
            col("detection_complete"), col("n_cand"), col("n_cert"),
            col("n_heavy"), col("n_heavy_cert"), col("recovered_all"),
            expr("CAST(CASE WHEN kk = best_k THEN 1 ELSE 0 END AS BIGINT)").as("chosen"))
          .orderBy("kk")
      },
      Some(
        s"""WITH $hhRankedSql, f AS (SELECT k, count(*) AS f FROM keyed GROUP BY 1), n AS (SELECT count(*) AS n FROM keyed), ks AS (SELECT unnest([2, 4, 8, 16]) AS kk), eps AS (SELECT ks.kk, sum(coalesce(e.c, 0)) AS sum_eps FROM ks CROSS JOIN (SELECT DISTINCT sh FROM rk) s LEFT JOIN rk e ON e.sh = s.sh AND e.r = ks.kk + 1 GROUP BY 1), est AS (SELECT ks.kk, rk.k, sum(rk.c) AS est FROM ks JOIN rk ON rk.r <= ks.kk GROUP BY 1, 2), cand AS (SELECT e.kk, count(*) AS n_cand, sum(CASE WHEN e.est * 100 >= n.n * 2 THEN 1 ELSE 0 END) AS n_cert, sum(CASE WHEN f.f * 100 >= n.n * 2 AND e.est * 100 >= n.n * 2 THEN 1 ELSE 0 END) AS n_heavy_cert FROM est e JOIN f ON f.k = e.k CROSS JOIN n GROUP BY 1), sr AS (SELECT ks.kk, count(*) AS state_rows FROM ks JOIN rk ON rk.r <= ks.kk GROUP BY 1), nh AS (SELECT sum(CASE WHEN f.f * 100 >= n.n * 2 THEN 1 ELSE 0 END) AS n_heavy FROM f CROSS JOIN n), perk AS (SELECT e.kk, sr.state_rows, e.sum_eps, n.n * 2 // 100 AS tau_n, CASE WHEN e.sum_eps * 100 < n.n * 2 THEN 1 ELSE 0 END AS detection_complete, c.n_cand, c.n_cert, (SELECT n_heavy FROM nh) AS n_heavy, c.n_heavy_cert, CASE WHEN c.n_heavy_cert = (SELECT n_heavy FROM nh) THEN 1 ELSE 0 END AS recovered_all FROM eps e JOIN cand c ON c.kk = e.kk JOIN sr ON sr.kk = e.kk CROSS JOIN n), best AS (SELECT min(kk) AS best_k FROM perk WHERE detection_complete = 1 AND recovered_all = 1) SELECT CAST(kk AS BIGINT) AS kk, CAST(state_rows AS BIGINT) AS state_rows, CAST(sum_eps AS BIGINT) AS sum_eps, CAST(tau_n AS BIGINT) AS tau_n, CAST(detection_complete AS BIGINT) AS detection_complete, CAST(n_cand AS BIGINT) AS n_cand, CAST(n_cert AS BIGINT) AS n_cert, CAST(n_heavy AS BIGINT) AS n_heavy, CAST(n_heavy_cert AS BIGINT) AS n_heavy_cert, CAST(recovered_all AS BIGINT) AS recovered_all, CAST(CASE WHEN kk = (SELECT best_k FROM best) THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM perk ORDER BY kk"""),
      "A/S ext: heavy-hitter summary-size frontier — every candidate k's blind spot, estimates and certification from ONE ranked pass (the q386 frontier pattern on the summary-size axis); smallest detection-complete k that certifies the whole heavy set flagged, and the fit size MOVES with scale (k=16 at sf0.001, k=4 above)"),

    // q393 — HYBRID SKEW JOIN, EXECUTED: the decision q391's summary
    // exists for. The certified-heavy keys (read from the SUMMARY, not
    // from an exact pass — in production the exact pass is the thing
    // being avoided) take the map-side leg: their ≤ handful of dim rows
    // broadcast, no shuffle, no hot partition. The tail takes the
    // ordinary shuffle join, now provably free of the hot keys that
    // made its max partition ~13x uniform. Certification is the q218
    // convention: the two legs' row counts and checksums must
    // reassemble the plain join EXACTLY (equal_plain on every row) —
    // a row lost to the split (key claimed by both legs, or neither)
    // breaks equality loudly. The mass readout is the point: the four
    // broadcast keys carry ~47% of all join work (share_bp), which is
    // exactly the mass a salted-or-not shuffle would have fought over.
    // Scale: heavy leg is a broadcast hash join (4-row build), light
    // leg shuffles only the tail, the plain recompute is the grader.
    QuerySpec(
      "q393_hybrid_skew_join",
      (s, d) => {
        val keyed = hhKeyed(t(s, d, "events")).localCheckpoint(false)
        val rk = hhRanked(keyed)
        val eps = rk.select(col("sh")).distinct()
          .join(rk.where(col("r") === 9).select(col("sh"), col("c").as("e")),
            Seq("sh"), "left")
          .select(col("sh"), coalesce(col("e"), lit(0L)).as("eps"))
        val n = keyed.agg(count(lit(1)).as("n"))
        // heavy set read from the 64-row summary alone (est >= tau n)
        val hot = rk.where(col("r") <= 8).groupBy("k").agg(sum("c").as("est"))
          .crossJoin(broadcast(n)).where(expr("est * 100 >= n * 2"))
          .select("k").localCheckpoint(false)
        val dim = keyed.groupBy("k").agg(min("pu").as("attr"))
        val dimHot = dim.join(broadcast(hot), "k")
        val heavy = keyed.join(broadcast(dimHot), "k")
          .agg(count(lit(1)).as("rows"), sum(expr("attr * (pu + 1)")).as("checksum"))
        val light = keyed.join(broadcast(hot), Seq("k"), "left_anti")
          .join(dim, "k")
          .agg(count(lit(1)).as("rows"), sum(expr("attr * (pu + 1)")).as("checksum"))
        val plain = keyed.join(dim, "k")
          .agg(count(lit(1)).as("rows"), sum(expr("attr * (pu + 1)")).as("checksum"))
        val one = heavy.select(col("rows").as("h_rows"), col("checksum").as("h_ck"))
          .crossJoin(broadcast(light.select(col("rows").as("l_rows"), col("checksum").as("l_ck"))))
          .crossJoin(broadcast(plain.select(col("rows").as("p_rows"), col("checksum").as("p_ck"))))
          .crossJoin(broadcast(hot.agg(count(lit(1)).as("n_hot"))))
        one.select(explode(array(
            struct(lit("1:heavy_broadcast").as("leg"), col("h_rows").as("rows"),
              col("h_ck").as("checksum")),
            struct(lit("2:light_shuffle").as("leg"), col("l_rows").as("rows"),
              col("l_ck").as("checksum")),
            struct(lit("3:plain_recompute").as("leg"), col("p_rows").as("rows"),
              col("p_ck").as("checksum")))).as("z"),
            col("p_rows"), col("p_ck"), col("h_rows"), col("l_rows"),
            col("h_ck"), col("l_ck"), col("n_hot"))
          .select(col("z.leg").as("leg"), col("z.rows").as("rows"),
            col("z.checksum").as("checksum"),
            expr("z.rows * 10000 div p_rows").as("share_bp"),
            col("n_hot"),
            expr("CAST(CASE WHEN h_rows + l_rows = p_rows AND h_ck + l_ck = p_ck THEN 1 ELSE 0 END AS BIGINT)")
              .as("equal_plain"))
          .orderBy("leg")
      },
      Some(
        s"""WITH $hhRankedSql, n AS (SELECT count(*) AS n FROM keyed), hot AS (SELECT k FROM (SELECT k, sum(c) AS est FROM rk WHERE r <= 8 GROUP BY 1) e CROSS JOIN n WHERE est * 100 >= n * 2), dim AS (SELECT k, min(pu) AS attr FROM keyed GROUP BY 1), heavy AS (SELECT count(*) AS rows, sum(d.attr * (ky.pu + 1)) AS ck FROM keyed ky JOIN dim d ON d.k = ky.k WHERE ky.k IN (SELECT k FROM hot)), light AS (SELECT count(*) AS rows, sum(d.attr * (ky.pu + 1)) AS ck FROM keyed ky JOIN dim d ON d.k = ky.k WHERE ky.k NOT IN (SELECT k FROM hot)), plain AS (SELECT count(*) AS rows, sum(d.attr * (ky.pu + 1)) AS ck FROM keyed ky JOIN dim d ON d.k = ky.k), nh AS (SELECT count(*) AS n_hot FROM hot), legs AS (SELECT '1:heavy_broadcast' AS leg, (SELECT rows FROM heavy) AS rows, (SELECT ck FROM heavy) AS checksum UNION ALL SELECT '2:light_shuffle', (SELECT rows FROM light), (SELECT ck FROM light) UNION ALL SELECT '3:plain_recompute', (SELECT rows FROM plain), (SELECT ck FROM plain)) SELECT leg, CAST(rows AS BIGINT) AS rows, CAST(checksum AS BIGINT) AS checksum, CAST(rows * 10000 // (SELECT rows FROM plain) AS BIGINT) AS share_bp, CAST((SELECT n_hot FROM nh) AS BIGINT) AS n_hot, CAST(CASE WHEN (SELECT rows FROM heavy) + (SELECT rows FROM light) = (SELECT rows FROM plain) AND (SELECT ck FROM heavy) + (SELECT ck FROM light) = (SELECT ck FROM plain) THEN 1 ELSE 0 END AS BIGINT) AS equal_plain FROM legs ORDER BY leg"""),
      "S/J ext: hybrid skew join EXECUTED — q391's summary-certified heavy keys take a broadcast map-side leg, the tail takes the shuffle leg, and the legs reassemble the plain join exactly (q218's equivalence convention); the 4 broadcast keys carry ~47% of the join mass"))
}

package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables
import graft.ops.HashOps.{md5Bucket, md5BucketSql}

/** Round-9 second widening — two more decisions a 100-TB lakehouse/LLM
  * pipeline makes from priced tables:
  *
  *  - q364 chooses the TIME-PARTITION GRAIN (day/week/month/year) under
  *    the real tension: finer grains prune more rows but multiply
  *    file-open overhead (the small-files problem) — the q352
  *    workload-fold convention applied to the partitioning knob itself;
  *  - q365 calibrates the cheap TOKEN-COUNT ESTIMATORS (bytes/4,
  *    words x global fertility, chars / global compression) against the
  *    exact BPE token counts of the q319 encoding — the budget
  *    arithmetic every training-data pipeline runs long before the real
  *    tokenizer does, priced per language so the cross-language transfer
  *    error is visible.
  */
object R45Queries {

  /** q363's shared sketch projection (batch + EventStream.hhSketchStream):
    * each key row expands to its d=3 count-min coordinates (hr, cell) under
    * the portable salted-md5 hash, w=1024 cells — counting these rows
    * grouped by (hr, cell) IS the sketch, in either engine and in either
    * execution mode, so the online sketch can never drift from the batch
    * definition.
    */
  private[graft] def cmCoords(keys: DataFrame): DataFrame =
    keys.select(explode(array((1 to 3).map(i =>
        struct(lit(i.toLong).as("hr"),
          md5Bucket(concat(lit(s"hh$i:"), col("k").cast("string")), 1024)
            .as("cell"))): _*)).as("z"))
      .select(col("z.hr").as("hr"), col("z.cell").as("cell"))

  private def hhCellSql(i: Int, k: String): String =
    md5BucketSql(s"'hh$i:' || CAST($k AS VARCHAR)", 1024)

  val specs: Seq[QuerySpec] = Seq(

    // q363 — TWO-PHASE HEAVY HITTERS: the q356 sample-first principle
    // transposed to frequency — a ONE-SIDED estimator makes a provably
    // safe pruner. Phase 1 probes every dictionary key against a d=3,
    // w=1024 count-min sketch (one pass, 3x1024 cells of state — the
    // sketch you CAN afford when the per-key table is too hot); a key is
    // a candidate iff its sketch bound clears the threshold T = 3x mean
    // frequency. Because count-min only ever over-counts, est >= f for
    // every key, so NO true heavy hitter can be pruned — the class table
    // makes that theorem a checked row: class (pruned, true-HH) is
    // emitted explicitly and must hold zero keys. Phase 2 exact-verifies
    // candidates only; sketch collisions show up as false candidates the
    // exact pass rejects (visible at sf0.1 where 1500 keys share 1024
    // cells) — wasted verification, never a miss. The natural event
    // stream is deliberately near-uniform at every SF, so the heavy tail
    // is PLANTED on negative ids (q293/q321 convention): three synthetic
    // users at 8x/4x/2x the mean — two above the 3x threshold, one
    // below, so both sides of the boundary are exercised at every SF.
    // Output: the four (candidate x true-HH) classes with key counts and
    // exact/estimate mass, each candidate's per-key readout, and the
    // threshold row. Scale: one sketch pass + a dictionary probe; the
    // exact phase touches only candidate keys.
    QuerySpec(
      "q363_twophase_heavy_hitters",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id").cast("long").as("k"))
        val mean0 = ev.agg(expr("count(1) div count(DISTINCT k)").as("m0"))
        val planted = broadcast(mean0).select(explode(expr(
          "flatten(array(" +
            "transform(sequence(1, CAST(m0 * 8 AS INT)), i -> CAST(-1 AS BIGINT)), " +
            "transform(sequence(1, CAST(m0 * 4 AS INT)), i -> CAST(-2 AS BIGINT)), " +
            "transform(sequence(1, CAST(m0 * 2 AS INT)), i -> CAST(-3 AS BIGINT))))")).as("k"))
        val keys = ev.unionByName(planted)
        // T anchors on the BASE mean (the historical traffic profile a
        // monitor thresholds against), not the planted-augmented mean —
        // so the 8x/4x plants clear it and the 2x plant does not
        val thr = keys.agg(count(lit(1)).as("n_rows"), countDistinct("k").as("n_keys_tot"))
          .crossJoin(broadcast(mean0))
          .select(expr("3 * m0").as("t_hh"), col("n_rows"), col("n_keys_tot"))
        val cm = R45Queries.cmCoords(keys).groupBy("hr", "cell").agg(count(lit(1)).as("c"))
        val dict = keys.groupBy("k").agg(count(lit(1)).as("f"))
        val probed = dict.select(col("k"), col("f"), explode(array((1 to 3).map(i =>
            struct(lit(i.toLong).as("hr"),
              md5Bucket(concat(lit(s"hh$i:"), col("k").cast("string")), 1024)
                .as("cell"))): _*)).as("z"))
          .select(col("k"), col("f"), col("z.hr").as("hr"), col("z.cell").as("cell"))
          .join(cm, Seq("hr", "cell"))
          .groupBy("k", "f").agg(min("c").as("est"))
          .crossJoin(broadcast(thr.select("t_hh")))
          .select(col("k"), col("f"), col("est"),
            expr("CAST(CASE WHEN est >= t_hh THEN 1 ELSE 0 END AS BIGINT)").as("cand"),
            expr("CAST(CASE WHEN f >= t_hh THEN 1 ELSE 0 END AS BIGINT)").as("is_hh"))
        val grid = s.range(0, 4).select(col("id").as("code"))
        val classes = grid.join(
            probed.groupBy(expr("cand * 2 + is_hh").as("code"))
              .agg(count(lit(1)).as("n_keys"), sum("f").as("exact_rows"),
                sum("est").as("est_rows")),
            Seq("code"), "left")
          .select(lit("class").as("scenario"), col("code").as("kk"),
            coalesce(col("n_keys"), lit(0L)).as("n_keys"),
            coalesce(col("exact_rows"), lit(0L)).as("exact_rows"),
            coalesce(col("est_rows"), lit(0L)).as("est_rows"))
        val cands = probed.where(col("cand") === 1L)
          .select(lit("candidate").as("scenario"), col("k").as("kk"),
            lit(1L).as("n_keys"), col("f").as("exact_rows"), col("est").as("est_rows"))
        val thrRow = thr.select(lit("threshold").as("scenario"),
          col("t_hh").as("kk"), col("n_keys_tot").as("n_keys"),
          col("n_rows").as("exact_rows"), lit(-1L).as("est_rows"))
        classes.unionByName(cands).unionByName(thrRow)
          .orderBy("scenario", "kk")
      },
      Some {
        val coords = (1 to 3).map(i =>
          s"SELECT k, ${hhCellSql(i, "k")} AS cell, $i AS hr FROM keys").mkString(" UNION ALL ")
        s"""WITH ev AS (SELECT CAST(user_id AS BIGINT) AS k FROM events), m0 AS (SELECT count(*) // count(DISTINCT k) AS m0 FROM ev), planted AS (SELECT unnest(flatten([[CAST(-1 AS BIGINT) for i in generate_series(1, CAST(m0 * 8 AS INT))], [CAST(-2 AS BIGINT) for i in generate_series(1, CAST(m0 * 4 AS INT))], [CAST(-3 AS BIGINT) for i in generate_series(1, CAST(m0 * 2 AS INT))]])) AS k FROM m0), keys AS (SELECT k FROM ev UNION ALL SELECT k FROM planted), thr AS (SELECT 3 * m0 AS t_hh, (SELECT count(*) FROM keys) AS n_rows, (SELECT count(DISTINCT k) FROM keys) AS n_keys_tot FROM m0), cm AS (SELECT hr, cell, count(*) AS c FROM ($coords) h GROUP BY 1, 2), dict AS (SELECT k, count(*) AS f FROM keys GROUP BY 1), probed AS (SELECT p.k, p.f, min(cm.c) AS est FROM (SELECT d.k, d.f, ${hhCellSql(1, "d.k")} AS cell, 1 AS hr FROM dict d UNION ALL SELECT d.k, d.f, ${hhCellSql(2, "d.k")}, 2 FROM dict d UNION ALL SELECT d.k, d.f, ${hhCellSql(3, "d.k")}, 3 FROM dict d) p JOIN cm ON cm.hr = p.hr AND cm.cell = p.cell GROUP BY 1, 2), flags AS (SELECT k, f, est, CASE WHEN est >= t_hh THEN 1 ELSE 0 END AS cand, CASE WHEN f >= t_hh THEN 1 ELSE 0 END AS is_hh FROM probed CROSS JOIN thr), classes AS (SELECT 'class' AS scenario, g.code AS kk, coalesce(a.n_keys, 0) AS n_keys, coalesce(a.exact_rows, 0) AS exact_rows, coalesce(a.est_rows, 0) AS est_rows FROM (SELECT unnest(generate_series(0, 3)) AS code) g LEFT JOIN (SELECT cand * 2 + is_hh AS code, count(*) AS n_keys, sum(f) AS exact_rows, sum(est) AS est_rows FROM flags GROUP BY 1) a ON a.code = g.code), cands AS (SELECT 'candidate' AS scenario, k AS kk, 1 AS n_keys, f AS exact_rows, est AS est_rows FROM flags WHERE cand = 1), thr_row AS (SELECT 'threshold' AS scenario, t_hh AS kk, n_keys_tot AS n_keys, n_rows AS exact_rows, -1 AS est_rows FROM thr), u AS (SELECT * FROM classes UNION ALL SELECT * FROM cands UNION ALL SELECT * FROM thr_row) SELECT scenario, CAST(kk AS BIGINT) AS kk, CAST(n_keys AS BIGINT) AS n_keys, CAST(exact_rows AS BIGINT) AS exact_rows, CAST(est_rows AS BIGINT) AS est_rows FROM u ORDER BY scenario, kk"""
      },
      "§2.4/E ext: two-phase heavy hitters — count-min dictionary probe prunes the exact pass under a 3x-mean threshold, the (pruned, true-HH) class emitted explicitly and provably empty (one-sided estimator), planted 8x/4x/2x tail on negative ids"),

    // q364 — PARTITION-GRAIN CHOOSER: q342 priced the LAYOUT inside
    // files; this prices the partition COLUMN's grain — the first knob a
    // 100-TB time-series table sets. For each grain (day/week/month/
    // year of l_shipdate) the per-partition stats a catalog would hold
    // (rows, min/max day key — one aggregate per grain, map-side
    // assignment) are probed by the q342-convention 8-predicate range
    // workload (eighths of the day span, deliberately aligned with no
    // grain); a partition is read iff its [min,max] overlaps the
    // predicate. The fold per grain: partitions touched, rows scanned,
    // exact matching rows, and the cost under the standard small-files
    // model — rows + 5000 rows-equivalent PER PARTITION OPENED (listing,
    // footer read, task schedule; the constant is the model, stated, not
    // hidden). The measured tension IS the decision, and it MOVES with
    // data volume exactly as the model says it should: at sf0.001/0.01
    // the open cost dominates (day grain pays ~2300-2500 opens against a
    // 6k-600k-row table) and the chooser goes all the way to YEAR; by
    // sf0.1 the extra rows a year partition drags in outweigh its 14
    // opens and the argmin refines to MONTH — extrapolate the same
    // arithmetic to 100 TB and it lands on day/week, which is why real
    // lakehouses default there. The grain is a function of table size,
    // and this table computes it rather than folklore-ing it. Scale: 4
    // keyed aggregates over one column + broadcast probes of 8-row
    // predicate tables; the fact table never shuffles.
    QuerySpec(
      "q364_partition_grain_chooser",
      (s, d) => {
        val base = t(s, d, "lineitem").select(
          expr("unix_timestamp(l_shipdate) div 86400").as("dk"),
          expr("year(l_shipdate) * 12 + month(l_shipdate)").as("ym"),
          expr("CAST(year(l_shipdate) AS BIGINT)").as("yr"))
        val mxx = base.agg(min("dk").as("dmin"),
          expr("max(dk) - min(dk) + 1").as("span"))
        val preds = s.range(0, 8).crossJoin(broadcast(mxx))
          .select(col("id").as("pred_id"),
            expr("dmin + id * span div 8").as("lo"),
            expr("dmin + (id + 1) * span div 8 - 1").as("hi"))
        def gstats(gexpr: String, label: String): DataFrame =
          base.groupBy(expr(gexpr).as("pval"))
            .agg(count(lit(1)).as("rows_p"), min("dk").as("mn"), max("dk").as("mx"))
            .select(lit(label).as("grain"), col("pval"), col("rows_p"),
              col("mn"), col("mx"))
        val stats = gstats("dk", "1:day")
          .unionByName(gstats("dk div 7", "2:week"))
          .unionByName(gstats("ym", "3:month"))
          .unionByName(gstats("yr", "4:year"))
        val nParts = stats.groupBy("grain").agg(count(lit(1)).as("n_parts"))
        val touched = stats.join(broadcast(preds), expr("mn <= hi AND mx >= lo"))
          .groupBy("grain")
          .agg(count(lit(1)).as("w_parts_touched"), sum("rows_p").as("w_rows_scanned"))
        val exact = base.join(broadcast(preds), expr("dk BETWEEN lo AND hi"))
          .agg(count(lit(1)).as("w_rows_exact"))
        val folded = nParts.join(touched, Seq("grain"))
          .crossJoin(broadcast(exact))
          .select(col("grain"), col("n_parts"), col("w_parts_touched"),
            col("w_rows_scanned"), col("w_rows_exact"),
            expr("w_rows_scanned + w_parts_touched * 5000").as("cost"))
        folded.crossJoin(broadcast(folded.agg(min("cost").as("best"))))
          .select(col("grain"), col("n_parts"), col("w_parts_touched"),
            col("w_rows_scanned"), col("w_rows_exact"), col("cost"),
            expr("CAST(CASE WHEN cost = best THEN 1 ELSE 0 END AS BIGINT)").as("chosen"))
          .orderBy("grain")
      },
      Some(
        """WITH base AS (SELECT CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400 AS dk, year(l_shipdate) * 12 + month(l_shipdate) AS ym, CAST(year(l_shipdate) AS BIGINT) AS yr FROM lineitem), mxx AS (SELECT min(dk) AS dmin, max(dk) - min(dk) + 1 AS span FROM base), preds AS (SELECT j AS pred_id, dmin + j * span // 8 AS lo, dmin + (j + 1) * span // 8 - 1 AS hi FROM (SELECT unnest(generate_series(0, 7)) AS j) g CROSS JOIN mxx), st AS (SELECT '1:day' AS grain, dk AS pval, count(*) AS rows_p, min(dk) AS mn, max(dk) AS mx FROM base GROUP BY 2 UNION ALL SELECT '2:week', dk // 7, count(*), min(dk), max(dk) FROM base GROUP BY 2 UNION ALL SELECT '3:month', ym, count(*), min(dk), max(dk) FROM base GROUP BY 2 UNION ALL SELECT '4:year', yr, count(*), min(dk), max(dk) FROM base GROUP BY 2), np AS (SELECT grain, count(*) AS n_parts FROM st GROUP BY 1), tc AS (SELECT st.grain, count(*) AS w_parts_touched, sum(st.rows_p) AS w_rows_scanned FROM st JOIN preds p ON st.mn <= p.hi AND st.mx >= p.lo GROUP BY 1), ex AS (SELECT count(*) AS w_rows_exact FROM base b JOIN preds p ON b.dk BETWEEN p.lo AND p.hi), f AS (SELECT np.grain, np.n_parts, tc.w_parts_touched, tc.w_rows_scanned, (SELECT w_rows_exact FROM ex) AS w_rows_exact, tc.w_rows_scanned + tc.w_parts_touched * 5000 AS cost FROM np JOIN tc ON tc.grain = np.grain), mn AS (SELECT min(cost) AS best FROM f) SELECT grain, CAST(n_parts AS BIGINT) AS n_parts, CAST(w_parts_touched AS BIGINT) AS w_parts_touched, CAST(w_rows_scanned AS BIGINT) AS w_rows_scanned, CAST(w_rows_exact AS BIGINT) AS w_rows_exact, CAST(cost AS BIGINT) AS cost, CAST(CASE WHEN cost = best THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM f CROSS JOIN mn ORDER BY grain"""),
      "S/P ext: partition-grain chooser — day/week/month/year stats probed by the 8-predicate range workload, rows-plus-file-opens cost model, argmin grain chosen (the small-files tradeoff priced)"),

    // q365 — TOKEN-COUNT ESTIMATOR CALIBRATION: the q319 loop's
    // operational readout. A pipeline prices token budgets long before
    // the real tokenizer runs, using one of three cheap estimators —
    // bytes/4 (the folk heuristic), words x global fertility, or
    // chars / global chars-per-token — and this table says, per
    // language, how wrong each one is against the EXACT token counts of
    // the q319 BPE encoding (shared memoized base, so the calibration
    // and the fertility audit can never disagree about what "exact"
    // means). The global-ratio estimators carry the cross-language
    // transfer error (a fertility average dominated by the majority
    // language misprices the others — the q319 per-language gap made
    // into a budgeting error in bp); bytes/4 is blind to language
    // entirely. best_est flags the per-language argmin with a fixed
    // tie order. Byte proxy = chars + one separator per word, exact on
    // this whitespace-tokenized corpus. Scale: the estimators are
    // per-language arithmetic over the already-aggregated encoding
    // table — the whole point is that they cost nothing.
    QuerySpec(
      "q365_token_estimator_calibration",
      (s, d) => {
        val per = R33Queries.bpePerLang(s, d)
        val glob = per.agg(
          expr("sum(n_tokens) * 1000000 div sum(n_words)").as("g_fert_micro"),
          expr("sum(n_chars) * 1000000 div sum(n_tokens)").as("g_cpt_micro"))
        per.crossJoin(broadcast(glob))
          .select(col("lang"), col("n_tokens"),
            expr("(n_chars + n_words) div 4").as("est_bytes4"),
            expr("n_words * g_fert_micro div 1000000").as("est_fert"),
            expr("n_chars * 1000000 div g_cpt_micro").as("est_cpt"))
          .select(col("lang"), col("n_tokens"),
            col("est_bytes4"),
            expr("abs(est_bytes4 - n_tokens) * 10000 div n_tokens").as("err_bytes4_bp"),
            col("est_fert"),
            expr("abs(est_fert - n_tokens) * 10000 div n_tokens").as("err_fert_bp"),
            col("est_cpt"),
            expr("abs(est_cpt - n_tokens) * 10000 div n_tokens").as("err_cpt_bp"))
          .select(col("lang"), col("n_tokens"), col("est_bytes4"), col("err_bytes4_bp"),
            col("est_fert"), col("err_fert_bp"), col("est_cpt"), col("err_cpt_bp"),
            expr("CASE WHEN err_bytes4_bp <= err_fert_bp AND err_bytes4_bp <= err_cpt_bp THEN 'bytes4' WHEN err_fert_bp <= err_cpt_bp THEN 'fertility' ELSE 'chars_per_token' END")
              .as("best_est"))
          .orderBy("lang")
      },
      Some(
        "WITH " + R33Queries.bpeEncCtes +
          """, per AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words, CAST(sum(cnt * n_tok) AS BIGINT) AS n_tokens, CAST(sum(cnt * length(w)) AS BIGINT) AS n_chars FROM lw JOIN enc USING (w) GROUP BY 1), gstats AS (SELECT sum(n_tokens) * 1000000 // sum(n_words) AS g_fert_micro, sum(n_chars) * 1000000 // sum(n_tokens) AS g_cpt_micro FROM per), e AS (SELECT lang, n_tokens, (n_chars + n_words) // 4 AS est_bytes4, n_words * g_fert_micro // 1000000 AS est_fert, n_chars * 1000000 // g_cpt_micro AS est_cpt FROM per CROSS JOIN gstats), r AS (SELECT lang, n_tokens, est_bytes4, abs(est_bytes4 - n_tokens) * 10000 // n_tokens AS err_bytes4_bp, est_fert, abs(est_fert - n_tokens) * 10000 // n_tokens AS err_fert_bp, est_cpt, abs(est_cpt - n_tokens) * 10000 // n_tokens AS err_cpt_bp FROM e) SELECT lang, n_tokens, CAST(est_bytes4 AS BIGINT) AS est_bytes4, CAST(err_bytes4_bp AS BIGINT) AS err_bytes4_bp, CAST(est_fert AS BIGINT) AS est_fert, CAST(err_fert_bp AS BIGINT) AS err_fert_bp, CAST(est_cpt AS BIGINT) AS est_cpt, CAST(err_cpt_bp AS BIGINT) AS err_cpt_bp, CASE WHEN err_bytes4_bp <= err_fert_bp AND err_bytes4_bp <= err_cpt_bp THEN 'bytes4' WHEN err_fert_bp <= err_cpt_bp THEN 'fertility' ELSE 'chars_per_token' END AS best_est FROM r ORDER BY lang"""),
      "E4 ext: token-count estimator calibration — bytes/4, words x global fertility, chars/global compression priced per language against the q319 BPE exact counts, per-language argmin flagged"))
}

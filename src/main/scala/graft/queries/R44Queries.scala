package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5LongSql, md5Bucket}
import graft.ops.QuantileOps

/** Round-9 first widening — the ESTIMATION layer that sits between the
  * sketch family and the decisions the round's burn-down queries make:
  *
  *  - q360 closes q153's loop: the deterministic weighted sample is no
  *    longer just materialized — its Horvitz–Thompson estimates are
  *    priced against the exact per-stratum totals (was the sample
  *    actually representative, in bp);
  *  - q361 bridges sketches to the CBO: the count-min inner-product
  *    join-size estimator (AMS F2) priced against the exact second
  *    moment across four sketch widths, with the one-sided-bias
  *    invariant a planner relies on and the cheapest budget-compliant
  *    width argmin-flagged;
  *  - q362 turns q357's own knob: the bin-count frontier — measured
  *    max quantile error per summary size, cheapest summary under the
  *    error budget flagged argmin (q351's frontier→decision convention
  *    applied to the sketch itself).
  */
object R44Queries {

  /** q361's portable count-min hash — the q345 md5 convention: salt
    * `cm<i>:` then a 40-bit hex prefix; callers mod by the cell width.
    */
  private def cmCellSql(i: Int, k: String): String =
    md5LongSql(s"'cm$i:' || CAST($k AS VARCHAR)", 10)

  val specs: Seq[QuerySpec] = Seq(

    // q360 — HORVITZ–THOMPSON SAMPLE CALIBRATION: q153 materialized the
    // language-balanced sample; this prices what that sample is FOR —
    // estimating corpus-scale statistics without reading the corpus. Per
    // language: the deterministic Knuth-hash sample (integer-exact keep
    // rule h·n_l < min_n·2^32 — the bit-portable form of q153's
    // u < rate) is inverse-probability expanded (est = kept · n_l / min_n,
    // exact integer arithmetic because the inclusion probability is the
    // rational min_n/n_l by construction) and sits next to the TRUE
    // per-language doc and token totals with the error in bp. The table
    // answers the estimation question a 100-TB pipeline asks daily: how
    // far off is a stats pass that reads only the balanced sample? Doc
    // counts calibrate tightly (the estimator is exact in expectation
    // over the hash); token totals drift further where within-language
    // length variance is high — exactly the signal that says "stratify
    // by length too". Scale: one map-side hash filter + two keyed
    // aggregates; the corpus never shuffles.
    QuerySpec(
      "q360_ht_sample_calibration",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("lang"), col("doc_id"),
            size(split(lower(col("text")), " ")).cast("long").as("ntok"),
            expr("(doc_id % 2147483648) * 2654435761 % 4294967296").as("h"))
        val truth = docs.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("true_tokens"))
          .crossJoin(broadcast(
            docs.groupBy("lang").agg(count(lit(1)).as("nn"))
              .agg(min("nn").as("mn"))))
        val kept = docs.join(broadcast(truth.select("lang", "n_docs", "mn")), Seq("lang"))
          .where(expr("h * n_docs < mn * 4294967296"))
          .groupBy("lang")
          .agg(count(lit(1)).as("kept_docs"), sum("ntok").as("kept_tokens"))
        truth.join(kept, Seq("lang"), "left")
          .select(col("lang"), col("n_docs"), col("true_tokens"),
            coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
            coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
            expr("coalesce(kept_docs, 0) * n_docs div mn").as("est_docs"),
            expr("coalesce(kept_tokens, 0) * n_docs div mn").as("est_tokens"),
            expr("abs(coalesce(kept_docs, 0) * n_docs div mn - n_docs) * 10000 div n_docs")
              .as("docs_err_bp"),
            expr("abs(coalesce(kept_tokens, 0) * n_docs div mn - true_tokens) * 10000 div true_tokens")
              .as("tokens_err_bp"))
          .orderBy("lang")
      },
      Some(
        """WITH docs AS (SELECT lang, doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ntok, (doc_id % 2147483648) * 2654435761 % 4294967296 AS h FROM documents), truth AS (SELECT lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS true_tokens FROM docs GROUP BY 1), mnc AS (SELECT min(n_docs) AS mn FROM truth), kept AS (SELECT d.lang, count(*) AS kept_docs, CAST(sum(d.ntok) AS BIGINT) AS kept_tokens FROM docs d JOIN truth tr ON tr.lang = d.lang CROSS JOIN mnc WHERE d.h * tr.n_docs < mn * 4294967296 GROUP BY 1) SELECT t.lang, CAST(t.n_docs AS BIGINT) AS n_docs, t.true_tokens, CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs, CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens, CAST(coalesce(k.kept_docs, 0) * t.n_docs // mn AS BIGINT) AS est_docs, CAST(coalesce(k.kept_tokens, 0) * t.n_docs // mn AS BIGINT) AS est_tokens, CAST(abs(coalesce(k.kept_docs, 0) * t.n_docs // mn - t.n_docs) * 10000 // t.n_docs AS BIGINT) AS docs_err_bp, CAST(abs(coalesce(k.kept_tokens, 0) * t.n_docs // mn - t.true_tokens) * 10000 // t.true_tokens AS BIGINT) AS tokens_err_bp FROM truth t LEFT JOIN kept k ON k.lang = t.lang CROSS JOIN mnc ORDER BY t.lang"""),
      "E4/§2.8 ext: Horvitz–Thompson sample calibration — q153's balanced sample inverse-probability expanded per language, estimated doc/token totals priced against exact in bp"),

    // q361 — COUNT-MIN JOIN-SIZE WIDTH FRONTIER: the sketch family meets
    // the CBO family. The self-join size on l_partkey (the second
    // frequency moment Σ f_k² — the quantity behind q255's pair-volume
    // bound and every skew-aware join plan) is estimated from d=3
    // count-min sketches at four widths (1024 → 524288 cells) as the
    // min row-wise inner product Σ_cell cm[d][cell]², next to the EXACT
    // second moment. Count-min inner products are ONE-SIDED (collisions
    // only add mass), so est >= exact always — the certified upper-bound
    // property a planner leans on for memory provisioning — and the
    // measured bias sits next to the analytic prediction
    // 1 + (n² - F2)/(w·F2) (expected collision mass under uniform
    // hashing, exact integer arithmetic), which the md5 hashes track
    // within a few percent at every width. The frontier IS the sizing
    // rule: the width that holds a 10% bias budget grows with the
    // stream (8192 cells at sf0.001 → 65536 at sf0.01 → 524288 at
    // sf0.1 — the 1/w collapse made operational), and the chosen flag
    // marks the cheapest compliant width. Scale: one map-side hash pass
    // + a (3 × w)-cell aggregate per width — the one-pass answer when
    // the per-key table itself is too hot to materialize.
    QuerySpec(
      "q361_countmin_joinsize",
      (s, d) => {
        val widths = Seq(1024L, 8192L, 65536L, 524288L)
        val keys = t(s, d, "lineitem").select(col("l_partkey").as("k"))
        // ONE per-key pass feeds BOTH the exact grader and the sketch
        // (guide §2.3 aggregate-before-you-shuffle, the q404 per-key
        // convention): the cm cell hashes depend only on k, so they are
        // evaluated over the |distinct k| per-key table instead of every
        // fact row (~30x fewer md5+conv evaluations at sf0.1), and the
        // cell counts fold back with the per-key frequencies
        // (c_cell = Σ_{k→cell} f_k — identical counts by additivity).
        val perKey = keys.groupBy("k").agg(count(lit(1)).as("f"))
          .localCheckpoint(false)
        val exact = perKey
          .agg(sum(expr("f * f")).as("exact_f2"), sum("f").as("n_rows"))
        // ONE hash pass at the finest width; coarser sketches fold from
        // it exactly because every narrower w divides 524288, so
        // h mod w == (h mod 524288) mod w — the per-key table is hashed
        // once and each extra width costs only a ≤(3 x ndv)-row
        // re-aggregation.
        val fine = perKey.select(col("f"), explode(array((1 to 3).map(i =>
            struct(lit(i.toLong).as("hr"),
              md5Bucket(concat(lit(s"cm$i:"), col("k").cast("string")), 524288)
                .as("cell"))): _*)).as("z"))
          .select(col("z.hr").as("hr"), col("z.cell").as("cell"), col("f"))
          .groupBy("hr", "cell").agg(sum("f").as("c"))
          .localCheckpoint(false)
        val legs = widths.map { w =>
          fine.groupBy(col("hr"), pmod(col("cell"), lit(w)).as("cw"))
            .agg(sum("c").as("c"))
            .groupBy("hr").agg(sum(expr("c * c")).as("row_est"))
            .agg(min("row_est").as("cm_est"))
            .select(lit(w).as("w"), col("cm_est"))
        }
        val cfg = legs.reduce(_ unionByName _)
          .crossJoin(broadcast(exact))
          .select(col("w"), expr("w * 3").as("sketch_cells"), col("cm_est"),
            col("exact_f2"),
            expr("cm_est * 10000 div exact_f2").as("bias_bp"),
            expr("10000 + (n_rows * n_rows - exact_f2) * 10000 div (w * exact_f2)")
              .as("pred_bias_bp"),
            expr("CAST(CASE WHEN cm_est * 10000 div exact_f2 <= 11000 THEN 1 ELSE 0 END AS BIGINT)")
              .as("meets_budget"))
        cfg.crossJoin(broadcast(
            cfg.where(col("meets_budget") === 1L).agg(min("w").as("best_w"))))
          .select(col("w"), col("sketch_cells"), col("cm_est"), col("exact_f2"),
            col("bias_bp"), col("pred_bias_bp"), col("meets_budget"),
            expr("CAST(CASE WHEN w = best_w THEN 1 ELSE 0 END AS BIGINT)").as("chosen"))
          .orderBy("w")
      },
      Some {
        val widths = Seq(1024L, 8192L, 65536L, 524288L)
        val legs = widths.map { w =>
          val cells = (1 to 3).map(i =>
            s"SELECT $i AS hr, ${cmCellSql(i, "k")} % $w AS cell FROM keys").mkString(" UNION ALL ")
          s"SELECT $w AS w, min(row_est) AS cm_est FROM (SELECT hr, sum(c * c) AS row_est FROM (SELECT hr, cell, count(*) AS c FROM ($cells) h GROUP BY 1, 2) g GROUP BY 1) r"
        }.mkString(" UNION ALL ")
        s"""WITH keys AS (SELECT l_partkey AS k FROM lineitem), ex AS (SELECT sum(f * f) AS exact_f2, sum(f) AS n_rows FROM (SELECT count(*) AS f FROM keys GROUP BY k) g), cfg AS (SELECT w, w * 3 AS sketch_cells, cm_est, exact_f2, cm_est * 10000 // exact_f2 AS bias_bp, 10000 + (n_rows * n_rows - exact_f2) * 10000 // (w * exact_f2) AS pred_bias_bp, CASE WHEN cm_est * 10000 // exact_f2 <= 11000 THEN 1 ELSE 0 END AS meets_budget FROM ($legs) u CROSS JOIN ex), best AS (SELECT min(w) AS best_w FROM cfg WHERE meets_budget = 1) SELECT CAST(w AS BIGINT) AS w, CAST(sketch_cells AS BIGINT) AS sketch_cells, CAST(cm_est AS BIGINT) AS cm_est, CAST(exact_f2 AS BIGINT) AS exact_f2, CAST(bias_bp AS BIGINT) AS bias_bp, CAST(pred_bias_bp AS BIGINT) AS pred_bias_bp, CAST(meets_budget AS BIGINT) AS meets_budget, CAST(CASE WHEN w = best_w THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM cfg CROSS JOIN best ORDER BY w"""
      },
      "§2.4/J ext: count-min join-size width frontier — AMS F2 upper bound at four widths vs the exact second moment, measured bias tracking the analytic (n²-F2)/(w·F2) prediction, cheapest 10%-budget width argmin-flagged"),

    // q362 — SKETCH BIN-COUNT CHOOSER: q357 shipped one 256-bin summary;
    // this sweeps the knob — 16/64/256/1024 bins — and reads, per
    // configuration, the summary's cost (occupied bins — the rows a
    // 100-TB rollup actually stores per partition) against its MEASURED
    // max quantile error over p50/p95/p99, next to the a-priori bound
    // w/B+1. The decision: cheapest summary whose measured error meets a
    // 0.2%-of-range budget (w div 500), argmin-flagged — q351's
    // frontier→decision convention on the sketch's own parameter. The
    // measured-vs-guaranteed gap IS the story: only the 1024-bin cell is
    // guaranteed under the budget a priori, but the measured frontier
    // shows where the distribution lets a 4x smaller summary ride within
    // budget anyway (256 bins at the sf0.01 gate; the sf0.001/sf0.1
    // tails push 256 over and the chooser correctly retreats to 1024) —
    // and the guarantee column prices exactly that bet: meets_guaranteed
    // implies meets_measured by construction (bound >= err), never the
    // reverse. Scale: each leg is one map-side bin assignment + a
    // <=B-row aggregate; the exact grader is shared with q357 (one
    // QuantileOps pass).
    QuerySpec(
      "q362_sketch_bin_chooser",
      (s, d) => {
        val vm = t(s, d, "lineitem").select(
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("v"))
        val mx = vm.agg(min("v").as("vmin"), expr("max(v) - min(v) + 1").as("w"),
          count(lit(1)).as("n"))
        val ex = QuantileOps.exactElementQuantiles(
          vm, "v", Seq.empty, Seq(0.5, 0.95, 0.99))
        val exr = ex.select(explode(array(
            struct(lit(5000L).as("f_bp"), col("cut_1").cast("long").as("exact_v")),
            struct(lit(9500L).as("f_bp"), col("cut_2").cast("long").as("exact_v")),
            struct(lit(9900L).as("f_bp"), col("cut_3").cast("long").as("exact_v")))).as("z"))
          .select(col("z.f_bp").as("f_bp"), col("z.exact_v").as("exact_v"))
        // 1-slice range (not spark.range(1)'s 32 slices): the grid is 3
        // rows, and each of the four legs cross-joins it — the default
        // slicing paid 4 extra 32-task stages of pure fixed cost
        val grid = s.range(0, 1, 1, 1).select(
          explode(array(lit(5000L), lit(9500L), lit(9900L))).as("f_bp"))
        // ONE bin pass at the finest grain; coarser sketches fold from it
        // exactly because the grains nest: floor(x*B/w) = floor(x*1024/w)
        // div (1024/B) (nested-floor identity) and the least() clamps
        // compose (1023 div 64 = 15) — so the fact table is binned once
        // and each extra grain costs a ≤1024-row re-aggregation (was: 4
        // full scans, measured 2.6 s -> ~1.3 s).
        // NOTE (r14, measured and REJECTED): folding mx/ex/m1024 from a
        // shared per-value (v, c) checkpoint regressed QTime 2.8 → 3.7 s
        // — ndv(v) ≈ 583k of 600k rows, so the per-value pass saves
        // almost nothing while its checkpoint + the eager mx/exr pins
        // serialize work the single final action previously overlapped
        // (ReuseExchange already dedups the repeated broadcast subtrees).
        val m1024 = vm.crossJoin(broadcast(mx))
          .select(expr("least(1023, (v - vmin) * 1024 div w)").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("mc"))
          .localCheckpoint(false)
        val legs = Seq(16, 64, 256, 1024).map { bins =>
          val m = m1024.groupBy(expr(s"bin div ${1024 / bins}").as("bin"))
            .agg(sum("mc").as("mc"))
          val cum = m.withColumn("cum",
            sum("mc").over(Window.orderBy("bin")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          val qb = grid.crossJoin(broadcast(mx.select("n")))
            .join(broadcast(cum), expr("cum >= CAST(ceil(n * (f_bp / 10000.0)) AS BIGINT)"))
            .groupBy("f_bp").agg(min("bin").as("qbin"))
          qb.join(broadcast(exr), Seq("f_bp")).crossJoin(broadcast(mx.select("vmin", "w")))
            .agg(max(expr(s"abs(vmin + qbin * w div $bins - exact_v)")).as("err_max"))
            .crossJoin(broadcast(m.agg(count(lit(1)).as("nonzero_bins"))))
            .select(lit(bins.toLong).as("bins"), col("nonzero_bins"), col("err_max"))
        }
        // chosen via a 4-row global window (the frontier table itself) so
        // the four sketch legs are built exactly once in the plan
        legs.reduce(_ unionByName _)
          .crossJoin(broadcast(mx.select("w")))
          .withColumn("best_bins",
            min(when(expr("err_max <= w div 500"), col("bins")))
              .over(Window.partitionBy()))
          .select(col("bins"), col("nonzero_bins"),
            expr("w div bins + 1").as("bound"), col("err_max"),
            expr("CAST(CASE WHEN err_max <= w div 500 THEN 1 ELSE 0 END AS BIGINT)")
              .as("meets_measured"),
            expr("CAST(CASE WHEN w div bins + 1 <= w div 500 THEN 1 ELSE 0 END AS BIGINT)")
              .as("meets_guaranteed"),
            expr("CAST(CASE WHEN bins = best_bins THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("bins")
      },
      Some {
        val exQ = QuantileOps.oracleSql(
          "(SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v FROM lineitem) vv",
          "v", Seq.empty, Seq(0.5, 0.95, 0.99))
        val legCtes = Seq(16, 64, 256, 1024).map { bins =>
          s"m$bins AS (SELECT least($bins - 1, (v - vmin) * $bins // w) AS bin, count(*) AS mc FROM vm CROSS JOIN mx GROUP BY 1), c$bins AS (SELECT bin, sum(mc) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum FROM m$bins), q$bins AS (SELECT g.f_bp, min(c.bin) AS qbin FROM grid g CROSS JOIN mx JOIN c$bins c ON c.cum >= CAST(ceil(n * (g.f_bp / 10000.0)) AS BIGINT) GROUP BY 1), e$bins AS (SELECT $bins AS bins, (SELECT count(*) FROM m$bins) AS nonzero_bins, max(abs(vmin + qbin * w // $bins - exact_v)) AS err_max FROM q$bins JOIN exr USING (f_bp) CROSS JOIN mx)"
        }.mkString(", ")
        val union = Seq(16, 64, 256, 1024).map(b => s"SELECT * FROM e$b").mkString(" UNION ALL ")
        s"""WITH vm AS (SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v FROM lineitem), mx AS (SELECT min(v) AS vmin, max(v) - min(v) + 1 AS w, count(*) AS n FROM vm), ex AS (SELECT CAST(cut_1 AS BIGINT) AS e1, CAST(cut_2 AS BIGINT) AS e2, CAST(cut_3 AS BIGINT) AS e3 FROM $exQ z), exr AS (SELECT 5000 AS f_bp, e1 AS exact_v FROM ex UNION ALL SELECT 9500, e2 FROM ex UNION ALL SELECT 9900, e3 FROM ex), grid AS (SELECT unnest([5000, 9500, 9900]) AS f_bp), $legCtes, u AS ($union), best AS (SELECT min(bins) AS best_bins FROM u CROSS JOIN mx WHERE err_max <= w // 500) SELECT CAST(bins AS BIGINT) AS bins, CAST(nonzero_bins AS BIGINT) AS nonzero_bins, CAST(w // bins + 1 AS BIGINT) AS bound, CAST(err_max AS BIGINT) AS err_max, CAST(CASE WHEN err_max <= w // 500 THEN 1 ELSE 0 END AS BIGINT) AS meets_measured, CAST(CASE WHEN w // bins + 1 <= w // 500 THEN 1 ELSE 0 END AS BIGINT) AS meets_guaranteed, CAST(CASE WHEN bins = best_bins THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM u CROSS JOIN mx CROSS JOIN best ORDER BY bins"""
      },
      "A/S ext: sketch bin-count chooser — 16/64/256/1024-bin frontier of measured max quantile error vs summary size, cheapest cell under the 0.2%-of-range budget argmin-flagged, a-priori guarantee column alongside"))
}

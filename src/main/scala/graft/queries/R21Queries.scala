package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-6 widening, eighth batch: the rest of the offline model-eval
  * harness around q258's AUC — a reliability diagram with per-bin ECE
  * contributions (is the score CALIBRATED?), average precision /
  * PR-AUC (the ranking metric that, unlike ROC, collapses under class
  * imbalance — you report both), and the decile lift & gains table
  * (the campaign-targeting report). All three run on the same
  * fixed-grid histogram trick as q258/q279: per-row work is ONE
  * map-side quantization + a bounded-cardinality aggregation; every
  * cumulative/ranking pass runs over the ≤8192-cell (or 20-bin) grid,
  * never over rows — so the eval suite costs one fact-scan each at
  * any corpus size. Scores are the first embedding coordinate mapped
  * to [0,1]; the positive class is label < 5 (the q258 convention, so
  * the three reports and the AUC are directly comparable).
  */
object R21Queries {

  /** (score_micro ∈ [0,1e6], y) per embedding row — shared base of the
    * eval trio: p = (sv+1)/2 clamped to [0,1], floor-quantized per row
    * so every downstream mean is an exact integer division. */
  private def scored(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(greatest(lit(0L), least(lit(1000000L),
        floor((element_at(col("embedding"), 1) + 1.0) * 500000.0).cast("long")))
        .as("p_micro"),
        (col("label") < 5).cast("long").as("y"))

  // CAST(... AS DOUBLE) is load-bearing: DuckDB promotes FLOAT + DECIMAL
  // literal to FLOAT and evaluates the whole product in float32, while
  // Spark promotes to DOUBLE — 1-ulp boundary rows then floor() apart
  // (9 rows at sf0.001). The explicit cast pins both engines to double.
  private val scoredSql =
    """SELECT greatest(0, least(1000000, CAST(floor((CAST(embedding[1] AS DOUBLE) + 1.0) * 500000.0) AS BIGINT))) AS p_micro, CAST(CASE WHEN label < 5 THEN 1 ELSE 0 END AS BIGINT) AS y FROM embeddings"""

  val specs: Seq[QuerySpec] = Seq(

    // q289 — RELIABILITY DIAGRAM + ECE CONTRIBUTIONS: 20 fixed
    // probability bins; per bin, mean predicted probability (from the
    // per-row micro quantization — integer division, order-free) vs
    // observed positive rate, the |gap|, and the bin's ECE contribution
    // n_b·|gap| (Σ/N is the scalar ECE — left to the consumer so the
    // report keeps its per-bin resolution). The bin key is a constant
    // arithmetic map (codegen'd); the aggregation has ≤20 groups
    // regardless of corpus size.
    QuerySpec(
      "q289_calibration",
      (s, d) => {
        scored(s, d)
          .withColumn("bin", least(lit(19L), expr("p_micro div 50000")))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
            sum("p_micro").as("sp"))
          .withColumn("conf_micro", expr("sp div n"))
          .withColumn("acc_micro", expr("n_pos * 1000000 div n"))
          .withColumn("gap_micro", abs(col("conf_micro") - col("acc_micro")))
          .withColumn("ece_contrib", col("n") * col("gap_micro"))
          .select("bin", "n", "n_pos", "conf_micro", "acc_micro", "gap_micro",
            "ece_contrib")
          .orderBy("bin")
      },
      Some(s"""WITH sc AS ($scoredSql), b AS (SELECT least(19, p_micro // 50000) AS bin, count(*) AS n, sum(y) AS n_pos, sum(p_micro) AS sp FROM sc GROUP BY 1) SELECT bin, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos, CAST(sp // n AS BIGINT) AS conf_micro, CAST(n_pos * 1000000 // n AS BIGINT) AS acc_micro, CAST(abs(sp // n - n_pos * 1000000 // n) AS BIGINT) AS gap_micro, CAST(n * abs(sp // n - n_pos * 1000000 // n) AS BIGINT) AS ece_contrib FROM b ORDER BY bin"""),
      "M5/A ext: reliability diagram + per-bin ECE — 20 fixed bins, exact integer means"),

    // q290 — AVERAGE PRECISION (PR-AUC) on the bounded score grid:
    // AP = Σ_cells np(cell) · precision(≥cell) / n_pos, sweeping cells
    // from the highest score down — the histogram form of the standard
    // "precision at each positive, averaged" definition (positives
    // inside one cell share that cell's precision: the declared
    // grid-resolution semantics, same stance as q258's quantized AUC).
    // The cumulative runs over the ≤8192-row histogram (allowlisted);
    // precision is integer basis points, AP is one integer division
    // at the end. Report AP alongside the positive prevalence — the
    // number AP must beat to mean anything.
    QuerySpec(
      "q290_avg_precision",
      (s, d) => {
        val h = scored(s, d)
          .withColumn("sq", expr("p_micro div 123")) // ≤8131 cells
          .groupBy("sq")
          .agg(sum("y").as("np"), (count(lit(1)) - sum(col("y"))).as("nn"))
        val w = Window.orderBy(col("sq").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.withColumn("tp", sum("np").over(w))
          .withColumn("fp", sum("nn").over(w))
          .withColumn("prec_bp", expr("tp * 10000 div (tp + fp)"))
          .agg(sum(col("np") * col("prec_bp")).as("num"),
            sum("np").as("n_pos"), sum("nn").as("n_neg"))
          .select(col("n_pos"), col("n_neg"),
            expr("num div greatest(n_pos, 1)").as("ap_bp"),
            expr("n_pos * 10000 div (n_pos + n_neg)").as("prevalence_bp"))
      },
      Some(s"""WITH sc AS ($scoredSql), h AS (SELECT p_micro // 123 AS sq, sum(y) AS np, count(*) - sum(y) AS nn FROM sc GROUP BY 1), c AS (SELECT np, nn, sum(np) OVER (ORDER BY sq DESC ROWS UNBOUNDED PRECEDING) AS tp, sum(nn) OVER (ORDER BY sq DESC ROWS UNBOUNDED PRECEDING) AS fp FROM h), a AS (SELECT sum(np * (tp * 10000 // (tp + fp))) AS num, sum(np) AS n_pos, sum(nn) AS n_neg FROM c) SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg, CAST(num // greatest(n_pos, 1) AS BIGINT) AS ap_bp, CAST(n_pos * 10000 // (n_pos + n_neg) AS BIGINT) AS prevalence_bp FROM a"""),
      "M5/E3 ext: average precision (PR-AUC) on the bounded grid — integer precision sweep"),

    // q291 — DECILE LIFT & CUMULATIVE GAINS: rank the population by
    // score, cut into 10 grid-deciles (each CELL goes wholly to the
    // decile its cumulative midpoint lands in — the declared
    // grid-resolution semantics; exact row-level deciles would need a
    // global row sort, the thing this family exists to avoid), and
    // report each decile's positive rate vs the base rate (lift) plus
    // the cumulative share of all positives captured (gains) — "call
    // the top 2 deciles, reach 35% of converters". Both windows run
    // over the bounded histogram / 10-row decile table.
    QuerySpec(
      "q291_decile_lift",
      (s, d) => {
        val h = scored(s, d)
          .withColumn("sq", expr("p_micro div 123"))
          .groupBy("sq")
          .agg(count(lit(1)).as("n"), sum("y").as("np"))
        val w = Window.orderBy(col("sq").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = h.agg(sum("n").as("nt"), sum("np").as("npt"))
        val dec = h.withColumn("cum", sum("n").over(w))
          .crossJoin(broadcast(tot))
          // cell's cumulative midpoint → decile 0..9 (top scores = 0)
          .withColumn("decile",
            least(lit(9L), expr("(2 * cum - n) * 5 div nt")))
          .groupBy("decile")
          .agg(sum("n").as("n"), sum("np").as("n_pos"),
            max("nt").as("nt"), max("npt").as("npt"))
        dec
          .withColumn("rate_bp", expr("n_pos * 10000 div n"))
          .withColumn("lift_bp",
            expr("(n_pos * 10000 div n) * 10000 div greatest(npt * 10000 div nt, 1)"))
          .withColumn("cum_gain_bp",
            expr("(sum(n_pos) over (order by decile rows between unbounded preceding and current row) * 10000) div npt"))
          .select("decile", "n", "n_pos", "rate_bp", "lift_bp", "cum_gain_bp")
          .orderBy("decile")
      },
      Some(s"""WITH sc AS ($scoredSql), h AS (SELECT p_micro // 123 AS sq, count(*) AS n, sum(y) AS np FROM sc GROUP BY 1), tot AS (SELECT sum(n) AS nt, sum(np) AS npt FROM h), c AS (SELECT sq, n, np, sum(n) OVER (ORDER BY sq DESC ROWS UNBOUNDED PRECEDING) AS cum FROM h), dec AS (SELECT least(9, (2 * cum - n) * 5 // nt) AS decile, sum(n) AS n, sum(np) AS n_pos, max(nt) AS nt, max(npt) AS npt FROM c, tot GROUP BY 1) SELECT CAST(decile AS BIGINT) AS decile, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_pos * 10000 // n AS BIGINT) AS rate_bp, CAST((n_pos * 10000 // n) * 10000 // greatest(npt * 10000 // nt, 1) AS BIGINT) AS lift_bp, CAST(sum(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) * 10000 // npt AS BIGINT) AS cum_gain_bp FROM dec ORDER BY decile"""),
      "M5/A ext: decile lift & gains on the bounded grid — whole-cell deciles, integer lift"))
}

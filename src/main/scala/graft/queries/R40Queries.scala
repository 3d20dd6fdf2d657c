package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql}

/** Round-8 eighth widening — closing the two loops R38 opened, the house
  * convention (q324's sweep got q327's apply; q328/q329 priced what q198
  * built): q345 MEASURED one bloom configuration, q351 walks the whole
  * (m, k) frontier and picks; q342 PRICED two layouts per predicate,
  * q352 folds the table under a workload and chooses.
  *
  * Both run on shared cores (R38.zorderPricing / the q345 hash
  * convention) — the sweep and the decision can never drift apart.
  */
object R40Queries {

  /** q351's per-(m,k) exact power (bits/m)^k as explicit multiplication —
    * m is a power of two, so bits/m is an EXACT binary double and the 1–3
    * products are correctly rounded identically by both engines; no
    * pow()/exp() library variance anywhere. One text, both dialects.
    */
  private val fprExpr =
    "round(CASE k WHEN 2 THEN (CAST(bits_set AS DOUBLE) / m) * (CAST(bits_set AS DOUBLE) / m) " +
      "WHEN 3 THEN (CAST(bits_set AS DOUBLE) / m) * (CAST(bits_set AS DOUBLE) / m) * (CAST(bits_set AS DOUBLE) / m) " +
      "ELSE (CAST(bits_set AS DOUBLE) / m) * (CAST(bits_set AS DOUBLE) / m) * (CAST(bits_set AS DOUBLE) / m) * (CAST(bits_set AS DOUBLE) / m) END, 6)"
  private val fprRawExpr = fprExpr.stripPrefix("round(").stripSuffix(", 6)")

  val specs: Seq[QuerySpec] = Seq(

    // q351 — BLOOM SIZE/HASH FRONTIER: q345 calibrated one (m=8192, k=3)
    // filter; this walks the full 4x3 (m, k) grid and prices each cell
    // from its EXACT measured bit load — every bits_set is a real
    // distinct-position count under the same portable md5 hashes (first
    // k salts, positions mod m), so hash collisions and double-set bits
    // are measured, not idealized, and the predicted FPR (bits/m)^k is
    // exact-deterministic double math (m is a power of two; explicit
    // multiplication, never pow()). Output ordering IS the decision:
    // budget-meeting cells first, then by filter bytes then k — row 1
    // is the config a runtime-filter planner ships (the cheapest filter
    // under a 1% FPR budget). The 2048-bit cells land over-budget and
    // 16384 wastes 4x the bytes for unneeded nines — the frontier shape
    // a capacity table needs. Scale: the key set is small by definition;
    // 12 distinct-counts over a keys x 4 hash expansion.
    QuerySpec(
      "q351_bloom_frontier",
      (s, d) => {
        val sKeys = t(s, d, "customer").where(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey").as("k")).distinct()
        // the four salted 40-bit hashes per key, tagged with their salt
        // index so each (m, k) cell filters to its first k hash families
        val salted = (1 to 4).map { i =>
          sKeys.select(lit(i).as("i"),
            md5Long(concat(lit(s"bf$i:"), col("k").cast("string")), 10).as("h"))
        }.reduce(_ unionByName _)
        val grid = for { m <- Seq(2048, 4096, 8192, 16384); kk <- Seq(2, 3, 4) } yield (m, kk)
        val cells = grid.map { case (m, kk) =>
          salted.where(col("i") <= kk)
            .select(pmod(col("h"), lit(m.toLong)).as("p"))
            .agg(countDistinct(col("p")).as("bits_set"))
            .select(lit(m.toLong).as("m"), lit(kk.toLong).as("k"), col("bits_set"))
        }.reduce(_ unionByName _)
        cells.crossJoin(broadcast(sKeys.agg(count(lit(1)).as("n_keys"))))
          .select(col("m"), col("k"), col("n_keys"), col("bits_set"),
            expr("m div 8").as("filter_bytes"),
            expr(fprExpr).as("fpr_pred"),
            expr(s"CAST(CASE WHEN $fprRawExpr <= 0.01 THEN 1 ELSE 0 END AS BIGINT)")
              .as("meets_budget"))
          .orderBy(col("meets_budget").desc, col("filter_bytes"), col("k"), col("m"))
      },
      Some {
        def pos(i: Int) =
          md5LongSql(s"'bf$i:' || CAST(k AS VARCHAR)", 10)
        val legs = (for { m <- Seq(2048, 4096, 8192, 16384); kk <- Seq(2, 3, 4) } yield {
          val u = (1 to kk).map(i => s"SELECT ${pos(i)} % $m AS p FROM s").mkString(" UNION ALL ")
          s"SELECT $m AS m, $kk AS k, count(DISTINCT p) AS bits_set FROM ($u) h"
        }).mkString(" UNION ALL ")
        s"""WITH s AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'), n AS (SELECT count(*) AS n_keys FROM s), u AS ($legs) SELECT CAST(m AS BIGINT) AS m, CAST(k AS BIGINT) AS k, CAST(n_keys AS BIGINT) AS n_keys, CAST(bits_set AS BIGINT) AS bits_set, CAST(m // 8 AS BIGINT) AS filter_bytes, $fprExpr AS fpr_pred, CAST(CASE WHEN $fprRawExpr <= 0.01 THEN 1 ELSE 0 END AS BIGINT) AS meets_budget FROM u CROSS JOIN n ORDER BY meets_budget DESC, filter_bytes, k, m"""
      },
      "J/S ext: bloom size/hash frontier — 12-cell (m,k) grid priced from exact measured bit loads under the q345 hash convention; ordering is the decision (cheapest filter under the 1% budget first)"),

    // q352 — WORKLOAD-WEIGHTED LAYOUT CHOOSER: q342's 16-row pricing
    // table folded under a concrete workload mix — suppkey predicates
    // weighted 3x partkey (the secondary-key-heavy case a z-order
    // migration is proposed for) — into the two-row decision: weighted
    // files and rows scanned per layout, scan amplification vs the
    // weighted exact rows, and the chosen flag on the argmin. On this
    // corpus z-order wins ~3.8x (weighted rows 1.50M -> 0.39M;
    // amplification 62.5x -> 16.4x) — the number the re-cluster job
    // quotes. Shares R38.zorderPricing verbatim, so the sweep (q342)
    // and the decision can never disagree; cost beyond the shared core
    // is a 16-row fold.
    QuerySpec(
      "q352_layout_chooser",
      (s, d) => {
        val w = R38Queries.zorderPricing(s, d)
          .withColumn("wt", expr("CASE WHEN pred_key = 'l_suppkey' THEN 3 ELSE 1 END"))
        def side(nm: String, files: String, rows: String): DataFrame =
          w.agg(sum(expr(s"wt * $files")).as("w_files"),
            sum(expr(s"wt * $rows")).as("w_rows"),
            sum(expr("wt * rows_exact")).as("w_rows_exact"))
            .select(lit(nm).as("layout"), col("w_files"), col("w_rows"),
              col("w_rows_exact"))
        val both = side("lex", "files_lex", "rows_lex")
          .unionByName(side("zorder", "files_z", "rows_z"))
        both.crossJoin(broadcast(both.agg(min("w_rows").as("best"))))
          .select(col("layout"), col("w_files"), col("w_rows"), col("w_rows_exact"),
            expr("w_rows * 10000 div w_rows_exact").as("amp_bp"),
            expr("CAST(CASE WHEN w_rows = best THEN 1 ELSE 0 END AS BIGINT)").as("chosen"))
          .orderBy("layout")
      },
      Some(
        s"""WITH ${R38Queries.zorderCtes}, w AS (SELECT pred_key, CASE WHEN pred_key = 'l_suppkey' THEN 3 ELSE 1 END AS wt, files_lex, files_z, rows_lex, rows_z, rows_exact FROM pricing), t AS (SELECT 'lex' AS layout, sum(wt * files_lex) AS w_files, sum(wt * rows_lex) AS w_rows, sum(wt * rows_exact) AS w_rows_exact FROM w UNION ALL SELECT 'zorder', sum(wt * files_z), sum(wt * rows_z), sum(wt * rows_exact) FROM w), mn AS (SELECT min(w_rows) AS best FROM t) SELECT layout, CAST(w_files AS BIGINT) AS w_files, CAST(w_rows AS BIGINT) AS w_rows, CAST(w_rows_exact AS BIGINT) AS w_rows_exact, CAST(w_rows * 10000 // w_rows_exact AS BIGINT) AS amp_bp, CAST(CASE WHEN w_rows = best THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM t CROSS JOIN mn ORDER BY layout"""),
      "S/P ext: workload-weighted layout chooser — q342's shared pricing core folded under a 3:1 secondary-heavy workload into the two-row argmin decision with scan-amplification readout"))
}

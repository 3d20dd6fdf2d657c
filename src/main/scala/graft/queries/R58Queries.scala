package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-12 second widening — the LOGICAL-REWRITE arc: the plan
  * transformations a 100 TB optimizer must make, each one priced the
  * house way (both shapes EXECUTED, certified equal, the cheaper chosen
  * from measured row flows — never from syntax):
  *
  *  - q406 eager aggregation (Yan–Larson): partial groupBy pushed below
  *    the join cuts the fact rows entering the shuffle 4x;
  *  - q407 PK-FK join elimination under referential integrity — the
  *    DATA gate an optimizer must pass before it may drop the join, with
  *    the broken-RI scenario showing results actually diverge;
  *  - q408 EXISTS → semi-join: the naive join+distinct pays the
  *    duplicate blowup twice, the semi-join never materializes it;
  *  - q409 transitive-predicate closure through an equi-join (the
  *    rewrite RewritePlanSpec shows Spark's own
  *    InferFiltersFromConstraints performing into PushedFilters);
  *  - q410 scan sharing: two reports derived from ONE pass via the
  *    (flag × status) micro-cube instead of two corpus scans;
  *  - q411 the q406 DUAL — when the join is selective, pushing the JOIN
  *    below the aggregation wins instead, and the chooser flips: the
  *    pair proves the rewrite is a cost decision, not a syntax rule.
  */
object R58Queries {

  /** q409's mid-band key predicate over a single-column frame `k` —
    * shared with q416, whose whole point is composing THIS predicate
    * (not a retyped sibling that could silently drift) with the
    * key-range layout.
    */
  private[graft] def keyMidband(keys: DataFrame): DataFrame =
    broadcast(keys.agg(min("k").as("a"), max("k").as("b")))
      .selectExpr("a + (b - a) * 2 div 5 AS lo", "a + (b - a) * 9 div 20 AS hi")

  val specs: Seq[QuerySpec] = Seq(

    // q406 — EAGER AGGREGATION (partial groupBy below the join): the
    // monthly-revenue rollup joins every lineitem row to its order just
    // to throw the detail away in the groupBy. The Yan–Larson rewrite
    // pre-aggregates the fact by its join key FIRST — sum/count are
    // decomposable, so re-aggregating the partials above the join is
    // exact — and the join then moves ndv(l_orderkey) rows instead of
    // n_li (4x fewer at every SF; at 100 TB that factor IS the shuffle
    // bill). Both shapes EXECUTED; the 12-month results certified
    // equal cell-by-cell through a full-outer compare (equal_results —
    // a month lost or a count drifted by one breaks it loudly);
    // chosen = the shape moving fewer rows into the join. Spark's own
    // partial_agg (map-side combine) does this WITHIN a shuffle
    // already; the rewrite wins ACROSS the join boundary, which no
    // physical combine can reach. Scale: the pre-aggregate is one
    // keyed pass; the compare is the grader (q385 convention).
    QuerySpec(
      "q406_eager_aggregation",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey").as("k"),
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
        val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
          month(col("o_orderdate")).cast("long").as("m"))
        val late = li.join(o, "k").groupBy("m")
          .agg(count(lit(1)).as("cnt"), sum("cents").as("tc"))
          .localCheckpoint(false)
        val pre = li.groupBy("k")
          .agg(count(lit(1)).as("pn"), sum("cents").as("pc"))
          .localCheckpoint(false)
        // the re-aggregate above the join is visibly sum-of-partials
        val eager2 = pre.select(col("k"), col("pn"), col("pc").as("tc_part"))
          .join(o, "k").groupBy("m")
          .agg(sum("pn").as("cnt"), sum("tc_part").as("tc"))
          .localCheckpoint(false)
        val nli = li.agg(count(lit(1)).as("n_li"))
        val ndv = pre.agg(count(lit(1)).as("ndv"))
        val eq = late.select(col("m"), col("cnt").as("cnt_l"), col("tc").as("tc_l"))
          .join(eager2.select(col("m"), col("cnt").as("cnt_e"), col("tc").as("tc_e")),
            Seq("m"), "full_outer")
          .agg(sum(when(expr(
              "cnt_l IS NULL OR cnt_e IS NULL OR cnt_l <> cnt_e OR tc_l <> tc_e"), 1L)
            .otherwise(0L)).as("bad"))
          .select(expr("CAST(CASE WHEN bad = 0 THEN 1 ELSE 0 END AS BIGINT)")
            .as("equal_results"))
        val tot = late.agg(count(lit(1)).as("groups_out"), sum("tc").as("total_cents"),
          sum("cnt").as("total_rows"))
        val one = nli.crossJoin(broadcast(ndv)).crossJoin(broadcast(eq))
          .crossJoin(broadcast(tot))
        one.select(explode(array(
            struct(lit("1:late_agg").as("variant"), col("n_li").as("fact_rows_into_join")),
            struct(lit("2:eager_agg").as("variant"), col("ndv").as("fact_rows_into_join")))).as("z"),
            col("n_li"), col("ndv"), col("groups_out"), col("total_rows"),
            col("total_cents"), col("equal_results"))
          .select(col("z.variant").as("variant"),
            col("z.fact_rows_into_join").as("fact_rows_into_join"),
            col("groups_out"), col("total_rows"), col("total_cents"),
            col("equal_results"),
            expr("(n_li - ndv) * 10000 div n_li").as("saved_bp"),
            expr("CAST(CASE WHEN z.fact_rows_into_join = least(n_li, ndv) THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("variant")
      },
      Some(
        """WITH li AS (SELECT l_orderkey AS k, CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents FROM lineitem), o AS (SELECT o_orderkey AS k, CAST(month(o_orderdate) AS BIGINT) AS m FROM orders), late AS (SELECT m, count(*) AS cnt, sum(cents) AS tc FROM li JOIN o USING (k) GROUP BY 1), pre AS (SELECT k, count(*) AS pn, sum(cents) AS pc FROM li GROUP BY 1), eager AS (SELECT m, sum(pn) AS cnt, sum(pc) AS tc FROM pre JOIN o USING (k) GROUP BY 1), nli AS (SELECT count(*) AS n_li FROM li), ndv AS (SELECT count(*) AS ndv FROM pre), eq AS (SELECT CASE WHEN sum(CASE WHEN l.cnt IS NULL OR e.cnt IS NULL OR l.cnt <> e.cnt OR l.tc <> e.tc THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS equal_results FROM late l FULL OUTER JOIN eager e ON e.m = l.m), tot AS (SELECT count(*) AS groups_out, sum(tc) AS total_cents, sum(cnt) AS total_rows FROM late), legs AS (SELECT '1:late_agg' AS variant, (SELECT n_li FROM nli) AS fact_rows_into_join UNION ALL SELECT '2:eager_agg', (SELECT ndv FROM ndv)) SELECT variant, CAST(fact_rows_into_join AS BIGINT) AS fact_rows_into_join, CAST(groups_out AS BIGINT) AS groups_out, CAST(total_rows AS BIGINT) AS total_rows, CAST(total_cents AS BIGINT) AS total_cents, CAST(equal_results AS BIGINT) AS equal_results, CAST(((SELECT n_li FROM nli) - (SELECT ndv FROM ndv)) * 10000 // (SELECT n_li FROM nli) AS BIGINT) AS saved_bp, CAST(CASE WHEN fact_rows_into_join = least((SELECT n_li FROM nli), (SELECT ndv FROM ndv)) THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM legs CROSS JOIN tot CROSS JOIN eq ORDER BY variant"""),
      "J/A ext: eager aggregation (Yan-Larson) — the fact pre-aggregated by its join key below the join, partials re-summed above; both shapes executed, 12-month results certified equal cell-by-cell, and the rewrite moves ndv instead of n_li rows into the shuffle (4x) — chosen by measured row flow"),

    // q407 — PK-FK JOIN ELIMINATION UNDER REFERENTIAL INTEGRITY: a
    // rollup that joins orders to customer but references no customer
    // column pays the dim scan + shuffle for nothing — IF every fk
    // matches exactly one pk. That is a DATA property, so it is audited
    // from data (fk nulls, orphans, duplicate pks — the gate a RELY
    // constraint must pass before an optimizer may drop the join), and
    // BOTH shapes execute under two scenarios: the full dim (RI holds —
    // results certified IDENTICAL, join eliminated, dim_rows_saved = the
    // dim scan) and a
    // segment-filtered dim (RI broken — orphans surface, the executed
    // results actually DIVERGE, and the audit's refusal is what stood
    // between the rewrite and silent row loss). eliminate = the audit
    // verdict; equal_results = the measured truth it predicts. Scale:
    // the audit is two keyed passes over the dim side of the join the
    // warehouse was going to pay anyway — ANALYZE-grade; the rollup
    // legs are the graders.
    QuerySpec(
      "q407_join_elim_ri",
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_custkey").as("fk"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
          .localCheckpoint(false)
        val cu = t(s, d, "customer")
        def leg(id: String, dim: DataFrame): DataFrame = {
          val dk = dim.select(col("c_custkey").as("pk")).localCheckpoint(false)
          val nulls = o.agg(sum(when(col("fk").isNull, 1L).otherwise(0L)).as("fk_nulls"))
          // orphans count NON-NULL unmatched fks only (nulls are their
          // own audit column) — on both sides, so the oracle's NOT IN
          // and this anti-join cannot diverge on a null-carrying fixture
          val orphans = o.where(col("fk").isNotNull)
            .join(dk.where(col("pk").isNotNull), col("fk") === col("pk"), "left_anti")
            .agg(count(lit(1)).as("orphans"))
          val dups = dk.groupBy("pk").agg(count(lit(1)).as("c"))
            .agg(sum(when(col("c") > 1L, 1L).otherwise(0L)).as("dup_keys"))
          val withJ = o.join(dk, col("fk") === col("pk"))
            .agg(count(lit(1)).as("rows_join"), sum("cents").as("cents_join"))
          val elim = o.agg(count(lit(1)).as("rows_elim"), sum("cents").as("cents_elim"))
          val dimN = dk.agg(count(lit(1)).as("dim_rows_saved"))
          nulls.crossJoin(broadcast(orphans)).crossJoin(broadcast(dups))
            .crossJoin(broadcast(withJ)).crossJoin(broadcast(elim))
            .crossJoin(broadcast(dimN))
            .select(lit(id).as("scenario"), col("fk_nulls"), col("orphans"),
              col("dup_keys"),
              expr("CAST(CASE WHEN fk_nulls = 0 AND orphans = 0 AND dup_keys = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("eliminate"),
              col("rows_join"), col("rows_elim"), col("cents_join"), col("cents_elim"),
              expr("CAST(CASE WHEN rows_join = rows_elim AND cents_join = cents_elim THEN 1 ELSE 0 END AS BIGINT)")
                .as("equal_results"),
              col("dim_rows_saved"))
        }
        leg("1:full_dim", cu)
          .unionByName(leg("2:filtered_dim", cu.where(col("c_mktsegment") === "BUILDING")))
          .withColumn("audit_correct",
            expr("CAST(CASE WHEN eliminate = equal_results THEN 1 ELSE 0 END AS BIGINT)"))
          .orderBy("scenario")
      },
      Some {
        def legSql(id: String, dimCond: String): String =
          s"""SELECT '$id' AS scenario,
            (SELECT sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) FROM o) AS fk_nulls,
            (SELECT count(*) FROM o WHERE fk IS NOT NULL AND fk NOT IN (SELECT pk FROM ($dimCond) dkx WHERE pk IS NOT NULL)) AS orphans,
            (SELECT sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) FROM (SELECT pk, count(*) AS c FROM ($dimCond) dky GROUP BY 1) g) AS dup_keys,
            (SELECT count(*) FROM o JOIN ($dimCond) dkj ON dkj.pk = o.fk) AS rows_join,
            (SELECT count(*) FROM o) AS rows_elim,
            (SELECT sum(o.cents) FROM o JOIN ($dimCond) dkc ON dkc.pk = o.fk) AS cents_join,
            (SELECT sum(cents) FROM o) AS cents_elim,
            (SELECT count(*) FROM ($dimCond) dkn) AS dim_rows_saved"""
        val full = "SELECT c_custkey AS pk FROM customer"
        val filt = "SELECT c_custkey AS pk FROM customer WHERE c_mktsegment = 'BUILDING'"
        s"""WITH o AS (SELECT o_custkey AS fk, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents FROM orders), legs AS (${legSql("1:full_dim", full)} UNION ALL ${legSql("2:filtered_dim", filt)}), k AS (SELECT *, CASE WHEN fk_nulls = 0 AND orphans = 0 AND dup_keys = 0 THEN 1 ELSE 0 END AS eliminate, CASE WHEN rows_join = rows_elim AND cents_join = cents_elim THEN 1 ELSE 0 END AS equal_results FROM legs) SELECT scenario, CAST(fk_nulls AS BIGINT) AS fk_nulls, CAST(orphans AS BIGINT) AS orphans, CAST(dup_keys AS BIGINT) AS dup_keys, CAST(eliminate AS BIGINT) AS eliminate, CAST(rows_join AS BIGINT) AS rows_join, CAST(rows_elim AS BIGINT) AS rows_elim, CAST(cents_join AS BIGINT) AS cents_join, CAST(cents_elim AS BIGINT) AS cents_elim, CAST(equal_results AS BIGINT) AS equal_results, CAST(dim_rows_saved AS BIGINT) AS dim_rows_saved, CAST(CASE WHEN eliminate = equal_results THEN 1 ELSE 0 END AS BIGINT) AS audit_correct FROM k ORDER BY scenario"""
      },
      "J ext: PK-FK join elimination under referential integrity — the RI audit (fk nulls, orphans, duplicate pks) gates the rewrite, both shapes executed under a full dim (RI holds, results identical, join droppable) and a filtered dim (orphans, results DIVERGE — the audit's refusal prevents silent row loss); audit_correct certifies the gate predicts the measured truth in both scenarios"),

    // q408 — EXISTS → SEMI-JOIN: "orders with any ≥48-quantity item"
    // written naively joins orders to the matching items — duplicating
    // each order once per item — and then pays a distinct to undo its
    // own blowup. The semi-join probes and moves on: one output row per
    // qualifying order, nothing to deduplicate. The aggregate rewrite
    // (pre-group the items) also avoids duplicates but pays a keyed
    // shuffle of every matching item first. All three EXECUTED, the
    // final rollup certified equal across them, and cost = rows out of
    // the join + the extra shuffle each shape needs (the naive's
    // distinct re-shuffles its own blowup; the semi needs nothing).
    // Scale: duplicate blowup is quadratic-ish in fan-out at 100 TB —
    // the semi-join's absence of it is the whole point.
    QuerySpec(
      "q408_exists_semijoin",
      (s, d) => {
        val fi = t(s, d, "lineitem")
          .where(expr("CAST(l_quantity AS BIGINT) >= 48"))
          .select(col("l_orderkey").as("k")).localCheckpoint(false)
        val o = t(s, d, "orders").select(col("o_orderkey").as("k"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
          .localCheckpoint(false)
        val nItems = fi.agg(count(lit(1)).as("n_items"))
        val naiveJ = o.join(fi, "k")
        val naiveOut = naiveJ.agg(count(lit(1)).as("out_naive"))
        val naiveRes = naiveJ.select("k", "cents").distinct()
          .agg(count(lit(1)).as("q_naive"), sum("cents").as("c_naive"))
        val semiJ = o.join(fi, Seq("k"), "left_semi").localCheckpoint(false)
        val semiRes = semiJ.agg(count(lit(1)).as("q_semi"), sum("cents").as("c_semi"))
        val aggJ = fi.groupBy("k").agg(count(lit(1)).as("ni")).join(o, "k")
        val aggRes = aggJ.agg(count(lit(1)).as("q_agg"), sum("cents").as("c_agg"))
        val one = nItems.crossJoin(broadcast(naiveOut)).crossJoin(broadcast(naiveRes))
          .crossJoin(broadcast(semiRes)).crossJoin(broadcast(aggRes))
          .withColumn("equal_all",
            expr("CAST(CASE WHEN q_naive = q_semi AND q_semi = q_agg AND c_naive = c_semi AND c_semi = c_agg THEN 1 ELSE 0 END AS BIGINT)"))
        val legs = one.select(explode(array(
            struct(lit("1:join_distinct").as("variant"), col("out_naive").as("rows_out_of_join"),
              col("out_naive").as("extra_shuffle_rows")),
            struct(lit("2:semi_join").as("variant"), col("q_semi").as("rows_out_of_join"),
              lit(0L).as("extra_shuffle_rows")),
            struct(lit("3:agg_then_join").as("variant"), col("q_agg").as("rows_out_of_join"),
              col("n_items").as("extra_shuffle_rows")))).as("z"),
            col("q_semi"), col("c_semi"), col("equal_all"))
          .select(col("z.variant").as("variant"),
            col("z.rows_out_of_join").as("rows_out_of_join"),
            col("z.extra_shuffle_rows").as("extra_shuffle_rows"),
            expr("z.rows_out_of_join + z.extra_shuffle_rows").as("cost_rows"),
            col("q_semi").as("qual_orders"), col("c_semi").as("total_cents"),
            col("equal_all"))
        legs.crossJoin(broadcast(legs.agg(min("cost_rows").as("mc"))))
          .select(col("variant"), col("rows_out_of_join"), col("extra_shuffle_rows"),
            col("cost_rows"), col("qual_orders"), col("total_cents"), col("equal_all"),
            expr("CAST(CASE WHEN cost_rows = mc THEN 1 ELSE 0 END AS BIGINT)").as("chosen"))
          .orderBy("variant")
      },
      Some(
        """WITH fi AS (SELECT l_orderkey AS k FROM lineitem WHERE CAST(l_quantity AS BIGINT) >= 48), o AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents FROM orders), ni AS (SELECT count(*) AS n_items FROM fi), no AS (SELECT count(*) AS out_naive FROM o JOIN fi USING (k)), nr AS (SELECT count(*) AS q_naive, sum(cents) AS c_naive FROM (SELECT DISTINCT o.k, o.cents FROM o JOIN fi ON fi.k = o.k) d), sr AS (SELECT count(*) AS q_semi, sum(cents) AS c_semi FROM o WHERE k IN (SELECT k FROM fi)), ar AS (SELECT count(*) AS q_agg, sum(cents) AS c_agg FROM (SELECT k, count(*) AS nitems FROM fi GROUP BY 1) g JOIN o USING (k)), base AS (SELECT * FROM ni CROSS JOIN no CROSS JOIN nr CROSS JOIN sr CROSS JOIN ar), legs AS (SELECT '1:join_distinct' AS variant, out_naive AS rows_out_of_join, out_naive AS extra_shuffle_rows, q_semi, c_semi, CASE WHEN q_naive = q_semi AND q_semi = q_agg AND c_naive = c_semi AND c_semi = c_agg THEN 1 ELSE 0 END AS equal_all FROM base UNION ALL SELECT '2:semi_join', q_semi, 0, q_semi, c_semi, CASE WHEN q_naive = q_semi AND q_semi = q_agg AND c_naive = c_semi AND c_semi = c_agg THEN 1 ELSE 0 END FROM base UNION ALL SELECT '3:agg_then_join', q_agg, n_items, q_semi, c_semi, CASE WHEN q_naive = q_semi AND q_semi = q_agg AND c_naive = c_semi AND c_semi = c_agg THEN 1 ELSE 0 END FROM base), mn AS (SELECT min(rows_out_of_join + extra_shuffle_rows) AS mc FROM legs) SELECT variant, CAST(rows_out_of_join AS BIGINT) AS rows_out_of_join, CAST(extra_shuffle_rows AS BIGINT) AS extra_shuffle_rows, CAST(rows_out_of_join + extra_shuffle_rows AS BIGINT) AS cost_rows, CAST(q_semi AS BIGINT) AS qual_orders, CAST(c_semi AS BIGINT) AS total_cents, CAST(equal_all AS BIGINT) AS equal_all, CAST(CASE WHEN rows_out_of_join + extra_shuffle_rows = (SELECT mc FROM mn) THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM legs CROSS JOIN mn ORDER BY variant"""),
      "J ext: EXISTS -> semi-join rewrite — join+distinct, left-semi, and agg-then-join all executed on the same existential query; the rollup certified equal across all three, the naive shape's duplicate blowup measured (rows out of join) plus the extra shuffle each shape pays, chosen = the semi-join that never materializes duplicates"),

    // q409 — TRANSITIVE-PREDICATE CLOSURE: the key-range filter sits on
    // the ORDERS side; by the equi-join condition l_orderkey =
    // o_orderkey the same range provably holds on lineitem, so the
    // inference lets the fact SCAN drop ~94% of its rows before the
    // shuffle instead of carrying them to the join. Both shapes
    // EXECUTED and certified equal (the inference is an equivalence,
    // not a heuristic); priced by fact rows entering the join. The
    // engine half: Spark's InferFiltersFromConstraints performs exactly
    // this rewrite, and RewritePlanSpec pins the inferred range
    // appearing in the lineitem scan's PushedFilters — model and
    // engine agreeing on the same closure. Scale: at 100 TB the
    // un-inferred shape reads and shuffles the whole fact table to
    // discard 94% of it at the join — the closure IS the scan bill.
    QuerySpec(
      "q409_transitive_pred",
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_orderkey").as("k"))
        val pred = keyMidband(o).localCheckpoint(false)
        val fo = o.crossJoin(broadcast(pred)).where(expr("k BETWEEN lo AND hi"))
          .select("k").localCheckpoint(false)
        val li = t(s, d, "lineitem").select(col("l_orderkey").as("k"),
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
        val nli = li.agg(count(lit(1)).as("n_li"))
        val inferred = li.crossJoin(broadcast(pred))
          .where(expr("k BETWEEN lo AND hi")).select("k", "cents")
          .localCheckpoint(false)
        val nInf = inferred.agg(count(lit(1)).as("n_inf"))
        val resFull = li.join(fo, "k")
          .agg(count(lit(1)).as("r_full"), sum("cents").as("c_full"))
        val resInf = inferred.join(fo, "k")
          .agg(count(lit(1)).as("r_inf"), sum("cents").as("c_inf"))
        val one = nli.crossJoin(broadcast(nInf)).crossJoin(broadcast(resFull))
          .crossJoin(broadcast(resInf))
          .withColumn("equal_results",
            expr("CAST(CASE WHEN r_full = r_inf AND c_full = c_inf THEN 1 ELSE 0 END AS BIGINT)"))
        one.select(explode(array(
            struct(lit("1:no_inference").as("variant"), col("n_li").as("fact_rows_into_join")),
            struct(lit("2:inferred_filter").as("variant"), col("n_inf").as("fact_rows_into_join")))).as("z"),
            col("n_li"), col("n_inf"), col("r_full"), col("c_full"), col("equal_results"))
          .select(col("z.variant").as("variant"),
            col("z.fact_rows_into_join").as("fact_rows_into_join"),
            col("r_full").as("result_rows"), col("c_full").as("total_cents"),
            col("equal_results"),
            expr("(n_li - n_inf) * 10000 div n_li").as("saved_bp"),
            expr("CAST(CASE WHEN z.fact_rows_into_join = least(n_li, n_inf) THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("variant")
      },
      Some(
        """WITH o AS (SELECT o_orderkey AS k FROM orders), mx AS (SELECT min(k) AS a, max(k) AS b FROM o), pred AS (SELECT a + (b - a) * 2 // 5 AS lo, a + (b - a) * 9 // 20 AS hi FROM mx), fo AS (SELECT k FROM o CROSS JOIN pred WHERE k BETWEEN lo AND hi), li AS (SELECT l_orderkey AS k, CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents FROM lineitem), nli AS (SELECT count(*) AS n_li FROM li), inf AS (SELECT k, cents FROM li CROSS JOIN pred WHERE k BETWEEN lo AND hi), ninf AS (SELECT count(*) AS n_inf FROM inf), rf AS (SELECT count(*) AS r_full, sum(cents) AS c_full FROM li JOIN fo USING (k)), ri AS (SELECT count(*) AS r_inf, sum(cents) AS c_inf FROM inf JOIN fo USING (k)), base AS (SELECT * FROM nli CROSS JOIN ninf CROSS JOIN rf CROSS JOIN ri), legs AS (SELECT '1:no_inference' AS variant, n_li AS fact_rows_into_join FROM base UNION ALL SELECT '2:inferred_filter', n_inf FROM base) SELECT variant, CAST(fact_rows_into_join AS BIGINT) AS fact_rows_into_join, CAST(r_full AS BIGINT) AS result_rows, CAST(c_full AS BIGINT) AS total_cents, CAST(CASE WHEN r_full = r_inf AND c_full = c_inf THEN 1 ELSE 0 END AS BIGINT) AS equal_results, CAST((n_li - n_inf) * 10000 // n_li AS BIGINT) AS saved_bp, CAST(CASE WHEN fact_rows_into_join = least(n_li, n_inf) THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM legs CROSS JOIN base ORDER BY variant"""),
      "J/S ext: transitive-predicate closure through the equi-join — the orders-side key range provably holds on lineitem, both shapes executed and certified equal, ~94% of fact rows never reach the join; RewritePlanSpec pins Spark's InferFiltersFromConstraints pushing the same inferred range into the fact scan's PushedFilters"),

    // q410 — SCAN SHARING VIA THE MICRO-CUBE: two standing reports
    // (counts+quantity by returnflag; counts+price by linestatus) each
    // scan the corpus — 2n rows for answers that together need only the
    // (flag × status) joint distribution. The shared shape scans ONCE
    // into the ≤6-row micro-cube and derives BOTH reports by
    // re-aggregation — exact because both group-bys are coarsenings of
    // the cube's grain. Each report certified equal to its direct
    // computation cell-by-cell (full-outer compares); priced by corpus
    // rows scanned; cube_rows is the state the sharing costs. Scale:
    // every added report over the same grain is another FREE derivation
    // from the same pass — the n-report bill stays one scan.
    QuerySpec(
      "q410_scan_sharing",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_returnflag").as("fl"),
          col("l_linestatus").as("st"),
          expr("CAST(l_quantity AS BIGINT)").as("qty"),
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
          .localCheckpoint(false)
        val n = li.agg(count(lit(1)).as("n"))
        val repA = li.groupBy("fl").agg(count(lit(1)).as("cnt"), sum("qty").as("sq"))
        val repB = li.groupBy("st").agg(count(lit(1)).as("cnt"), sum("cents").as("sc"))
        val cube = li.groupBy("fl", "st").agg(count(lit(1)).as("cnt"),
          sum("qty").as("sq"), sum("cents").as("sc")).localCheckpoint(false)
        val cubeA = cube.groupBy("fl").agg(sum("cnt").as("cnt"), sum("sq").as("sq"))
        val cubeB = cube.groupBy("st").agg(sum("cnt").as("cnt"), sum("sc").as("sc"))
        def eqOf(x: DataFrame, y: DataFrame, key: String, v1: String, v2: String,
            out: String): DataFrame =
          x.join(y, Seq(key), "full_outer")
            .agg(sum(when(x(v1).isNull || y(v1).isNull || x(v1) =!= y(v1) ||
                x(v2) =!= y(v2), 1L).otherwise(0L)).as("bad"))
            .select(expr("CAST(CASE WHEN bad = 0 THEN 1 ELSE 0 END AS BIGINT)").as(out))
        val eqA = eqOf(repA, cubeA, "fl", "cnt", "sq", "eq_a")
        val eqB = eqOf(repB, cubeB, "st", "cnt", "sc", "eq_b")
        val ckA = repA.agg(sum(expr("cnt + sq")).as("ck_a"),
          count(lit(1)).as("rows_a"))
        val ckB = repB.agg(sum(expr("cnt + sc")).as("ck_b"),
          count(lit(1)).as("rows_b"))
        val cubeN = cube.agg(count(lit(1)).as("cube_rows"))
        val one = n.crossJoin(broadcast(eqA)).crossJoin(broadcast(eqB))
          .crossJoin(broadcast(ckA)).crossJoin(broadcast(ckB))
          .crossJoin(broadcast(cubeN))
          .withColumn("equal_results",
            expr("CAST(CASE WHEN eq_a = 1 AND eq_b = 1 THEN 1 ELSE 0 END AS BIGINT)"))
        one.select(explode(array(
            struct(lit("1:two_passes").as("variant"), expr("n * 2").as("scanned_rows"),
              lit(0L).as("state_rows")),
            struct(lit("2:shared_cube").as("variant"), col("n").as("scanned_rows"),
              col("cube_rows").as("state_rows")))).as("z"),
            col("rows_a"), col("rows_b"), col("ck_a"), col("ck_b"),
            col("equal_results"))
          .select(col("z.variant").as("variant"), col("z.scanned_rows").as("scanned_rows"),
            col("z.state_rows").as("state_rows"), col("rows_a"), col("rows_b"),
            col("ck_a"), col("ck_b"), col("equal_results"),
            expr("CAST(CASE WHEN z.variant = '2:shared_cube' THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("variant")
      },
      Some(
        """WITH li AS (SELECT l_returnflag AS fl, l_linestatus AS st, CAST(l_quantity AS BIGINT) AS qty, CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents FROM lineitem), n AS (SELECT count(*) AS n FROM li), ra AS (SELECT fl, count(*) AS cnt, sum(qty) AS sq FROM li GROUP BY 1), rb AS (SELECT st, count(*) AS cnt, sum(cents) AS sc FROM li GROUP BY 1), cube AS (SELECT fl, st, count(*) AS cnt, sum(qty) AS sq, sum(cents) AS sc FROM li GROUP BY 1, 2), ca AS (SELECT fl, sum(cnt) AS cnt, sum(sq) AS sq FROM cube GROUP BY 1), cb AS (SELECT st, sum(cnt) AS cnt, sum(sc) AS sc FROM cube GROUP BY 1), ea AS (SELECT CASE WHEN sum(CASE WHEN x.cnt IS NULL OR y.cnt IS NULL OR x.cnt <> y.cnt OR x.sq <> y.sq THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS eq_a FROM ra x FULL OUTER JOIN ca y ON y.fl = x.fl), eb AS (SELECT CASE WHEN sum(CASE WHEN x.cnt IS NULL OR y.cnt IS NULL OR x.cnt <> y.cnt OR x.sc <> y.sc THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS eq_b FROM rb x FULL OUTER JOIN cb y ON y.st = x.st), cka AS (SELECT sum(cnt + sq) AS ck_a, count(*) AS rows_a FROM ra), ckb AS (SELECT sum(cnt + sc) AS ck_b, count(*) AS rows_b FROM rb), cn AS (SELECT count(*) AS cube_rows FROM cube), base AS (SELECT * FROM n CROSS JOIN ea CROSS JOIN eb CROSS JOIN cka CROSS JOIN ckb CROSS JOIN cn), legs AS (SELECT '1:two_passes' AS variant, n * 2 AS scanned_rows, 0 AS state_rows FROM base UNION ALL SELECT '2:shared_cube', n, cube_rows FROM base) SELECT variant, CAST(scanned_rows AS BIGINT) AS scanned_rows, CAST(state_rows AS BIGINT) AS state_rows, CAST(rows_a AS BIGINT) AS rows_a, CAST(rows_b AS BIGINT) AS rows_b, CAST(ck_a AS BIGINT) AS ck_a, CAST(ck_b AS BIGINT) AS ck_b, CAST(CASE WHEN eq_a = 1 AND eq_b = 1 THEN 1 ELSE 0 END AS BIGINT) AS equal_results, CAST(CASE WHEN variant = '2:shared_cube' THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM legs CROSS JOIN base ORDER BY variant"""),
      "A/S ext: scan sharing via the micro-cube — two reports derived exactly from ONE (flag x status) pass instead of two corpus scans, each certified cell-by-cell against its direct computation; every further report over the same grain is a free derivation, so the n-report bill stays one scan"),

    // q411 — THE q406 DUAL (join pushed below the aggregation): same
    // Yan–Larson algebra, opposite direction. Downstream wants
    // per-order item rollups for ONE MONTH of orders (~8% of keys);
    // aggregating ALL of lineitem first (q406's winning shape) builds
    // ndv_lok groups to throw 92% away, while semi-joining the fact to
    // the month's keys FIRST shrinks both the aggregate's input and its
    // state by ~12x. Both shapes EXECUTED, finals certified equal
    // (rows + both checksums), priced by aggregate input rows AND
    // retained state keys. chosen flips to join-first — against q406's
    // verdict on the same algebra, because THIS join is selective:
    // together the pair certifies the rewrite direction is a measured
    // cost decision, not a syntax preference. Scale: the semi-join is
    // a broadcast of one month's keys; the naive shape's wasted state
    // is ndv-sized — the 100 TB difference between the two.
    QuerySpec(
      "q411_agg_pushdown_dual",
      (s, d) => {
        val fo = t(s, d, "orders").where(month(col("o_orderdate")) === 3)
          .select(col("o_orderkey").as("k")).localCheckpoint(false)
        val li = t(s, d, "lineitem").select(col("l_orderkey").as("k"),
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
        val nli = li.agg(count(lit(1)).as("n_li"))
        val naivePre = li.groupBy("k")
          .agg(count(lit(1)).as("ni"), sum("cents").as("sc")).localCheckpoint(false)
        val naiveState = naivePre.agg(count(lit(1)).as("state_naive"))
        val naiveRes = naivePre.join(fo, "k")
          .agg(count(lit(1)).as("r_n"), sum("ni").as("i_n"), sum("sc").as("c_n"))
        val pushed = li.join(broadcast(fo), Seq("k"), "left_semi")
          .localCheckpoint(false)
        val nPush = pushed.agg(count(lit(1)).as("n_push"))
        val pushRes = pushed.groupBy("k")
          .agg(count(lit(1)).as("ni"), sum("cents").as("sc"))
          .agg(count(lit(1)).as("r_p"), sum("ni").as("i_p"), sum("sc").as("c_p"))
        val one = nli.crossJoin(broadcast(naiveState)).crossJoin(broadcast(naiveRes))
          .crossJoin(broadcast(nPush)).crossJoin(broadcast(pushRes))
          .withColumn("equal_results",
            expr("CAST(CASE WHEN r_n = r_p AND i_n = i_p AND c_n = c_p THEN 1 ELSE 0 END AS BIGINT)"))
        one.select(explode(array(
            struct(lit("1:agg_first").as("variant"), col("n_li").as("agg_input_rows"),
              col("state_naive").as("agg_state_keys")),
            struct(lit("2:join_first").as("variant"), col("n_push").as("agg_input_rows"),
              col("r_p").as("agg_state_keys")))).as("z"),
            col("n_li"), col("n_push"), col("r_p"), col("i_p"), col("c_p"),
            col("equal_results"))
          .select(col("z.variant").as("variant"),
            col("z.agg_input_rows").as("agg_input_rows"),
            col("z.agg_state_keys").as("agg_state_keys"),
            col("r_p").as("result_rows"), col("c_p").as("total_cents"),
            col("equal_results"),
            expr("(n_li - n_push) * 10000 div n_li").as("saved_bp"),
            expr("CAST(CASE WHEN z.agg_input_rows = least(n_li, n_push) THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("variant")
      },
      Some(
        """WITH fo AS (SELECT o_orderkey AS k FROM orders WHERE month(o_orderdate) = 3), li AS (SELECT l_orderkey AS k, CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents FROM lineitem), nli AS (SELECT count(*) AS n_li FROM li), np AS (SELECT k, count(*) AS ni, sum(cents) AS sc FROM li GROUP BY 1), ns AS (SELECT count(*) AS state_naive FROM np), nr AS (SELECT count(*) AS r_n, sum(ni) AS i_n, sum(sc) AS c_n FROM np JOIN fo USING (k)), pu AS (SELECT k, cents FROM li WHERE k IN (SELECT k FROM fo)), npu AS (SELECT count(*) AS n_push FROM pu), pr AS (SELECT count(*) AS r_p, sum(ni) AS i_p, sum(sc) AS c_p FROM (SELECT k, count(*) AS ni, sum(cents) AS sc FROM pu GROUP BY 1) g), base AS (SELECT * FROM nli CROSS JOIN ns CROSS JOIN nr CROSS JOIN npu CROSS JOIN pr), legs AS (SELECT '1:agg_first' AS variant, n_li AS agg_input_rows, state_naive AS agg_state_keys FROM base UNION ALL SELECT '2:join_first', n_push, r_p FROM base) SELECT variant, CAST(agg_input_rows AS BIGINT) AS agg_input_rows, CAST(agg_state_keys AS BIGINT) AS agg_state_keys, CAST(r_p AS BIGINT) AS result_rows, CAST(c_p AS BIGINT) AS total_cents, CAST(CASE WHEN r_n = r_p AND i_n = i_p AND c_n = c_p THEN 1 ELSE 0 END AS BIGINT) AS equal_results, CAST((n_li - n_push) * 10000 // n_li AS BIGINT) AS saved_bp, CAST(CASE WHEN agg_input_rows = least(n_li, n_push) THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM legs CROSS JOIN base ORDER BY variant"""),
      "J/A ext: the q406 dual — the selective month's keys semi-joined below the aggregation shrink both agg input and state ~12x, both shapes executed and certified equal; chosen flips to join-first against q406's verdict on the same algebra, certifying the rewrite direction as a measured cost decision"))
}

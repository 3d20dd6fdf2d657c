package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-12 fourth widening — the MATERIALIZED-VIEW arc: selection,
  * consumption, and the cache's semantic cousin. The optimizer half
  * ships as plans/MvRewriteRule.scala (MvCatalog's data validation of a
  * grain view + the Aggregate re-rooting rule over a catalog of such
  * views, MvRewriteSpec-certified);
  * these four queries are the data half:
  *
  *  - q417 SELECTS: the Harinarayan–Rajaraman–Ullman greedy over the
  *    16-node (flag, status, year, month) cube lattice, benefit-priced
  *    per step and certified against the EXHAUSTIVE 120-pair optimum —
  *    the (1 − 1/e) guarantee checked as data, not cited;
  *  - q418 GATES: view-subsumption answerability (dim filter yes,
  *    measure filter no, dim-distinct yes) with every verdict certified
  *    against the measured equality of the executed legs;
  *  - q419 APPLIES: the whole 16-node workload dispatched to the
  *    greedy-chosen views, every node's answer certified against a
  *    one-pass CUBE grader over the base, and the workload scan bill
  *    priced next to the all-from-base bill;
  *  - q420 PATCHES: semantic caching — a month-grain cached aggregate
  *    answers the overlap of a new predicate range and only the
  *    REMAINDER touches the base; contained / overlap / disjoint
  *    scenarios all certified equal to the direct computation.
  *
  * Lattice encoding (both engines): GROUPING(f, s, y, m) puts f in the
  * most-significant bit with 1 = aggregated away, so mask = 15 − gid
  * has bit 8 = flag, 4 = status, 2 = year, 1 = month, and v answers q
  * iff (q.mask & v.mask) = q.mask.
  */
object R60Queries {

  /** One-pass CUBE grader over a (f, s, y, m, cents) frame: all 16
    * lattice nodes' (group count, Σcnt², Σ(value checksum)²) graded from
    * a single Expand shuffle — q419's certification core, shared with
    * ScaleSlopeSpec so the measured exponent is the shipped operator's.
    */
  private[graft] def cubeGrader(li: DataFrame): DataFrame =
    li.cube("f", "s", "y", "m")
      .agg(grouping_id().as("gid"), count(lit(1)).as("cg"), sum("cents").as("vg"))
      .groupBy("gid")
      .agg(count(lit(1)).as("groups_b"), sum(expr("cg * cg")).as("chk_cnt_b"),
        sum(expr("(vg % 1000003) * (vg % 1000003)")).as("chk_val_b"))
      .select(expr("CAST(15 - gid AS BIGINT)").as("mask"),
        col("groups_b").cast("long").as("groups_b"), col("chk_cnt_b"), col("chk_val_b"))

  /** The 4-dim + cents lineitem frame every member of the arc shares. */
  private[graft] def liFrame(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select(
      col("l_returnflag").as("f"), col("l_linestatus").as("s"),
      year(col("l_shipdate")).cast("long").as("y"),
      month(col("l_shipdate")).cast("long").as("m"),
      expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))

  /** Lattice node sizes from ONE Expand pass over the distinct grain
    * (≤ |F|·|S|·|Y|·|M| rows — catalog-scale, never the corpus).
    */
  private def latticeNodes(li: DataFrame): DataFrame =
    li.select("f", "s", "y", "m").distinct()
      .cube("f", "s", "y", "m").agg(grouping_id().as("gid"))
      .groupBy("gid").agg(count(lit(1)).as("sz"))
      .select(expr("CAST(15 - gid AS BIGINT)").as("mask"),
        col("sz").cast("long").as("sz"))
      .localCheckpoint(false)

  /** HRU greedy, k = 2, unrolled: benefit-argmax picks p1 then p2 (ties
    * by ascending mask), plus the per-node cost after step 1. Returns
    * (b1, p1, c1, b2, p2) — all tiny frames.
    */
  private def hruSteps(nodes: DataFrame, nn: DataFrame):
      (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val anc1 = nodes.select(col("mask").as("qm"))
      .join(nodes.select(col("mask").as("vm"), col("sz").as("vs")),
        expr("(qm & vm) = qm"))
    val b1 = anc1.crossJoin(broadcast(nn))
      .groupBy("vm", "vs").agg(sum(expr("greatest(0, n - vs)")).as("b"))
    val p1 = b1.orderBy(col("b").desc, col("vm")).limit(1)
      .select(col("vm").as("m1"), col("vs").as("s1")).localCheckpoint(false)
    val c1 = nodes.crossJoin(broadcast(p1)).crossJoin(broadcast(nn))
      .select(col("mask"), col("sz"),
        expr("CASE WHEN (mask & m1) = mask THEN least(n, s1) ELSE n END").as("cost1"))
      .localCheckpoint(false)
    val b2 = c1.select(col("mask").as("qm"), col("cost1"))
      .join(nodes.select(col("mask").as("vm"), col("sz").as("vs")),
        expr("(qm & vm) = qm"))
      .crossJoin(broadcast(p1)).where(expr("vm <> m1"))
      .groupBy("vm", "vs").agg(sum(expr("greatest(0, cost1 - vs)")).as("b"))
    val p2 = b2.orderBy(col("b").desc, col("vm")).limit(1)
      .select(col("vm").as("m2"), col("vs").as("s2")).localCheckpoint(false)
    (b1, p1, c1, b2, p2)
  }

  /** Shared oracle-SQL prefix: the lineitem frame, distinct grain,
    * lattice sizes, and the two unrolled HRU greedy steps.
    */
  private val latticeSql: String =
    "li AS (SELECT l_returnflag AS f, l_linestatus AS s, CAST(year(l_shipdate) AS BIGINT) AS y, " +
      "CAST(month(l_shipdate) AS BIGINT) AS m, CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents FROM lineitem), " +
      "g AS (SELECT DISTINCT f, s, y, m FROM li), " +
      "cub AS (SELECT GROUPING(f, s, y, m) AS gid FROM g GROUP BY CUBE(f, s, y, m)), " +
      "nodes AS (SELECT CAST(15 - gid AS BIGINT) AS mask, CAST(count(*) AS BIGINT) AS sz FROM cub GROUP BY 1), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM li), " +
      "b1 AS (SELECT v.mask AS vm, v.sz AS vs, sum(greatest(0, n - v.sz)) AS b FROM nodes q JOIN nodes v ON (q.mask & v.mask) = q.mask CROSS JOIN nn GROUP BY 1, 2), " +
      "p1 AS (SELECT vm AS m1, vs AS s1 FROM b1 ORDER BY b DESC, vm LIMIT 1), " +
      "c1 AS (SELECT q.mask, q.sz, CASE WHEN (q.mask & p1.m1) = q.mask THEN least(n, p1.s1) ELSE n END AS cost1 FROM nodes q CROSS JOIN p1 CROSS JOIN nn), " +
      "b2 AS (SELECT v.mask AS vm, v.sz AS vs, sum(greatest(0, c1.cost1 - v.sz)) AS b FROM c1 JOIN nodes v ON (c1.mask & v.mask) = c1.mask CROSS JOIN p1 WHERE v.mask <> p1.m1 GROUP BY 1, 2), " +
      "p2 AS (SELECT vm AS m2, vs AS s2 FROM b2 ORDER BY b DESC, vm LIMIT 1)"

  /** The mask → dim-letters label, same text expression both engines. */
  private val dimsCase: String =
    "CASE WHEN mask = 0 THEN 'apex' ELSE concat(" +
      "CASE WHEN (mask & 8) = 8 THEN 'F' ELSE '' END, " +
      "CASE WHEN (mask & 4) = 4 THEN 'S' ELSE '' END, " +
      "CASE WHEN (mask & 2) = 2 THEN 'Y' ELSE '' END, " +
      "CASE WHEN (mask & 1) = 1 THEN 'M' ELSE '' END) END"

  val specs: Seq[QuerySpec] = Seq(

    // q417 — HRU GREEDY VIEW SELECTION vs THE EXHAUSTIVE OPTIMUM: q349
    // priced single candidate views by compression; a warehouse picks a
    // SET under a budget, and the benefit of the second view depends on
    // the first — the Harinarayan–Rajaraman–Ullman lattice model. All
    // 16 (flag, status, year, month) grouping sets are one lattice;
    // size(v) = |distinct grain of v| from ONE Expand pass over the
    // ≤500-row distinct grain; answering node q from view v is legal
    // iff v's dims cover q's ((q&v)=q), at cost size(v). Greedy k=2:
    // step 1 benefit(v) = Σ_desc max(0, n − size(v)) — the apex view
    // wins deterministically (it credits all 16 nodes); step 2 re-prices
    // against cost-after-step-1 and picks the best SECOND view, the
    // step where greedy actually discriminates. The certificate is the
    // EXHAUSTIVE leg: all C(16,2)=120 pairs priced (1920 arithmetic
    // rows), and greedy's benefit is checked against the classic
    // (1 − 1/e) ≈ 63.2% floor — benefit_greedy*1000 >= 632*benefit_opt
    // — with greedy_optimal showing whether it in fact LANDED on the
    // optimum here. Scale: one corpus count + one grain pass; the
    // lattice math never touches the corpus again at any SF.
    QuerySpec(
      "q417_mv_hru_greedy",
      (s, d) => {
        val li = liFrame(s, d)
        val nodes = latticeNodes(li)
        val nn = li.agg(count(lit(1)).as("n")).localCheckpoint(false)
        val (b1, p1, c1, b2, p2) = hruSteps(nodes, nn)
        val gc = c1.crossJoin(broadcast(p2))
          .agg(sum(expr(
            "CASE WHEN (mask & m2) = mask THEN least(cost1, s2) ELSE cost1 END"))
            .as("greedy_cost"))
        val pairs = nodes.select(col("mask").as("ma"), col("sz").as("sa"))
          .join(nodes.select(col("mask").as("mb"), col("sz").as("sb")),
            expr("ma < mb"))
        val oc = pairs.crossJoin(nodes.select(col("mask").as("qm")))
          .crossJoin(broadcast(nn))
          .select(col("ma"), col("mb"), expr(
            "least(n, CASE WHEN (qm & ma) = qm THEN sa ELSE n END, " +
              "CASE WHEN (qm & mb) = qm THEN sb ELSE n END)").as("c"))
          .groupBy("ma", "mb").agg(sum("c").as("tot"))
          .agg(min("tot").as("opt_cost"))
        nodes
          .join(b1.select(col("vm").as("mask"), col("b").as("rb1")), Seq("mask"), "left")
          .join(b2.select(col("vm").as("mask"), col("b").as("rb2")), Seq("mask"), "left")
          .crossJoin(broadcast(p1)).crossJoin(broadcast(p2))
          .crossJoin(broadcast(gc)).crossJoin(broadcast(oc)).crossJoin(broadcast(nn))
          .select(col("mask"), expr(dimsCase).as("dims"), col("sz"),
            coalesce(col("rb1"), lit(0L)).as("benefit1"),
            expr("CAST(CASE WHEN mask = m1 THEN 1 ELSE 0 END AS BIGINT)").as("pick1"),
            coalesce(col("rb2"), lit(0L)).as("benefit2"),
            expr("CAST(CASE WHEN mask = m2 THEN 1 ELSE 0 END AS BIGINT)").as("pick2"),
            col("greedy_cost"), col("opt_cost"),
            expr("16 * n - greedy_cost").as("benefit_greedy"),
            expr("16 * n - opt_cost").as("benefit_opt"),
            expr("CAST(CASE WHEN (16 * n - greedy_cost) * 1000 >= 632 * (16 * n - opt_cost) THEN 1 ELSE 0 END AS BIGINT)")
              .as("guarantee_ok"),
            expr("CAST(CASE WHEN greedy_cost = opt_cost THEN 1 ELSE 0 END AS BIGINT)")
              .as("greedy_optimal"))
          .orderBy("mask")
      },
      Some(
        s"""WITH $latticeSql, gc AS (SELECT sum(CASE WHEN (c1.mask & p2.m2) = c1.mask THEN least(c1.cost1, p2.s2) ELSE c1.cost1 END) AS greedy_cost FROM c1 CROSS JOIN p2), pairs AS (SELECT a.mask AS ma, a.sz AS sa, b.mask AS mb, b.sz AS sb FROM nodes a JOIN nodes b ON a.mask < b.mask), pc AS (SELECT ma, mb, sum(least(n, CASE WHEN (q.mask & ma) = q.mask THEN sa ELSE n END, CASE WHEN (q.mask & mb) = q.mask THEN sb ELSE n END)) AS tot FROM pairs CROSS JOIN nodes q CROSS JOIN nn GROUP BY ma, mb, sa, sb), oc AS (SELECT min(tot) AS opt_cost FROM pc) SELECT n2.mask, $dimsCase AS dims, n2.sz, CAST(coalesce(b1.b, 0) AS BIGINT) AS benefit1, CAST(CASE WHEN n2.mask = p1.m1 THEN 1 ELSE 0 END AS BIGINT) AS pick1, CAST(coalesce(b2.b, 0) AS BIGINT) AS benefit2, CAST(CASE WHEN n2.mask = p2.m2 THEN 1 ELSE 0 END AS BIGINT) AS pick2, CAST(gc.greedy_cost AS BIGINT) AS greedy_cost, CAST(oc.opt_cost AS BIGINT) AS opt_cost, CAST(16 * nn.n - gc.greedy_cost AS BIGINT) AS benefit_greedy, CAST(16 * nn.n - oc.opt_cost AS BIGINT) AS benefit_opt, CAST(CASE WHEN (16 * nn.n - gc.greedy_cost) * 1000 >= 632 * (16 * nn.n - oc.opt_cost) THEN 1 ELSE 0 END AS BIGINT) AS guarantee_ok, CAST(CASE WHEN gc.greedy_cost = oc.opt_cost THEN 1 ELSE 0 END AS BIGINT) AS greedy_optimal FROM nodes n2 LEFT JOIN b1 ON b1.vm = n2.mask LEFT JOIN b2 ON b2.vm = n2.mask CROSS JOIN p1 CROSS JOIN p2 CROSS JOIN gc CROSS JOIN oc CROSS JOIN nn ORDER BY n2.mask"""),
      "A/S ext: HRU greedy materialized-view selection over the 16-node (flag,status,year,month) cube lattice — per-step benefits priced from grain sizes, the k=2 greedy set certified against the exhaustive 120-pair optimum, and the classic (1-1/e) benefit guarantee checked as data (greedy lands on the optimum here)"),

    // q418 — VIEW-SUBSUMPTION ANSWERABILITY, CERTIFIED AS DATA: the
    // optimizer half (MvRewriteRule) refuses or fires on plan shape +
    // the MvCatalog data proof; this is the q413-style data half — the
    // GATE (can the validated grain view answer this query?) evaluated
    // next to both legs EXECUTED. Scenario 1 filters on a dim (status)
    // — the view's own column carries the predicate, certified equal.
    // Scenario 2 filters on the MEASURE (cents > $30k): the grain
    // folded the detail away, so the best a view-only answerer can do
    // is drop the predicate — the legs genuinely DIVERGE and the gate's
    // refusal is what prevents a silent wrong answer. Scenario 3 asks
    // COUNT(DISTINCT month) per flag: distinct over a DIM survives the
    // grain (every (f,s,y,m) combination is a grain row), certified
    // equal — the gate is finer than "no distincts": it distinguishes
    // dim-distinct (answerable) from measure-distinct (not).
    // audit_correct pins verdict == measured equality in all three.
    // Scale: the view legs read |grain| rows; the base legs are the
    // graders (one corpus pass each).
    QuerySpec(
      "q418_mv_subsumption_gate",
      (s, d) => {
        val li = liFrame(s, d).localCheckpoint(false)
        val v = li.groupBy("f", "s", "y", "m")
          .agg(count(lit(1)).as("cnt"), sum("cents").as("sv"))
          .localCheckpoint(false)
        // the row census is the grain's count sum: no pass over li
        val vr = v.agg(count(lit(1)).as("vrows"), sum("cnt").as("n"))
          .localCheckpoint(false)
        def certify(id: String, answerable: Long, viewLeg: DataFrame,
            baseLeg: DataFrame): DataFrame = {
          val eq = viewLeg.select(col("f"), col("v1").as("a1"), col("v2").as("a2"))
            .join(baseLeg.select(col("f"), col("v1").as("b1"), col("v2").as("b2")),
              Seq("f"), "full_outer")
            .agg(sum(when(expr(
                "a1 IS NULL OR b1 IS NULL OR a1 <> b1 OR a2 <> b2"), 1L)
              .otherwise(0L)).as("bad"))
            .select(expr("CAST(CASE WHEN bad = 0 THEN 1 ELSE 0 END AS BIGINT)")
              .as("equal_results"))
          val tot = baseLeg.agg(count(lit(1)).as("groups"), sum("v1").as("total_val"))
          broadcast(eq).crossJoin(broadcast(tot))
            .crossJoin(broadcast(vr))
            .select(lit(id).as("scenario"), lit(answerable).as("answerable"),
              col("groups").cast("long").as("groups"), col("total_val"),
              col("equal_results"),
              expr(s"CAST(CASE WHEN $answerable = equal_results THEN 1 ELSE 0 END AS BIGINT)")
                .as("audit_correct"),
              col("vrows").as("view_rows_scanned"), col("n").as("base_rows_scanned"))
        }
        val s1 = certify("1:dim_filter", 1L,
          v.where(col("s") === "F").groupBy("f")
            .agg(sum("sv").as("v1"), sum("cnt").as("v2")),
          li.where(col("s") === "F").groupBy("f")
            .agg(sum("cents").as("v1"), count(lit(1)).as("v2")))
        val s2 = certify("2:measure_filter", 0L,
          v.groupBy("f").agg(sum("sv").as("v1"), sum("cnt").as("v2")),
          li.where(col("cents") > 3000000L).groupBy("f")
            .agg(sum("cents").as("v1"), count(lit(1)).as("v2")))
        val s3 = certify("3:dim_distinct", 1L,
          v.groupBy("f").agg(countDistinct("m").cast("long").as("v1"),
            countDistinct("y").cast("long").as("v2")),
          li.groupBy("f").agg(countDistinct("m").cast("long").as("v1"),
            countDistinct("y").cast("long").as("v2")))
        s1.unionByName(s2).unionByName(s3).orderBy("scenario")
      },
      Some {
        def leg(id: String, answerable: Int, vSel: String, bSel: String): String =
          s"""SELECT '$id' AS scenario, $answerable AS answerable, (SELECT count(*) FROM ($bSel) z) AS groups, (SELECT sum(v1) FROM ($bSel) z) AS total_val, (SELECT CASE WHEN sum(CASE WHEN a.v1 IS NULL OR b.v1 IS NULL OR a.v1 <> b.v1 OR a.v2 <> b.v2 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END FROM ($vSel) a FULL JOIN ($bSel) b ON a.f = b.f) AS equal_results"""
        val s1 = leg("1:dim_filter", 1,
          "SELECT f, sum(sv) AS v1, sum(cnt) AS v2 FROM v WHERE s = 'F' GROUP BY f",
          "SELECT f, sum(cents) AS v1, count(*) AS v2 FROM li WHERE s = 'F' GROUP BY f")
        val s2 = leg("2:measure_filter", 0,
          "SELECT f, sum(sv) AS v1, sum(cnt) AS v2 FROM v GROUP BY f",
          "SELECT f, sum(cents) AS v1, count(*) AS v2 FROM li WHERE cents > 3000000 GROUP BY f")
        val s3 = leg("3:dim_distinct", 1,
          "SELECT f, count(DISTINCT m) AS v1, count(DISTINCT y) AS v2 FROM v GROUP BY f",
          "SELECT f, count(DISTINCT m) AS v1, count(DISTINCT y) AS v2 FROM li GROUP BY f")
        s"""WITH li AS (SELECT l_returnflag AS f, l_linestatus AS s, CAST(year(l_shipdate) AS BIGINT) AS y, CAST(month(l_shipdate) AS BIGINT) AS m, CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents FROM lineitem), v AS (SELECT f, s, y, m, count(*) AS cnt, sum(cents) AS sv FROM li GROUP BY 1, 2, 3, 4), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM li), vr AS (SELECT CAST(count(*) AS BIGINT) AS vrows FROM v), legs AS ($s1 UNION ALL $s2 UNION ALL $s3) SELECT scenario, CAST(answerable AS BIGINT) AS answerable, CAST(groups AS BIGINT) AS groups, CAST(total_val AS BIGINT) AS total_val, CAST(equal_results AS BIGINT) AS equal_results, CAST(CASE WHEN answerable = equal_results THEN 1 ELSE 0 END AS BIGINT) AS audit_correct, vr.vrows AS view_rows_scanned, nn.n AS base_rows_scanned FROM legs CROSS JOIN vr CROSS JOIN nn ORDER BY scenario"""
      },
      "A/S ext: view-subsumption answerability gate certified as data — dim filter (answerable, equal), measure filter (the grain folded the detail away: the view-only answer diverges and the refusal prevents it), dim-distinct (answerable — the gate is finer than 'no distincts'); audit_correct pins every verdict to the measured equality"),

    // q419 — THE CHOSEN VIEWS APPLIED: q417 selected {v1, v2}; here the
    // ENTIRE 16-node lattice workload executes through them. Dispatch
    // is the house chooser convention (cheapest covering source, ties
    // to the smaller view): every node whose dims v2 covers reads v2's
    // rows, the rest read v1, base only if neither covers (never, once
    // greedy picks the apex view). The certificate is per-node and
    // group-level: a ONE-pass CUBE grader over the corpus computes all
    // 16 direct answers simultaneously, reduced per node to
    // (group count, Σcnt², Σ(cents mod 1000003)²) — distribution-
    // sensitive checksums that any lost group, drifted count, or
    // shifted sum breaks — and the view-derived answers (one Expand
    // pass over the ≤500-row grain) must match all three, node by
    // node. The bill: Σ dispatched rows vs 16 corpus scans — the
    // workload-level number a 100 TB cube serving layer lives and dies
    // by. Scale: the grader is the only corpus pass (16× Expand, the
    // price of certification, q385 convention); serving reads only
    // view rows.
    QuerySpec(
      "q419_mv_dispatch",
      (s, d) => {
        val li = liFrame(s, d).localCheckpoint(false)
        val nodes = latticeNodes(li)
        val nn = li.agg(count(lit(1)).as("n")).localCheckpoint(false)
        val (_, p1, _, _, p2) = hruSteps(nodes, nn)
        val grader = cubeGrader(li)
        val grain = li.groupBy("f", "s", "y", "m")
          .agg(count(lit(1)).as("cnt"), sum("cents").as("sv"))
        val served = grain.cube("f", "s", "y", "m")
          .agg(grouping_id().as("gid"), sum("cnt").as("cg"), sum("sv").as("vg"))
          .groupBy("gid")
          .agg(count(lit(1)).as("groups_v"), sum(expr("cg * cg")).as("chk_cnt_v"),
            sum(expr("(vg % 1000003) * (vg % 1000003)")).as("chk_val_v"))
          .select(expr("CAST(15 - gid AS BIGINT)").as("mask"),
            col("groups_v").cast("long").as("groups_v"), col("chk_cnt_v"), col("chk_val_v"))
        val disp = nodes.crossJoin(broadcast(p1)).crossJoin(broadcast(p2))
          .crossJoin(broadcast(nn))
          .select(col("mask"), col("sz"),
            expr("CASE WHEN (mask & m1) = mask THEN s1 ELSE n END").as("cost_v1"),
            expr("CASE WHEN (mask & m2) = mask THEN s2 ELSE n END").as("cost_v2"),
            col("n"))
          .select(col("mask"), col("sz"),
            expr("CASE WHEN cost_v2 <= cost_v1 AND cost_v2 < n THEN '3:v2' WHEN cost_v1 < n THEN '2:v1' ELSE '1:base' END")
              .as("dispatch_src"),
            expr("least(n, cost_v1, cost_v2)").as("rows_scanned"))
          .localCheckpoint(false)
        val wb = disp.agg(sum("rows_scanned").as("workload_bill"))
        disp.join(grader, Seq("mask")).join(served, Seq("mask"))
          .crossJoin(broadcast(wb)).crossJoin(broadcast(nn))
          .select(col("mask"), expr(dimsCase).as("dims"), col("dispatch_src"),
            col("rows_scanned"), col("groups_b").as("groups"),
            col("chk_cnt_b"), col("chk_val_b"),
            expr("CAST(CASE WHEN groups_b = groups_v AND chk_cnt_b = chk_cnt_v AND chk_val_b = chk_val_v THEN 1 ELSE 0 END AS BIGINT)")
              .as("node_certified"),
            col("workload_bill"), expr("16 * n").as("base_bill"))
          .orderBy("mask")
      },
      Some(
        s"""WITH $latticeSql, bg AS (SELECT GROUPING(f, s, y, m) AS gid, count(*) AS cg, sum(cents) AS vg FROM li GROUP BY CUBE(f, s, y, m)), gb AS (SELECT CAST(15 - gid AS BIGINT) AS mask, CAST(count(*) AS BIGINT) AS groups_b, CAST(sum(cg * cg) AS BIGINT) AS chk_cnt_b, CAST(sum((vg % 1000003) * (vg % 1000003)) AS BIGINT) AS chk_val_b FROM bg GROUP BY 1), vgrain AS (SELECT f, s, y, m, count(*) AS cnt, sum(cents) AS sv FROM li GROUP BY 1, 2, 3, 4), vg2 AS (SELECT GROUPING(f, s, y, m) AS gid, sum(cnt) AS cg, sum(sv) AS vg FROM vgrain GROUP BY CUBE(f, s, y, m)), vb AS (SELECT CAST(15 - gid AS BIGINT) AS mask, CAST(count(*) AS BIGINT) AS groups_v, CAST(sum(cg * cg) AS BIGINT) AS chk_cnt_v, CAST(sum((vg % 1000003) * (vg % 1000003)) AS BIGINT) AS chk_val_v FROM vg2 GROUP BY 1), disp AS (SELECT n0.mask, n0.sz, CASE WHEN (CASE WHEN (n0.mask & p2.m2) = n0.mask THEN p2.s2 ELSE nn.n END) <= (CASE WHEN (n0.mask & p1.m1) = n0.mask THEN p1.s1 ELSE nn.n END) AND (CASE WHEN (n0.mask & p2.m2) = n0.mask THEN p2.s2 ELSE nn.n END) < nn.n THEN '3:v2' WHEN (CASE WHEN (n0.mask & p1.m1) = n0.mask THEN p1.s1 ELSE nn.n END) < nn.n THEN '2:v1' ELSE '1:base' END AS dispatch_src, least(nn.n, CASE WHEN (n0.mask & p1.m1) = n0.mask THEN p1.s1 ELSE nn.n END, CASE WHEN (n0.mask & p2.m2) = n0.mask THEN p2.s2 ELSE nn.n END) AS rows_scanned FROM nodes n0 CROSS JOIN p1 CROSS JOIN p2 CROSS JOIN nn), wb AS (SELECT CAST(sum(rows_scanned) AS BIGINT) AS workload_bill FROM disp) SELECT disp.mask, ${dimsCase.replace("mask", "disp.mask")} AS dims, dispatch_src, CAST(rows_scanned AS BIGINT) AS rows_scanned, gb.groups_b AS groups, gb.chk_cnt_b, gb.chk_val_b, CAST(CASE WHEN gb.groups_b = vb.groups_v AND gb.chk_cnt_b = vb.chk_cnt_v AND gb.chk_val_b = vb.chk_val_v THEN 1 ELSE 0 END AS BIGINT) AS node_certified, wb.workload_bill, CAST(16 * nn.n AS BIGINT) AS base_bill FROM disp JOIN gb ON gb.mask = disp.mask JOIN vb ON vb.mask = disp.mask CROSS JOIN wb CROSS JOIN nn ORDER BY disp.mask"""),
      "A/S ext: the greedy-chosen views APPLIED — the whole 16-node lattice workload dispatched to its cheapest covering view, every node certified group-level against a one-pass CUBE grader (count, sum-of-squares and modular value checksums), and the serving bill (sum of dispatched view rows) priced next to 16 corpus scans"),

    // q420 — SEMANTIC CACHING: REMAINDER PATCHING. A cached aggregate
    // is an MV with a PREDICATE: month-grain order revenue for
    // 1995–1997. A new range query is answered by SLICING the cache
    // for the overlap — legal because the cache grain (month) rolls up
    // exactly to the query grain (year) and the cached predicate range
    // CONTAINS the slice — and only the REMAINDER range touches the
    // base. Three scenarios execute: contained (patch = 0 rows — the
    // corpus is never read), partial overlap (the patch reads only
    // 1998–1999), and disjoint (the cache contributes nothing and the
    // gate degrades gracefully to a full patch). Every dispatched
    // answer is certified per-year against the direct computation
    // (full-outer compare), and saved_rows prices what the cache
    // deleted from the bill. Scale: the cache is ≤36 rows of state;
    // the patch is the only corpus touch and it carries the range
    // predicate down to the scan.
    QuerySpec(
      "q420_semantic_cache",
      (s, d) => {
        val o = t(s, d, "orders").select(
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
          .localCheckpoint(false)
        val cache = o.where(col("y").between(1995L, 1997L))
          .groupBy("y", "m").agg(count(lit(1)).as("cnt"), sum("cents").as("sc"))
          .localCheckpoint(false)
        def scen(id: String, lo: Int, hi: Int): DataFrame = {
          val cachePart = cache.where(col("y").between(lo.toLong, hi.toLong))
            .groupBy("y").agg(sum("cnt").as("v1"), sum("sc").as("v2"))
          val patchPred = s"y BETWEEN $lo AND $hi AND NOT (y BETWEEN 1995 AND 1997)"
          val patch = o.where(expr(patchPred))
            .groupBy("y").agg(count(lit(1)).as("v1"), sum("cents").as("v2"))
          val dispatched = cachePart.unionByName(patch)
          val direct = o.where(col("y").between(lo.toLong, hi.toLong))
            .groupBy("y").agg(count(lit(1)).as("v1"), sum("cents").as("v2"))
          // coalesce: on the disjoint scenario BOTH legs are empty, the
          // full-outer compare has zero rows and sum() is NULL — the
          // vacuously-equal certificate must read 1, not fold to 0.
          val eq = dispatched.select(col("y"), col("v1").as("a1"), col("v2").as("a2"))
            .join(direct.select(col("y"), col("v1").as("b1"), col("v2").as("b2")),
              Seq("y"), "full_outer")
            .agg(coalesce(sum(when(expr(
                "a1 IS NULL OR b1 IS NULL OR a1 <> b1 OR a2 <> b2"), 1L)
              .otherwise(0L)), lit(0L)).as("bad"))
            .select(expr("CAST(CASE WHEN bad = 0 THEN 1 ELSE 0 END AS BIGINT)")
              .as("equal_results"))
          val bills = cache.where(col("y").between(lo.toLong, hi.toLong))
            .agg(count(lit(1)).as("cache_rows_used"))
            .crossJoin(broadcast(o.where(expr(patchPred))
              .agg(count(lit(1)).as("patch_base_rows"))))
            .crossJoin(broadcast(o.where(col("y").between(lo.toLong, hi.toLong))
              .agg(count(lit(1)).as("direct_base_rows"))))
          val tot = direct.agg(count(lit(1)).as("years"), sum("v2").as("total_cents"))
          broadcast(eq).crossJoin(broadcast(bills)).crossJoin(broadcast(tot))
            .select(lit(id).as("scenario"),
              col("years").cast("long").as("years"),
              col("cache_rows_used").cast("long").as("cache_rows_used"),
              col("patch_base_rows").cast("long").as("patch_base_rows"),
              col("direct_base_rows").cast("long").as("direct_base_rows"),
              expr("direct_base_rows - patch_base_rows").as("saved_rows"),
              coalesce(col("total_cents"), lit(0L)).as("total_cents"),
              col("equal_results"))
        }
        scen("1:contained", 1996, 1997)
          .unionByName(scen("2:overlap", 1996, 1999))
          .unionByName(scen("3:disjoint", 2000, 2001))
          .orderBy("scenario")
      },
      Some {
        def scenSql(id: String, lo: Int, hi: Int): String = {
          val patchPred = s"y BETWEEN $lo AND $hi AND NOT (y BETWEEN 1995 AND 1997)"
          s"""SELECT '$id' AS scenario, (SELECT count(*) FROM (SELECT y FROM o WHERE y BETWEEN $lo AND $hi GROUP BY y) z) AS years, (SELECT count(*) FROM cache WHERE y BETWEEN $lo AND $hi) AS cache_rows_used, (SELECT count(*) FROM o WHERE $patchPred) AS patch_base_rows, (SELECT count(*) FROM o WHERE y BETWEEN $lo AND $hi) AS direct_base_rows, (SELECT coalesce(sum(cents), 0) FROM o WHERE y BETWEEN $lo AND $hi) AS total_cents, (SELECT CASE WHEN coalesce(sum(CASE WHEN a.v1 IS NULL OR b.v1 IS NULL OR a.v1 <> b.v1 OR a.v2 <> b.v2 THEN 1 ELSE 0 END), 0) = 0 THEN 1 ELSE 0 END FROM (SELECT y, sum(cnt) AS v1, sum(sc) AS v2 FROM cache WHERE y BETWEEN $lo AND $hi GROUP BY y UNION ALL SELECT y, count(*) AS v1, sum(cents) AS v2 FROM o WHERE $patchPred GROUP BY y) a FULL JOIN (SELECT y, count(*) AS v1, sum(cents) AS v2 FROM o WHERE y BETWEEN $lo AND $hi GROUP BY y) b ON a.y = b.y) AS equal_results"""
        }
        s"""WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents FROM orders), cache AS (SELECT y, m, count(*) AS cnt, sum(cents) AS sc FROM o WHERE y BETWEEN 1995 AND 1997 GROUP BY y, m), legs AS (${scenSql("1:contained", 1996, 1997)} UNION ALL ${scenSql("2:overlap", 1996, 1999)} UNION ALL ${scenSql("3:disjoint", 2000, 2001)}) SELECT scenario, CAST(years AS BIGINT) AS years, CAST(cache_rows_used AS BIGINT) AS cache_rows_used, CAST(patch_base_rows AS BIGINT) AS patch_base_rows, CAST(direct_base_rows AS BIGINT) AS direct_base_rows, CAST(direct_base_rows - patch_base_rows AS BIGINT) AS saved_rows, CAST(total_cents AS BIGINT) AS total_cents, CAST(equal_results AS BIGINT) AS equal_results FROM legs ORDER BY scenario"""
      },
      "A/S ext: semantic caching via remainder patching — a month-grain cached aggregate answers the overlap of each new range query and only the remainder touches the base; contained (zero corpus rows), partial-overlap and disjoint scenarios all certified per-year against the direct computation, saved_rows pricing what the cache deleted from the bill"))
}

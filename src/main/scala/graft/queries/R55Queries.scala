package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql}

/** Round-11 third widening — distinct-set sketches and the correlation
  * blind spot:
  *
  *  - q394 builds per-segment KMV (k-minimum-values) sketches of the
  *    distinct-customer sets and answers UNION / INTERSECTION
  *    cardinalities from sketches alone, certifying the exact merge
  *    identity (union of sketches == sketch of the union — the property
  *    that makes KMV a one-pass mergeable ANALYZE primitive) and
  *    grading both intersection estimators against exact;
  *  - q395 measures the INDEPENDENCE ASSUMPTION failing on a natural
  *    functional dependency (month ⊂ quarter of o_orderdate — the date
  *    dimension every warehouse has): 4x underestimates on consistent
  *    boxes and phantom rows on contradictory ones, repaired by an
  *    FD-aware rule (q354's mined dependency put to CBO work) at a
  *    fraction of the 2-D grid's state;
  *  - q396 EXECUTES the decision that underestimate corrupts: the
  *    build-side (broadcast) choice between two filtered inputs —
  *    independence picks the correlated side (priced 4x too small,
  *    the classic broadcast-OOM incident), the FD-aware stats pick the
  *    truly smaller side, certified against exact.
  */
object R55Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q394 — KMV SET-OPERATION SKETCHES: "how many distinct customers
    // in month A ∪ B / A ∩ B" without re-scanning either month — the
    // question segment overlap, audience union and incremental-ANALYZE
    // all reduce to. Per month the sketch is the k = 32 smallest 40-bit
    // md5 values of the distinct customer set (one keyed pass + a
    // bounded window); ndv ≈ (k−1)·2^40 / θ_k (public KMV estimator).
    // The structural claim is MERGEABILITY, certified exactly: the 32
    // smallest of (sketch_A ∪ sketch_B, values deduped) equal the 32
    // smallest of the rebuilt hash-space union — merge == rebuild with
    // no approximation, because the union's minima are necessarily
    // inside either side's minima. Set sizes: est_union from the merged
    // θ; intersection BOTH public ways — inclusion–exclusion (clamped
    // at 0: it can go negative under noise, which is its documented
    // weakness) and the ρ-method (matches among the union sketch's k
    // values that sit in both sketches, scaled by est_union) — each
    // graded against exact. Measured: union/ndv q-errors ≤ 1.34 at
    // every SF (the 1/sqrt(k−2) ≈ 18% band); on THESE heavy overlaps
    // (∩ ≈ 40% of ∪) inclusion–exclusion wins the grade — its real
    // weakness is the small-intersection regime where it goes negative
    // (hence the clamp), the regime ρ exists for. Scale: sketches are
    // 32-value mergeable state per segment; any segment-combination
    // cardinality is answered from state; only the grader re-touches
    // the corpus.
    QuerySpec(
      "q394_kmv_setops",
      (s, d) => {
        val mc = t(s, d, "orders")
          .select(month(col("o_orderdate")).cast("long").as("m"),
            col("o_custkey").as("c"))
          .distinct().localCheckpoint(true) // eager: consumed by concurrent legs below
        val hv = mc.select(col("m"), col("c"),
          md5Long(concat(lit("kmv:"), col("c").cast("string")), 10).as("hv"))
        // rk/nd build concurrently (independent below the STORED mc) and
        // are eager: the three pair legs consume them from parallel
        // threads, and a lazy checkpoint's final stage would be
        // recomputed (and raced) by each first concurrent consumer
        // Par pays: q394 runs 1.05 s, 1.19 s with both Par sites in order (sf0.1, local[4], median)
        val (rk, nd) = graft.Par.par2(
          hv.withColumn("r", row_number().over(
              Window.partitionBy("m").orderBy("hv")))
            .where(col("r") <= 32).select("m", "hv").localCheckpoint(true),
          mc.groupBy("m").agg(count(lit(1)).as("nd")).localCheckpoint(true))
        // a sketch is exactly 32 rows, so theta is its max — and every
        // top-32 is a TakeOrdered (orderBy + limit), never a global
        // window: the rebuild legs scan ndv-sized sets and a
        // partition-by-nothing window there is the single worst
        // scale-up operator (PlanShapeSpec's global-window audit)
        def estOf(sk: DataFrame, name: String): DataFrame =
          sk.agg(expr("31 * 1099511627776 div max(hv)").as(name))
        def leg(pid: Long, a: Int, b: Int): DataFrame = {
          val skA = rk.where(col("m") === a).select("hv")
          val skB = rk.where(col("m") === b).select("hv")
          val merged = skA.unionByName(skB).distinct()
            .orderBy("hv").limit(32).localCheckpoint(false)
          val rebuilt = mc.where(col("m").isin(a, b)).select("c").distinct()
            .select(md5Long(concat(lit("kmv:"), col("c").cast("string")), 10).as("hv")).distinct()
            .orderBy("hv").limit(32)
          val mergeOk = merged.join(rebuilt, Seq("hv"), "full_outer")
            .agg(sum(when(col("hv").isNull, 1L).otherwise(0L)).as("miss"),
              count(lit(1)).as("tot"))
            .select(expr("CAST(CASE WHEN miss = 0 AND tot = 32 THEN 1 ELSE 0 END AS BIGINT)")
              .as("merge_ok"))
          val matches = merged.join(skA, "hv").join(skB, "hv")
            .agg(count(lit(1)).as("matches"))
          val exact = mc.where(col("m").isin(a, b))
            .groupBy("c").agg(countDistinct("m").as("nm"))
            .agg(count(lit(1)).as("exact_union"),
              sum(when(col("nm") === 2L, 1L).otherwise(0L)).as("exact_inter"))
          val one = estOf(skA, "est_a").crossJoin(broadcast(estOf(skB, "est_b")))
            .crossJoin(broadcast(estOf(merged, "est_union")))
            .crossJoin(broadcast(nd.where(col("m") === a).select(col("nd").as("nd_a"))))
            .crossJoin(broadcast(nd.where(col("m") === b).select(col("nd").as("nd_b"))))
            .crossJoin(broadcast(matches)).crossJoin(broadcast(exact))
            .crossJoin(broadcast(mergeOk))
          one.select(lit(pid).as("pair_id"),
            lit(f"m$a%02d_m$b%02d").as("pair"),
            col("est_a"), col("nd_a"), col("est_b"), col("nd_b"),
            col("est_union"), col("exact_union"),
            expr("greatest(est_union * 10000 div greatest(exact_union, 1), exact_union * 10000 div greatest(est_union, 1))")
              .as("qerr_union_bp"),
            col("matches"),
            expr("greatest(0, est_a + est_b - est_union)").as("est_inter_ie"),
            expr("matches * est_union div 32").as("est_inter_rho"),
            col("exact_inter"),
            expr("greatest(greatest(0, est_a + est_b - est_union) * 10000 div greatest(exact_inter, 1), exact_inter * 10000 div greatest(greatest(0, est_a + est_b - est_union), 1))")
              .as("qerr_ie_bp"),
            expr("greatest((matches * est_union div 32) * 10000 div greatest(exact_inter, 1), exact_inter * 10000 div greatest(matches * est_union div 32, 1))")
              .as("qerr_rho_bp"),
            col("merge_ok"), lit(64L).as("state_units"))
        }
        // Par pays: q394 runs 1.05 s, 1.19 s with both Par sites in order (sf0.1, local[4], median)
        graft.Par(() => leg(1L, 1, 2), () => leg(2L, 6, 7), () => leg(3L, 11, 12))
          .reduce(_ unionByName _)
          .orderBy("pair_id")
      },
      Some {
        def legSql(pid: Int, a: Int, b: Int): String =
          s"""l$pid AS (
            WITH ska AS (SELECT hv FROM rk WHERE m = $a AND r <= 32),
            skb AS (SELECT hv FROM rk WHERE m = $b AND r <= 32),
            mg AS (SELECT hv FROM (SELECT DISTINCT hv FROM (SELECT hv FROM ska UNION ALL SELECT hv FROM skb) u) du ORDER BY hv LIMIT 32),
            rb AS (SELECT hv FROM (SELECT DISTINCT ${md5LongSql("'kmv:' || CAST(c AS VARCHAR)", 10)} AS hv FROM mc WHERE m IN ($a, $b)) du ORDER BY hv LIMIT 32),
            mok AS (SELECT CASE WHEN sum(CASE WHEN mg.hv IS NULL OR rb.hv IS NULL THEN 1 ELSE 0 END) = 0 AND count(*) = 32 THEN 1 ELSE 0 END AS merge_ok FROM mg FULL OUTER JOIN rb ON rb.hv = mg.hv),
            ea AS (SELECT 31 * 1099511627776 // max(hv) AS est_a FROM ska),
            eb AS (SELECT 31 * 1099511627776 // max(hv) AS est_b FROM skb),
            eu AS (SELECT 31 * 1099511627776 // max(hv) AS est_union FROM mg),
            mt AS (SELECT count(*) AS matches FROM mg JOIN ska ON ska.hv = mg.hv JOIN skb ON skb.hv = mg.hv),
            ex AS (SELECT count(*) AS exact_union, sum(CASE WHEN nm = 2 THEN 1 ELSE 0 END) AS exact_inter FROM (SELECT c, count(DISTINCT m) AS nm FROM mc WHERE m IN ($a, $b) GROUP BY 1) g)
            SELECT $pid AS pair_id, 'm${"%02d".format(a)}_m${"%02d".format(b)}' AS pair, est_a, (SELECT nd FROM nd WHERE m = $a) AS nd_a, est_b, (SELECT nd FROM nd WHERE m = $b) AS nd_b, est_union, exact_union, matches, exact_inter, merge_ok
            FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN mt CROSS JOIN ex CROSS JOIN mok)"""
        s"""WITH mc AS (SELECT DISTINCT CAST(month(o_orderdate) AS BIGINT) AS m, o_custkey AS c FROM orders), rk AS (SELECT m, hv, row_number() OVER (PARTITION BY m ORDER BY hv) AS r FROM (SELECT m, ${md5LongSql("'kmv:' || CAST(c AS VARCHAR)", 10)} AS hv FROM mc) h), nd AS (SELECT m, count(*) AS nd FROM mc GROUP BY 1), ${legSql(1, 1, 2)}, ${legSql(2, 6, 7)}, ${legSql(3, 11, 12)}, u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3) SELECT CAST(pair_id AS BIGINT) AS pair_id, pair, CAST(est_a AS BIGINT) AS est_a, CAST(nd_a AS BIGINT) AS nd_a, CAST(est_b AS BIGINT) AS est_b, CAST(nd_b AS BIGINT) AS nd_b, CAST(est_union AS BIGINT) AS est_union, CAST(exact_union AS BIGINT) AS exact_union, CAST(greatest(est_union * 10000 // greatest(exact_union, 1), exact_union * 10000 // greatest(est_union, 1)) AS BIGINT) AS qerr_union_bp, CAST(matches AS BIGINT) AS matches, CAST(greatest(0, est_a + est_b - est_union) AS BIGINT) AS est_inter_ie, CAST(matches * est_union // 32 AS BIGINT) AS est_inter_rho, CAST(exact_inter AS BIGINT) AS exact_inter, CAST(greatest(greatest(0, est_a + est_b - est_union) * 10000 // greatest(exact_inter, 1), exact_inter * 10000 // greatest(greatest(0, est_a + est_b - est_union), 1)) AS BIGINT) AS qerr_ie_bp, CAST(greatest((matches * est_union // 32) * 10000 // greatest(exact_inter, 1), exact_inter * 10000 // greatest(matches * est_union // 32, 1)) AS BIGINT) AS qerr_rho_bp, CAST(merge_ok AS BIGINT) AS merge_ok, CAST(64 AS BIGINT) AS state_units FROM u ORDER BY pair_id"""
      },
      "A/S ext: KMV set-operation sketches — 32-minima distinct-customer sketches per month, union/intersection cardinalities answered from sketches alone; merge == rebuild certified EXACTLY (the mergeable-ANALYZE property), inclusion-exclusion vs rho intersection estimators graded against exact"),

    // q395 — THE INDEPENDENCE ASSUMPTION ON A NATURAL FD: every
    // warehouse carries month and quarter columns, month DETERMINES
    // quarter (q341/q354 mine exactly this dependency class), and a
    // correlation-blind CBO multiplies their selectivities anyway. The
    // battery prices four predicate boxes three ways from ANALYZE-grade
    // state: independence (two exact frequency tables, 16 entries —
    // and STILL wrong, because the failure is the multiplication, not
    // the stats), the FD-AWARE rule (the mined month→quarter map: a
    // consistent box collapses to the month predicate alone, a
    // contradictory box to zero — 28 entries), and the 2-D joint grid
    // (48 cells — exact here, the brute-force repair whose state cost
    // is |A|×|B| and explodes on real domains). Measured: independence
    // underestimates every consistent box 4x (qerr 40000 bp) and
    // invents PHANTOM rows on the contradictory box (est > 0, act = 0
    // — a plan shaped around a stream that does not exist); the FD rule
    // matches the grid exactly at 58% of its state. Scale: one
    // 48-cell keyed pass builds every stat; the battery is arithmetic.
    QuerySpec(
      "q395_fd_selectivity",
      (s, d) => {
        val o = t(s, d, "orders").select(
          month(col("o_orderdate")).cast("long").as("m"),
          quarter(col("o_orderdate")).cast("long").as("qr"))
        val grid = o.groupBy("m", "qr").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(false)
        val n = grid.agg(sum("cnt").as("n"))
        val fm = grid.groupBy("m").agg(sum("cnt").as("fm"))
        val fq = grid.groupBy("qr").agg(sum("cnt").as("fq"))
        val fdm = grid.groupBy("m").agg(min("qr").as("qr_of"),
          countDistinct("qr").as("nqr"))
        val fdOk = fdm.agg(
          expr("CAST(CASE WHEN max(nqr) = 1 THEN 1 ELSE 0 END AS BIGINT)").as("fd_holds"))
        val boxes = Seq((1L, "m=3 AND qr=1 (consistent)", 3L, 3L, 1L),
          (2L, "m=3 AND qr=2 (contradiction)", 3L, 3L, 2L),
          (3L, "m IN 1..3 AND qr=1 (range)", 1L, 3L, 1L),
          (4L, "m=7 AND qr=3 (consistent)", 7L, 7L, 3L))
        boxes.map { case (id, descr, mLo, mHi, qrEq) =>
          val act = grid.where(col("m").between(mLo, mHi) && col("qr") === qrEq)
            .agg(coalesce(sum("cnt"), lit(0L)).as("act_rows"))
          val selM = fm.where(col("m").between(mLo, mHi))
            .agg(coalesce(sum("fm"), lit(0L)).as("f_m"))
          val selQ = fq.where(col("qr") === qrEq)
            .agg(coalesce(sum("fq"), lit(0L)).as("f_q"))
          val fd = fdm.where(col("m").between(mLo, mHi) && col("qr_of") === qrEq)
            .join(fm, "m")
            .agg(coalesce(sum("fm"), lit(0L)).as("est_fd"))
          act.crossJoin(broadcast(selM)).crossJoin(broadcast(selQ))
            .crossJoin(broadcast(fd)).crossJoin(broadcast(n))
            .crossJoin(broadcast(fdOk))
            .select(lit(id).as("box_id"), lit(descr).as("descr"),
              col("act_rows"),
              expr("f_m * f_q div n").as("est_indep"),
              col("est_fd"), col("act_rows").as("est_grid"),
              expr("greatest((f_m * f_q div n) * 10000 div greatest(act_rows, 1), act_rows * 10000 div greatest(f_m * f_q div n, 1))")
                .as("qerr_indep_bp"),
              expr("greatest(est_fd * 10000 div greatest(act_rows, 1), act_rows * 10000 div greatest(est_fd, 1))")
                .as("qerr_fd_bp"),
              lit(10000L).as("qerr_grid_bp"),
              expr("CAST(CASE WHEN f_m * f_q div n > 0 AND act_rows = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("phantom_indep"),
              col("fd_holds"),
              lit(16L).as("state_indep"), lit(28L).as("state_fd"),
              lit(48L).as("state_grid"))
        }.reduce(_ unionByName _).orderBy("box_id")
      },
      Some {
        val boxes = Seq((1, "m=3 AND qr=1 (consistent)", 3, 3, 1),
          (2, "m=3 AND qr=2 (contradiction)", 3, 3, 2),
          (3, "m IN 1..3 AND qr=1 (range)", 1, 3, 1),
          (4, "m=7 AND qr=3 (consistent)", 7, 7, 3))
        val legs = boxes.map { case (id, descr, mLo, mHi, qrEq) =>
          s"""SELECT $id AS box_id, '$descr' AS descr,
            (SELECT coalesce(sum(cnt), 0) FROM grid WHERE m BETWEEN $mLo AND $mHi AND qr = $qrEq) AS act_rows,
            (SELECT coalesce(sum(fm), 0) FROM fm WHERE m BETWEEN $mLo AND $mHi) AS f_m,
            (SELECT coalesce(sum(fq), 0) FROM fq WHERE qr = $qrEq) AS f_q,
            (SELECT coalesce(sum(f.fm), 0) FROM fdm JOIN fm f ON f.m = fdm.m WHERE fdm.m BETWEEN $mLo AND $mHi AND fdm.qr_of = $qrEq) AS est_fd"""
        }.mkString(" UNION ALL ")
        s"""WITH o AS (SELECT CAST(month(o_orderdate) AS BIGINT) AS m, CAST(quarter(o_orderdate) AS BIGINT) AS qr FROM orders), grid AS (SELECT m, qr, count(*) AS cnt FROM o GROUP BY 1, 2), n AS (SELECT sum(cnt) AS n FROM grid), fm AS (SELECT m, sum(cnt) AS fm FROM grid GROUP BY 1), fq AS (SELECT qr, sum(cnt) AS fq FROM grid GROUP BY 1), fdm AS (SELECT m, min(qr) AS qr_of, count(DISTINCT qr) AS nqr FROM grid GROUP BY 1), fdok AS (SELECT CASE WHEN max(nqr) = 1 THEN 1 ELSE 0 END AS fd_holds FROM fdm), legs AS ($legs) SELECT CAST(box_id AS BIGINT) AS box_id, descr, CAST(act_rows AS BIGINT) AS act_rows, CAST(f_m * f_q // n AS BIGINT) AS est_indep, CAST(est_fd AS BIGINT) AS est_fd, CAST(act_rows AS BIGINT) AS est_grid, CAST(greatest((f_m * f_q // n) * 10000 // greatest(act_rows, 1), act_rows * 10000 // greatest(f_m * f_q // n, 1)) AS BIGINT) AS qerr_indep_bp, CAST(greatest(est_fd * 10000 // greatest(act_rows, 1), act_rows * 10000 // greatest(est_fd, 1)) AS BIGINT) AS qerr_fd_bp, CAST(10000 AS BIGINT) AS qerr_grid_bp, CAST(CASE WHEN f_m * f_q // n > 0 AND act_rows = 0 THEN 1 ELSE 0 END AS BIGINT) AS phantom_indep, CAST((SELECT fd_holds FROM fdok) AS BIGINT) AS fd_holds, CAST(16 AS BIGINT) AS state_indep, CAST(28 AS BIGINT) AS state_fd, CAST(48 AS BIGINT) AS state_grid FROM legs CROSS JOIN n ORDER BY box_id"""
      },
      "A/J ext: independence-assumption failure on the natural month->quarter FD — four predicate boxes priced by independence (4x under on every consistent box, PHANTOM rows on the contradiction), by the FD-aware rule (exact, 28 state entries), and by the 2-D joint grid (exact, 48 cells); the mined q354 dependency put to CBO work"),

    // q396 — BUILD-SIDE CHOOSER UNDER CORRELATION, THE FLIP CERTIFIED:
    // the decision q395's underestimate actually corrupts. Two
    // candidate build (broadcast) sides for a customer join: X =
    // orders filtered by the CORRELATED pair (month=3 AND quarter=1),
    // Y = orders filtered by a genuinely independent pair
    // (priority = 1-URGENT AND totalprice ≥ the 75% range cut, priced
    // from the exact 5-value frequency table × the q343 16-bucket
    // histogram). A size-based planner broadcasts the smaller side.
    // Under independence X prices at n/48 — HALF of Y's honest n/20 —
    // so the planner broadcasts X; in truth X is n/12, 1.6x BIGGER
    // than Y: the broadcast lands 4x over its priced bytes (the
    // classic driver/executor OOM incident, at 100 TB a killed job).
    // The FD-aware stats from q395 price X exactly and flip the choice
    // back to Y. All three estimators' choices are certified against
    // exact; the flip (indep wrong, fd right) is the pinned finding at
    // every SF. Scale: two frequency tables + one histogram + the
    // 48-cell grid — no data-row joins; the graders are two counts.
    QuerySpec(
      "q396_build_side_flip",
      (s, d) => {
        val o = t(s, d, "orders").select(
          month(col("o_orderdate")).cast("long").as("m"),
          quarter(col("o_orderdate")).cast("long").as("qr"),
          col("o_orderpriority").as("pri"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
          .localCheckpoint(false)
        val n = o.agg(count(lit(1)).as("n"))
        val fm3 = o.where(col("m") === 3).agg(count(lit(1)).as("f_m3"))
        val fq1 = o.where(col("qr") === 1).agg(count(lit(1)).as("f_q1"))
        val fpri = o.where(col("pri") === "1-URGENT").agg(count(lit(1)).as("f_pri"))
        val mx = o.agg(min("v").as("vmin"), max("v").as("vmax"),
          expr("max(v) - min(v) + 1").as("w"))
        val hb = o.crossJoin(broadcast(mx))
          .groupBy(expr("least(15, (v - vmin) * 16 div w)").as("b"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(mx))
          .select(col("cnt"),
            expr("vmin + b * w div 16").as("blo"),
            expr("vmin + (b + 1) * w div 16 - 1").as("bhi"))
        val cut = broadcast(mx).selectExpr(
          "vmin + (vmax - vmin) * 3 div 4 AS lo", "vmax AS hi")
        val estPrice = cut.join(broadcast(hb), expr("bhi >= lo AND blo <= hi"), "left")
          .agg(coalesce(sum(expr(
            "(cnt * greatest(0, least(hi, bhi) - greatest(lo, blo) + 1) * 1000000) div (bhi - blo + 1)")),
            lit(0L)).as("em"))
          .select(expr("em div 1000000").as("est_price"))
        val actX = o.where(expr("m = 3 AND qr = 1")).agg(count(lit(1)).as("act_x"))
        val actY = o.crossJoin(broadcast(cut))
          .where(expr("pri = '1-URGENT' AND v >= lo"))
          .agg(count(lit(1)).as("act_y"))
        val base = n.crossJoin(broadcast(fm3)).crossJoin(broadcast(fq1))
          .crossJoin(broadcast(fpri)).crossJoin(broadcast(estPrice))
          .crossJoin(broadcast(actX)).crossJoin(broadcast(actY))
          .select(col("n"), col("act_x"), col("act_y"),
            expr("f_m3 * f_q1 div n").as("ind_x"),
            col("f_m3").as("fd_x"),
            expr("f_pri * est_price div n").as("est_y"))
        base.select(explode(array(
            struct(lit("1:independence").as("estimator"),
              col("ind_x").as("est_x"), col("est_y")),
            struct(lit("2:fd_aware").as("estimator"),
              col("fd_x").as("est_x"), col("est_y")),
            struct(lit("3:exact").as("estimator"),
              col("act_x").as("est_x"), col("act_y").as("est_y")))).as("z"),
            col("act_x"), col("act_y"))
          .select(col("z.estimator").as("estimator"),
            col("z.est_x").as("est_x"), col("z.est_y").as("est_y"),
            col("act_x"), col("act_y"),
            expr("CASE WHEN z.est_x <= z.est_y THEN 'X:orders_m3q1' ELSE 'Y:orders_urgent_p75' END")
              .as("build_side"),
            expr("CAST(CASE WHEN (z.est_x <= z.est_y) = (act_x <= act_y) THEN 1 ELSE 0 END AS BIGINT)")
              .as("correct_vs_exact"),
            expr("act_x * 10000 div greatest(z.est_x, 1)").as("x_underest_bp"))
          .orderBy("estimator")
      },
      Some(
        """WITH o AS (SELECT CAST(month(o_orderdate) AS BIGINT) AS m, CAST(quarter(o_orderdate) AS BIGINT) AS qr, o_orderpriority AS pri, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), n AS (SELECT count(*) AS n FROM o), fm3 AS (SELECT count(*) AS f_m3 FROM o WHERE m = 3), fq1 AS (SELECT count(*) AS f_q1 FROM o WHERE qr = 1), fpri AS (SELECT count(*) AS f_pri FROM o WHERE pri = '1-URGENT'), mx AS (SELECT min(v) AS vmin, max(v) AS vmax, max(v) - min(v) + 1 AS w FROM o), hb AS (SELECT cnt, vmin + b * w // 16 AS blo, vmin + (b + 1) * w // 16 - 1 AS bhi FROM (SELECT least(15, (v - vmin) * 16 // w) AS b, count(*) AS cnt FROM o CROSS JOIN mx GROUP BY 1) h CROSS JOIN mx), cut AS (SELECT vmin + (vmax - vmin) * 3 // 4 AS lo, vmax AS hi FROM mx), ep AS (SELECT coalesce(sum((hb.cnt * greatest(0, least(c.hi, hb.bhi) - greatest(c.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)), 0) // 1000000 AS est_price FROM cut c LEFT JOIN hb ON hb.bhi >= c.lo AND hb.blo <= c.hi), ax AS (SELECT count(*) AS act_x FROM o WHERE m = 3 AND qr = 1), ay AS (SELECT count(*) AS act_y FROM o CROSS JOIN cut WHERE pri = '1-URGENT' AND v >= lo), base AS (SELECT n.n, act_x, act_y, f_m3 * f_q1 // n.n AS ind_x, f_m3 AS fd_x, f_pri * est_price // n.n AS est_y FROM n CROSS JOIN fm3 CROSS JOIN fq1 CROSS JOIN fpri CROSS JOIN ep CROSS JOIN ax CROSS JOIN ay), legs AS (SELECT '1:independence' AS estimator, ind_x AS est_x, est_y, act_x, act_y FROM base UNION ALL SELECT '2:fd_aware', fd_x, est_y, act_x, act_y FROM base UNION ALL SELECT '3:exact', act_x, act_y, act_x, act_y FROM base) SELECT estimator, CAST(est_x AS BIGINT) AS est_x, CAST(est_y AS BIGINT) AS est_y, CAST(act_x AS BIGINT) AS act_x, CAST(act_y AS BIGINT) AS act_y, CASE WHEN est_x <= est_y THEN 'X:orders_m3q1' ELSE 'Y:orders_urgent_p75' END AS build_side, CAST(CASE WHEN (est_x <= est_y) = (act_x <= act_y) THEN 1 ELSE 0 END AS BIGINT) AS correct_vs_exact, CAST(act_x * 10000 // greatest(est_x, 1) AS BIGINT) AS x_underest_bp FROM legs ORDER BY estimator"""),
      "A/J ext: build-side chooser under correlation — independence prices the month/quarter side at n/48 and broadcasts it; in truth it is n/12, 1.6x the honest alternative (the 4x-over-priced-bytes broadcast-OOM shape); the FD-aware stats flip the choice back, all three certified against exact"),

    // q397 — INCREMENTAL ANALYZE VIA KMV MERGE, EXECUTED: the pipeline
    // q394's mergeability exists for. Twelve ingest steps (months
    // arriving in order); after each, the global distinct-customer NDV
    // is updated by MERGING the retained 32-value state with the new
    // month's sketch — O(k) work — instead of rescanning the growing
    // prefix. Certified per step, both ways: merge_ok proves the merged
    // state IS the rebuilt prefix sketch (the q394 identity, now
    // holding INDUCTIVELY along the whole chain — state_j correct
    // because state_{j-1} was), and the estimate it yields is graded
    // against the exact prefix NDV. The measured curve is the honest
    // saturation story: the customer universe caps out (150 / 15000 by
    // month ~8), the sketch tracks it inside the k = 32 band at every
    // step, and rescan_rows_saved grows with the prefix — exactly the
    // scan an incremental ANALYZE avoids, which at 100 TB is the whole
    // point. Scale: production state is 32 values and each step is an
    // O(k) merge; the per-step prefix rebuilds here are the GRADER
    // (the certification cost, q385's convention), not the operator.
    QuerySpec(
      "q397_kmv_incremental",
      (s, d) => {
        val mc = t(s, d, "orders")
          .select(month(col("o_orderdate")).cast("long").as("m"),
            col("o_custkey").as("c"))
          .distinct()
        val hv = mc.select(col("m"),
            md5Long(concat(lit("kmv:"), col("c").cast("string")), 10).as("hv"))
          .distinct()
        // grader fusion (the r11 bench pass): all 12 exact prefix NDVs
        // come from ONE first-seen pass (a customer counts at its min
        // month; cumulating new-customer counts IS countDistinct per
        // prefix), and all 24 row counts from one per-month count —
        // instead of 12 countDistinct shuffles + 24 scans. The sketch
        // legs read the per-hv min-month table (hvm), so each prefix
        // top-32 is a TakeOrdered over the deduped ndv-sized set — and
        // never a global window, the single worst scale-up operator.
        val hvm = hv.groupBy("hv").agg(min("m").as("fm"))
        val fsc = mc.groupBy("c").agg(min("m").as("fm"))
          .groupBy("fm").agg(count(lit(1)).as("newc"))
        val mrows = mc.groupBy("m").agg(count(lit(1)).as("mr"))
        val steps = s.range(1, 13).toDF("step")
        val exTbl = steps.crossJoin(broadcast(fsc)).groupBy("step")
          .agg(sum(when(col("fm") <= col("step"), col("newc")).otherwise(0L))
            .as("exact_ndv"))
        val rowTbl = steps.crossJoin(broadcast(mrows)).groupBy("step")
          .agg(sum(when(col("m") < col("step"), col("mr")).otherwise(0L))
            .as("prefix_rows"),
            sum(when(col("m") === col("step"), col("mr")).otherwise(0L))
              .as("month_rows"))
        // All 12 legs fused into three ≤(12·32)-row window passes (the
        // q404 chain applied here — was 12 separate TakeOrdered legs,
        // each with its own checkpoint and per-leg full-outer join):
        //  - skPAll: every prefix rebuild top-32 from the per-first-month
        //    top-32s (containment: a prefix's 32 minima are among its own
        //    months' 32 minima), one step-partitioned window;
        //  - skMAll: every month sketch from one m-partitioned window;
        //  - mergedAll: merged_j = top32(distinct(skP_{j-1} ∪ skM_j))
        //    (merged_1 = skM_1 — step 1 has no prefix contribution),
        //    one step-partitioned window over the shifted union.
        // merge_ok and est_ndv then read tiny keyed frames; the certified
        // outputs are value-identical to the per-leg shape.
        import org.apache.spark.sql.expressions.Window
        val hvm32 = hvm.withColumn("rb",
            row_number().over(Window.partitionBy("fm").orderBy("hv")))
          .where(col("rb") <= 32).select("hv", "fm")
        val skPAll = steps.join(broadcast(hvm32), col("fm") <= col("step"))
          .withColumn("r", row_number().over(
            Window.partitionBy("step").orderBy("hv")))
          .where(col("r") <= 32).select("step", "hv")
        val skMAll = hv.withColumn("r",
            row_number().over(Window.partitionBy("m").orderBy("hv")))
          .where(col("r") <= 32).select(col("m").as("step"), col("hv"))
        val mergedAll = skPAll
          .select((col("step") + 1L).as("step"), col("hv"))
          .where(col("step") <= 12L)
          .unionByName(skMAll)
          .distinct()
          .withColumn("r", row_number().over(
            Window.partitionBy("step").orderBy("hv")))
          .where(col("r") <= 32).select("step", "hv")
        val mergeOk = mergedAll.select(col("step"), col("hv"), lit(1L).as("in_m"))
          .join(skPAll.select(col("step"), col("hv"), lit(1L).as("in_p")),
            Seq("step", "hv"), "full_outer")
          .groupBy("step")
          .agg(sum(when(col("in_m").isNull || col("in_p").isNull, 1L)
            .otherwise(0L)).as("miss"), count(lit(1)).as("tot"))
          .select(col("step"),
            expr("CAST(CASE WHEN miss = 0 AND tot = 32 THEN 1 ELSE 0 END AS BIGINT)")
              .as("merge_ok"))
        val estAll = mergedAll.groupBy("step")
          .agg(expr("31 * 1099511627776 div max(hv)").as("est_ndv"))
        estAll.join(mergeOk, "step")
          .join(broadcast(exTbl), "step").join(broadcast(rowTbl), "step")
          .select(col("step"), col("month_rows"), col("est_ndv"), col("exact_ndv"),
            expr("greatest(est_ndv * 10000 div greatest(exact_ndv, 1), exact_ndv * 10000 div greatest(est_ndv, 1))")
              .as("qerr_bp"),
            col("merge_ok"),
            col("prefix_rows").as("rescan_rows_saved"),
            lit(32L).as("state_units"))
          .orderBy("step")
      },
      Some {
        def skSql(cte: String, cond: String): String =
          s"$cte AS (SELECT hv FROM (SELECT DISTINCT hv FROM hvt WHERE $cond) z ORDER BY hv LIMIT 32)"
        def legSql(j: Int): String = {
          val mergedSrc =
            if (j == 1) s"SELECT hv FROM (SELECT DISTINCT hv FROM hvt WHERE m = 1) z ORDER BY hv LIMIT 32"
            else s"""SELECT hv FROM (
              SELECT DISTINCT hv FROM (
                (SELECT hv FROM (SELECT DISTINCT hv FROM hvt WHERE m <= ${j - 1}) a ORDER BY hv LIMIT 32)
                UNION ALL
                (SELECT hv FROM (SELECT DISTINCT hv FROM hvt WHERE m = $j) c ORDER BY hv LIMIT 32)) u) z ORDER BY hv LIMIT 32"""
          s"""l$j AS (
            WITH mg AS ($mergedSrc),
            ${skSql("rb", s"m <= $j")},
            mok AS (SELECT CASE WHEN sum(CASE WHEN mg.hv IS NULL OR rb.hv IS NULL THEN 1 ELSE 0 END) = 0 AND count(*) = 32 THEN 1 ELSE 0 END AS merge_ok FROM mg FULL OUTER JOIN rb ON rb.hv = mg.hv),
            es AS (SELECT 31 * 1099511627776 // max(hv) AS est_ndv FROM mg),
            ex AS (SELECT count(DISTINCT c) AS exact_ndv FROM mc WHERE m <= $j),
            sv AS (SELECT (SELECT count(*) FROM mc WHERE m <= ${j - 1}) AS prefix_rows, (SELECT count(*) FROM mc WHERE m = $j) AS month_rows)
            SELECT $j AS step, month_rows, est_ndv, exact_ndv, merge_ok, prefix_rows FROM es CROSS JOIN ex CROSS JOIN mok CROSS JOIN sv)"""
        }
        val legs = (1 to 12).map(legSql).mkString(", ")
        val union = (1 to 12).map(j => s"SELECT * FROM l$j").mkString(" UNION ALL ")
        s"""WITH mc AS (SELECT DISTINCT CAST(month(o_orderdate) AS BIGINT) AS m, o_custkey AS c FROM orders), hvt AS (SELECT DISTINCT m, ${md5LongSql("'kmv:' || CAST(c AS VARCHAR)", 10)} AS hv FROM mc), $legs, u AS ($union) SELECT CAST(step AS BIGINT) AS step, CAST(month_rows AS BIGINT) AS month_rows, CAST(est_ndv AS BIGINT) AS est_ndv, CAST(exact_ndv AS BIGINT) AS exact_ndv, CAST(greatest(est_ndv * 10000 // greatest(exact_ndv, 1), exact_ndv * 10000 // greatest(est_ndv, 1)) AS BIGINT) AS qerr_bp, CAST(merge_ok AS BIGINT) AS merge_ok, CAST(prefix_rows AS BIGINT) AS rescan_rows_saved, CAST(32 AS BIGINT) AS state_units FROM u ORDER BY step"""
      },
      "A/S ext: incremental ANALYZE via KMV merge EXECUTED — 12 ingest steps, each updating the global distinct-customer NDV by an O(k) sketch merge; merge == rebuild certified inductively along the whole chain, estimates graded against exact prefix NDV through saturation, rescan_rows_saved = the scan the merge avoids"))
}

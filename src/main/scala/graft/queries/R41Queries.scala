package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-8 ninth widening — the remaining statistics loops, closed per
  * the house sweep-then-decide convention:
  *
  *  - q353 histogram-driven join-order advisor: q343 MEASURED the
  *    estimator's q-error in isolation; this routes the same 16-bucket
  *    estimate through the decision a cost-based optimizer actually
  *    makes (which join to run first), next to the exact intermediate
  *    cardinalities that grade it;
  *  - q354 functional-dependency MINING: q341 verified a hand-picked
  *    battery; this sweeps the full ordered column-pair space of one
  *    table exhaustively — discovery, not confirmation.
  */
object R41Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q353 — JOIN-ORDER ADVISOR: the q343 histogram put to work. A
    // narrow o_totalprice predicate (w/32-wide — exactly where q343
    // showed interpolation error is worst) filters orders; the advisor
    // must pick which join to run on the survivors first: lineitem
    // (fan-out n_li/n_ord ≈ 4x) or customer (fan-out 1). Estimates are
    // the 16-bucket histogram selectivity x exact average fan-outs —
    // precisely Catalyst's CBO arithmetic — and sit next to the EXACT
    // intermediate cardinalities with a per-order q-error, so the table
    // shows both the decision (argmin estimate, chosen flag) and how
    // close to truth the stats that made it were. On this corpus the
    // advisor is right (customer-first, ~477 vs ~1908 intermediate
    // rows) with estimates inside 3.5% — the concrete evidence that
    // ANALYZE-grade stats suffice for this decision at any scale.
    // Scale: one histogram build, two key-only probe joins on the
    // filtered (broadcast-small by construction) key set.
    QuerySpec(
      "q353_join_order_advisor",
      (s, d) => {
        val cc = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"))
        val mx = cc.agg(min("v").as("vmin"), max("v").as("vmax"),
          expr("max(v) - min(v) + 1").as("w"))
        val hb = cc.crossJoin(broadcast(mx))
          .groupBy(expr("least(15, (v - vmin) * 16 div w)").as("b"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(mx))
          .select(col("cnt"),
            expr("vmin + b * w div 16").as("blo"),
            expr("vmin + (b + 1) * w div 16 - 1").as("bhi"))
        val pred = broadcast(mx).selectExpr(
          "vmin + w div 2 - w div 64 AS lo", "vmin + w div 2 + w div 64 AS hi")
        val est = pred.join(broadcast(hb), expr("bhi >= lo AND blo <= hi"))
          .agg(sum(expr(
            "(cnt * greatest(0, least(hi, bhi) - greatest(lo, blo) + 1) * 1000000) div (bhi - blo + 1)"))
            .as("em"))
          .select(expr("em div 1000000").as("est_filtered"))
        val st = t(s, d, "lineitem").agg(count(lit(1)).as("n_li"))
          .crossJoin(broadcast(t(s, d, "orders").agg(count(lit(1)).as("n_ord"))))
        val fo = cc.join(broadcast(pred), expr("v BETWEEN lo AND hi"))
          .select("o_orderkey", "o_custkey")
        val actA = t(s, d, "lineitem").join(broadcast(fo),
          col("l_orderkey") === col("o_orderkey")).agg(count(lit(1)).as("act"))
        val actB = t(s, d, "customer").join(broadcast(fo),
          col("c_custkey") === col("o_custkey")).agg(count(lit(1)).as("act"))
        val base = est.crossJoin(broadcast(st))
        val plan = base.crossJoin(broadcast(actA))
          .select(lit("orders->lineitem first").as("join_order"),
            expr("est_filtered * n_li div n_ord").as("est_intermediate"),
            col("act").as("act_intermediate"))
          .unionByName(base.crossJoin(broadcast(actB))
            .select(lit("orders->customer first").as("join_order"),
              col("est_filtered").as("est_intermediate"),
              col("act").as("act_intermediate")))
        plan.crossJoin(broadcast(plan.agg(min("est_intermediate").as("best"))))
          .select(col("join_order"), col("est_intermediate"), col("act_intermediate"),
            expr("greatest(est_intermediate * 10000 div greatest(act_intermediate, 1), " +
              "act_intermediate * 10000 div greatest(est_intermediate, 1))").as("qerr_bp"),
            expr("CAST(CASE WHEN est_intermediate = best THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("join_order")
      },
      Some(
        """WITH c AS (SELECT o_orderkey, o_custkey, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v FROM orders), mx AS (SELECT min(v) AS vmin, max(v) AS vmax, max(v) - min(v) + 1 AS w FROM c), hb AS (SELECT cnt, vmin + b * w // 16 AS blo, vmin + (b + 1) * w // 16 - 1 AS bhi FROM (SELECT least(15, (v - vmin) * 16 // w) AS b, count(*) AS cnt FROM c CROSS JOIN mx GROUP BY 1) h CROSS JOIN mx), pred AS (SELECT vmin + w // 2 - w // 64 AS lo, vmin + w // 2 + w // 64 AS hi FROM mx), est AS (SELECT sum((hb.cnt * greatest(0, least(p.hi, hb.bhi) - greatest(p.lo, hb.blo) + 1) * 1000000) // (hb.bhi - hb.blo + 1)) // 1000000 AS est_filtered FROM pred p JOIN hb ON hb.bhi >= p.lo AND hb.blo <= p.hi), st AS (SELECT (SELECT count(*) FROM lineitem) AS n_li, (SELECT count(*) FROM orders) AS n_ord), fo AS (SELECT c.o_orderkey, c.o_custkey FROM c JOIN pred p ON c.v BETWEEN p.lo AND p.hi), actA AS (SELECT count(*) AS act FROM lineitem JOIN fo ON l_orderkey = fo.o_orderkey), actB AS (SELECT count(*) AS act FROM customer JOIN fo ON c_custkey = fo.o_custkey), plan AS (SELECT 'orders->lineitem first' AS join_order, est_filtered * n_li // n_ord AS est_intermediate, (SELECT act FROM actA) AS act_intermediate FROM est CROSS JOIN st UNION ALL SELECT 'orders->customer first', est_filtered, (SELECT act FROM actB) FROM est CROSS JOIN st), mn AS (SELECT min(est_intermediate) AS best FROM plan) SELECT join_order, CAST(est_intermediate AS BIGINT) AS est_intermediate, CAST(act_intermediate AS BIGINT) AS act_intermediate, CAST(greatest(est_intermediate * 10000 // greatest(act_intermediate, 1), act_intermediate * 10000 // greatest(est_intermediate, 1)) AS BIGINT) AS qerr_bp, CAST(CASE WHEN est_intermediate = best THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM plan CROSS JOIN mn ORDER BY join_order"""),
      "A/J ext: histogram-driven join-order advisor — q343's 16-bucket estimate through the CBO's first-join decision, argmin chosen flag next to exact intermediates and per-order q-error"),

    // q354 — FUNCTIONAL-DEPENDENCY MINING: the discovery upgrade of
    // q341's hand-picked battery — ALL 30 ordered column pairs of
    // `part` swept exhaustively, each verified exactly (per-determinant
    // distinct-count, the q341 core). The expected structure falls out
    // rather than being asserted in: exactly the five p_partkey->*
    // dependencies hold (the key determines everything) and every
    // non-key determinant is violated, with the violation counts
    // grading HOW badly (p_name -> p_brand fails on 23 of 64 names;
    // p_brand -> p_type on all 25 brands). At 100 TB the same sweep
    // runs sample-first to prune candidates and only survivors get this
    // exact pass — on the bounded dimension table the exact pass IS the
    // job: 30 independent two-level aggregates over the smallest fact
    // dimension, nothing joint.
    QuerySpec(
      "q354_fd_mining",
      (s, d) => {
        val cols = Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
        val part = t(s, d, "part")
        val legs = for { a <- cols; b <- cols if a != b } yield
          part.groupBy(col(a)).agg(countDistinct(col(b)).as("nd"))
            .agg(count(lit(1)).as("n_det"),
              sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_viol_det"),
              max("nd").as("max_dep"))
            .select(lit(a).as("det"), lit(b).as("dep"), col("n_det"),
              col("n_viol_det"), col("max_dep"))
        legs.reduce(_ unionByName _)
          .select(col("det"), col("dep"), col("n_det"), col("n_viol_det"),
            col("max_dep"),
            when(col("max_dep") === 1L, 1L).otherwise(0L).as("fd_holds"))
          .orderBy("det", "dep")
      },
      Some {
        val cols = Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
        val legs = (for { a <- cols; b <- cols if a != b } yield
          s"SELECT '$a' AS det, '$b' AS dep, count(*) AS n_det, sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_viol_det, max(nd) AS max_dep FROM (SELECT $a, count(DISTINCT $b) AS nd FROM part GROUP BY 1) g")
          .mkString(" UNION ALL ")
        s"""WITH u AS ($legs) SELECT det, dep, CAST(n_det AS BIGINT) AS n_det, CAST(n_viol_det AS BIGINT) AS n_viol_det, CAST(max_dep AS BIGINT) AS max_dep, CAST(CASE WHEN max_dep = 1 THEN 1 ELSE 0 END AS BIGINT) AS fd_holds FROM u ORDER BY det, dep"""
      },
      "P/S ext: functional-dependency mining — exhaustive 30-pair ordered sweep of the part table with exact per-determinant verification; the key's five dependencies emerge rather than being asserted"))
}

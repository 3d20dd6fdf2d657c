package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql, md5Bucket, md5BucketSql}

/** Round-12 first widening — the three EXECUTE closures VERDICT r11
  * called out (the priced-but-unapplied residue of the round-11 arcs):
  *
  *  - q403 runs the join at q399's chosen adaptive per-key salt: the
  *    dim replicated by each key's OWN salt (the ~368-replica bill the
  *    frontier priced, not uniform64's 4544), the fact side salted by
  *    rh % salt_k, and the reassembled result certified equal to the
  *    plain join exactly (q393's equivalence convention) with the
  *    executed pass landing inside the 2x balance gate q399 promised;
  *  - q404 composes the round-11 stats arc into the result it exists
  *    for: q358's Selinger enumeration re-priced at every step of a
  *    12-month ingest from q397's incrementally-merged KMV NDVs, the
  *    argmin trajectory certified against exact-stat pricing per step;
  *  - q405 unifies q401's zone maps and q402's blooms into the
  *    per-column DATA-SKIPPING CHOOSER: three real column classes
  *    (range-clustered numeric, high-NDV point-lookup key, low-NDV
  *    dict column), each with both structures APPLIED on a 32-file
  *    assignment and a probe battery, chosen = the cheapest structure
  *    that actually prunes — and for the dict column the honest answer
  *    is NONE (every file carries every value; state buys nothing).
  */
object R57Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q403 — ADAPTIVE-SALT JOIN, EXECUTED: q399 priced the per-key salt
    // frontier and chose target n/256 (12x less dim replication than
    // uniform64 for the same 2x gate) but never ran the join at that
    // config — the one priced-but-unapplied decision in the skew arc.
    // This query runs it. The salt table comes from the SAME
    // adaptiveSaltTable rule q399's frontier evaluated (shared
    // function — decision and execution cannot drift). The dim is
    // replicated by each key's own salt (explode 0..salt_k-1: the
    // materialized replica count IS q399's repl_rows bill), the fact
    // side computes its replica as rh % salt_k, and the join on
    // (k, replica) reassembles the plain join EXACTLY — certified the
    // q393 way (row count + integer checksum equality, loudly broken
    // by any key claimed by two replicas or none). The executed pass's
    // 32-partition placement is measured through the shared skewSummary
    // fold and must sit inside the 2x gate the frontier promised
    // (meets_bal), while the plain pass shows the ~8x hot partition the
    // salt exists to dissolve. Scale: the salt table is ≤71 broadcast
    // rows, replicas are ~368 rows (not rows x 64), the fact pass is
    // map-side salted — the shuffle the 100 TB join actually pays is
    // the balanced one measured here; the plain recompute is the
    // grader (q385 convention).
    QuerySpec(
      "q403_adaptive_salt_join",
      (s, d) => {
        import R39Queries.skewSummary
        val keyed = R54Queries.hhKeyed(t(s, d, "events"))
          .select(col("k"), col("pu"),
            md5Long(concat(lit("sl:"), col("eid").cast("string")), 10).as("rh"))
          .localCheckpoint(false)
        val kc = keyed.groupBy("k").agg(count(lit(1)).as("f")).localCheckpoint(false)
        val nk = kc.agg(count(lit(1)).as("n_keys"), sum("f").as("n"))
        val sa = R56Queries.adaptiveSaltTable(kc, nk, 256).localCheckpoint(false)
        val dim = keyed.groupBy("k").agg(min("pu").as("attr")).localCheckpoint(false)
        // the APPLY: dim rows physically replicated by their own salt
        val dimRep = dim.join(broadcast(sa), "k")
          .select(col("k"), col("attr"),
            explode(expr("sequence(0, sa - 1)")).as("r"))
          .localCheckpoint(false)
        // factSalted is deliberately checkpointed: both the certified
        // join and the placement fold re-scan it, and an A/B measured
        // the checkpoint 2x faster than recomputing the salted map pass
        // per consumer
        val factSalted = keyed.join(broadcast(sa), "k")
          .select(col("k"), col("pu"), pmod(col("rh"), col("sa")).as("r"))
          .localCheckpoint(false)
        val salted = factSalted.join(dimRep, Seq("k", "r"))
          .agg(count(lit(1)).as("rows"), sum(expr("attr * (pu + 1)")).as("checksum"))
        val plain = keyed.join(dim, "k")
          .agg(count(lit(1)).as("rows"), sum(expr("attr * (pu + 1)")).as("checksum"))
        val repl = dimRep.agg(count(lit(1)).as("repl_rows"))
        val sSalt = skewSummary(factSalted
          .groupBy(md5Bucket(concat(col("k"), lit(":"), col("r").cast("string")), 32).as("p"))
          .agg(count(lit(1)).as("c")))
        val sPlain = skewSummary(keyed
          .groupBy(md5Bucket(col("k"), 32).as("p"))
          .agg(count(lit(1)).as("c")))
        val one = salted.select(col("rows").as("s_rows"), col("checksum").as("s_ck"))
          .crossJoin(broadcast(plain.select(col("rows").as("p_rows"), col("checksum").as("p_ck"))))
          .crossJoin(broadcast(repl)).crossJoin(broadcast(nk))
          .crossJoin(broadcast(sSalt.select(col("parts_used").as("s_parts"),
            col("max_load").as("s_max"), col("skew_bp").as("s_skew"))))
          .crossJoin(broadcast(sPlain.select(col("parts_used").as("p_parts"),
            col("max_load").as("p_max"), col("skew_bp").as("p_skew"))))
        one.select(explode(array(
            struct(lit("1:salted_adaptive").as("leg"), col("s_rows").as("rows"),
              col("s_ck").as("checksum"), col("repl_rows").as("repl_rows"),
              col("s_parts").as("parts_used"), col("s_max").as("max_load"),
              col("s_skew").as("skew_bp")),
            struct(lit("2:plain_recompute").as("leg"), col("p_rows").as("rows"),
              col("p_ck").as("checksum"), col("n_keys").as("repl_rows"),
              col("p_parts").as("parts_used"), col("p_max").as("max_load"),
              col("p_skew").as("skew_bp")))).as("z"),
            col("s_rows"), col("p_rows"), col("s_ck"), col("p_ck"))
          .select(col("z.leg").as("leg"), col("z.rows").as("rows"),
            col("z.checksum").as("checksum"), col("z.repl_rows").as("repl_rows"),
            col("z.parts_used").as("parts_used"), col("z.max_load").as("max_load"),
            col("z.skew_bp").as("skew_bp"),
            expr("CAST(CASE WHEN z.skew_bp <= 20000 THEN 1 ELSE 0 END AS BIGINT)")
              .as("meets_bal"),
            expr("CAST(CASE WHEN s_rows = p_rows AND s_ck = p_ck THEN 1 ELSE 0 END AS BIGINT)")
              .as("equal_plain"))
          .orderBy("leg")
      },
      Some {
        val keySql = "CASE WHEN pu < 63 THEN 'g' || CAST(CAST(floor(log2(pu + 1)) AS BIGINT) AS VARCHAR) ELSE 'u' || CAST(pu AS VARCHAR) END"
        s"""WITH keyed AS (SELECT $keySql AS k, pu, ${md5LongSql("'sl:' || CAST(event_id AS VARCHAR)", 10)} AS rh FROM (SELECT event_id, ${md5BucketSql("'hh:' || CAST(event_id AS VARCHAR)", 128)} AS pu FROM events) z), kc AS (SELECT k, count(*) AS f FROM keyed GROUP BY 1), nk AS (SELECT count(*) AS n_keys, sum(f) AS n FROM kc), sa AS (SELECT k, ${R56Queries.saltLadderSql(256)} AS sa FROM kc CROSS JOIN nk), dim AS (SELECT k, min(pu) AS attr FROM keyed GROUP BY 1), dimrep AS (SELECT d.k, d.attr, g.r FROM dim d JOIN sa ON sa.k = d.k CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS r) g WHERE g.r < sa.sa), facts AS (SELECT ky.k, ky.pu, ky.rh % sa.sa AS r FROM keyed ky JOIN sa ON sa.k = ky.k), salted AS (SELECT count(*) AS rows, sum(dr.attr * (f.pu + 1)) AS ck FROM facts f JOIN dimrep dr ON dr.k = f.k AND dr.r = f.r), plain AS (SELECT count(*) AS rows, sum(d.attr * (ky.pu + 1)) AS ck FROM keyed ky JOIN dim d ON d.k = ky.k), repl AS (SELECT count(*) AS repl_rows FROM dimrep), ssalt AS (SELECT count(*) AS parts_used, max(c) AS max_load, max(c) * 32 * 10000 // sum(c) AS skew_bp FROM (SELECT ${md5BucketSql("k || ':' || CAST(r AS VARCHAR)", 32)} AS p, count(*) AS c FROM facts GROUP BY 1) g), splain AS (SELECT count(*) AS parts_used, max(c) AS max_load, max(c) * 32 * 10000 // sum(c) AS skew_bp FROM (SELECT ${md5BucketSql("k", 32)} AS p, count(*) AS c FROM keyed GROUP BY 1) g), eq AS (SELECT CASE WHEN (SELECT rows FROM salted) = (SELECT rows FROM plain) AND (SELECT ck FROM salted) = (SELECT ck FROM plain) THEN 1 ELSE 0 END AS equal_plain), legs AS (SELECT '1:salted_adaptive' AS leg, (SELECT rows FROM salted) AS rows, (SELECT ck FROM salted) AS checksum, (SELECT repl_rows FROM repl) AS repl_rows, parts_used, max_load, skew_bp FROM ssalt UNION ALL SELECT '2:plain_recompute', (SELECT rows FROM plain), (SELECT ck FROM plain), (SELECT n_keys FROM nk), parts_used, max_load, skew_bp FROM splain) SELECT leg, CAST(rows AS BIGINT) AS rows, CAST(checksum AS BIGINT) AS checksum, CAST(repl_rows AS BIGINT) AS repl_rows, CAST(parts_used AS BIGINT) AS parts_used, CAST(max_load AS BIGINT) AS max_load, CAST(skew_bp AS BIGINT) AS skew_bp, CAST(CASE WHEN skew_bp <= 20000 THEN 1 ELSE 0 END AS BIGINT) AS meets_bal, CAST((SELECT equal_plain FROM eq) AS BIGINT) AS equal_plain FROM legs ORDER BY leg"""
      },
      "S/J ext: adaptive-salt join EXECUTED — the dim replicated by each key's OWN salt from q399's shared rule at the chosen target n/256, the fact side salted rh % salt_k, joined on (k, replica) and certified equal to the plain join exactly (q393 convention); the executed placement lands inside the 2x gate the frontier promised while the plain pass shows the ~8x hot partition"),

    // q404 — INCREMENTAL STATS → STABLE PLANS: the composition the two
    // round-11 arcs exist for. Twelve monthly ingest steps; at each,
    // the tables ARE the ingested prefixes (orders_j, the lineitem rows
    // referencing them, the full customer dim) and q358's three
    // left-deep orders are priced with textbook System-R arithmetic
    // under TWO stat regimes: exact (first-seen cumulative NDVs — the
    // grader) and CHEAP, where every NDV the enumeration consumes
    // (l_orderkey, o_orderkey, o_custkey, c_custkey) comes from the
    // KMV state q397 maintains by O(k) merge — read here as the
    // prefix top-32 of the per-hash first-month table, which q397
    // certified inductively IS the incrementally-merged state (merge ==
    // rebuild along the whole chain), with the |sketch| < k exact
    // fallback for cold starts. Row counts are exact in both regimes
    // (ingest metadata is free; NDVs are what ANALYZE pays for —
    // q397's framing). Certified per step: each sketch NDV inside the
    // k = 32 q-error band against the exact prefix NDV, and the ARGMIN
    // TRAJECTORY — chosen_cheap must track chosen_exact at every step
    // (argmin_stable), with worst_drift_bp showing how far the cheap
    // cost surface sits from the exact one while the inter-order gaps
    // keep the decision fixed on the customer-first optimum. Had the
    // sketch noise ever crossed an inter-order gap, the flip would
    // surface here — the finding either way. Scale: production state
    // is 3 x 32 sketch values + per-month row counts; the per-step
    // prefix NDV rebuilds are the grader (q385 convention); the
    // enumeration is arithmetic on one 12-row stats table.
    QuerySpec(
      "q404_incr_stats_plans",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val steps = s.range(1, 13).toDF("step")
        val om = t(s, d, "orders").select(col("o_orderkey").as("k"),
          month(col("o_orderdate")).cast("long").as("m"), col("o_custkey").as("c"))
          .localCheckpoint(false)
        // ONE heavy pass over the lineitem⋈orders join: per-key (month,
        // row count). Every later statistic — the hash-sketch chain, the
        // exact prefix NDV, the prefix row counts — derives from this
        // |orders|-sized frame; the old shape re-aggregated the
        // lineitem-sized join three separate times (and paid the md5 per
        // lineitem ROW where per KEY suffices — sound because an order
        // key has exactly one month, so groupBy(hash).min(m) over keys
        // equals it over rows).
        val liKey = t(s, d, "lineitem").select(col("l_orderkey").as("k"))
          .join(om.select("k", "m"), "k")
          .groupBy("k").agg(min("m").as("m"), count(lit(1)).as("cnt"))
          .localCheckpoint(false)
        // per-customer first month — the oc chain and NDV derive from
        // this |customers|-of-orders-sized frame, not |orders| rows
        val ocKey = om.groupBy(col("c").as("k")).agg(min("m").as("m"))
        def hv(tag: String, kCol: String): org.apache.spark.sql.Column =
          md5Long(concat(lit(s"$tag:"), col(kCol).cast("string")), 10)
        // the incremental KMV state at step j (q397's certified merge):
        // per-hash first month, prefix top-32 via one step-partitioned
        // window — over the per-month top-32s only, because a hash can
        // be in a prefix's 32 minima only if it is among the 32 minima
        // of its own first month (top32(∪ buckets) ⊆ ∪ top32(bucket) —
        // containment, exact): the window input drops from ndv-sized to
        // ≤ 12 x 32 rows
        def chain(src: DataFrame, tag: String, out: String): DataFrame = {
          val hvm = src.select(hv(tag, "k").as("hvv"), col("m"))
            .groupBy("hvv").agg(min("m").as("fm"))
          val hvm32 = hvm
            .withColumn("rb", row_number().over(
              Window.partitionBy("fm").orderBy("hvv")))
            .where(col("rb") <= 32).select("hvv", "fm")
          steps.join(hvm32, col("fm") <= col("step"))
            .withColumn("r", row_number().over(
              Window.partitionBy("step").orderBy("hvv")))
            .where(col("r") <= 32)
            .groupBy("step").agg(count(lit(1)).as("cnt"), max("hvv").as("mx"))
            .select(col("step"),
              expr("CASE WHEN cnt < 32 THEN cnt ELSE 31 * 1099511627776 div mx END")
                .as(out))
        }
        // exact prefix NDV from the per-key frame — each row IS a
        // first-seen key, so the per-month new-key census is one tiny
        // groupBy over keys (q397's grader fusion, now shared with the
        // sketch chain's input)
        def exactNdv(perKey: DataFrame, out: String): DataFrame =
          steps.crossJoin(broadcast(
              perKey.groupBy("m").agg(count(lit(1)).as("fm_nc"))))
            .groupBy("step")
            .agg(sum(when(col("m") <= col("step"), col("fm_nc")).otherwise(0L)).as(out))
        def prefixRows(monthCounts: DataFrame, out: String): DataFrame =
          steps.crossJoin(broadcast(monthCounts))
            .groupBy("step")
            .agg(sum(when(col("m") <= col("step"), col("mc")).otherwise(0L)).as(out))
        val cu = t(s, d, "customer")
        val ckSketch = cu.select(hv("k4c", "c_custkey").as("hvv"))
          .distinct().orderBy("hvv").limit(32)
          .agg(count(lit(1)).as("cnt"), max("hvv").as("mx"))
          .select(expr("CASE WHEN cnt < 32 THEN cnt ELSE 31 * 1099511627776 div mx END")
            .as("est_ck"))
        val stat = cu.agg(count(lit(1)).as("n_cust"),
            countDistinct("c_custkey").as("ndv_ck"))
          .crossJoin(broadcast(ckSketch))
        val stats = steps
          .join(broadcast(chain(liKey.select("k", "m"), "k4l", "est_lok")), "step")
          .join(broadcast(exactNdv(liKey, "ndv_lok")), "step")
          .join(broadcast(chain(om.select("k", "m"), "k4o", "est_ook")), "step")
          .join(broadcast(exactNdv(om, "ndv_ook")), "step")
          .join(broadcast(chain(ocKey, "k4u", "est_oc")), "step")
          .join(broadcast(exactNdv(ocKey, "ndv_oc")), "step")
          .join(broadcast(prefixRows(
            liKey.groupBy("m").agg(sum("cnt").as("mc")), "n_li")), "step")
          .join(broadcast(prefixRows(
            om.groupBy("m").agg(count(lit(1)).as("mc")), "n_ord")), "step")
          .crossJoin(broadcast(stat))
        def costs(lok: String, ook: String, oc: String, ck: String)
            : (String, String, String) = {
          val i1 = s"(n_li * n_ord div greatest($lok, $ook))"
          val i2 = s"(n_ord * n_cust div greatest($oc, $ck))"
          (s"$i1 + $i1 * n_cust div greatest($oc, $ck)",
            s"$i2 + $i2 * n_li div greatest($ook, $lok)",
            s"n_li * n_cust + n_li * n_ord div greatest($ook, $lok)")
        }
        val (x1, x2, x3) = costs("ndv_lok", "ndv_ook", "ndv_oc", "ndv_ck")
        val (c1, c2, c3) = costs("est_lok", "est_ook", "est_oc", "est_ck")
        def qerr(a: String, b: String): String =
          s"greatest(($a) * 10000 div greatest($b, 1), ($b) * 10000 div greatest($a, 1))"
        stats.select(col("step"), col("n_li"), col("n_ord"),
            col("est_lok"), col("ndv_lok"),
            expr(qerr("est_lok", "ndv_lok")).as("qerr_lok_bp"),
            col("est_oc"), col("ndv_oc"),
            expr(qerr("est_oc", "ndv_oc")).as("qerr_oc_bp"),
            expr(s"CAST(CASE WHEN ($x1) <= ($x2) AND ($x1) <= ($x3) THEN 1 WHEN ($x2) <= ($x3) THEN 2 ELSE 3 END AS BIGINT)")
              .as("chosen_exact"),
            expr(s"CAST(CASE WHEN ($c1) <= ($c2) AND ($c1) <= ($c3) THEN 1 WHEN ($c2) <= ($c3) THEN 2 ELSE 3 END AS BIGINT)")
              .as("chosen_cheap"),
            expr(s"greatest(${qerr(s"($c1)", s"($x1)")}, ${qerr(s"($c2)", s"($x2)")}, ${qerr(s"($c3)", s"($x3)")})")
              .as("worst_drift_bp"))
          .withColumn("argmin_stable",
            expr("CAST(CASE WHEN chosen_exact = chosen_cheap THEN 1 ELSE 0 END AS BIGINT)"))
          .orderBy("step")
      },
      Some {
        def estSql(hvmCte: String, out: String): String =
          s"""SELECT step, CASE WHEN count(*) < 32 THEN count(*) ELSE 31 * 1099511627776 // max(hvv) END AS $out
            FROM (SELECT st.step, h.hvv, row_number() OVER (PARTITION BY st.step ORDER BY h.hvv) AS r
                  FROM steps st JOIN (SELECT hvv, fm FROM (SELECT hvv, fm, row_number() OVER (PARTITION BY fm ORDER BY hvv) AS rb FROM $hvmCte) pf WHERE rb <= 32) h ON h.fm <= st.step) z
            WHERE r <= 32 GROUP BY 1"""
        def ndvSql(srcCte: String, out: String): String =
          s"""SELECT step, sum(CASE WHEN fm <= step THEN nc ELSE 0 END) AS $out
            FROM steps CROSS JOIN (SELECT fm, count(*) AS nc FROM (SELECT k, min(m) AS fm FROM $srcCte GROUP BY 1) g GROUP BY 1) f GROUP BY 1"""
        def rowsSql(srcCte: String, out: String): String =
          s"""SELECT step, sum(CASE WHEN m <= step THEN mc ELSE 0 END) AS $out
            FROM steps CROSS JOIN (SELECT m, count(*) AS mc FROM $srcCte GROUP BY 1) f GROUP BY 1"""
        def hvmSql(srcCte: String, tag: String): String =
          s"SELECT ${md5LongSql(s"'$tag:' || CAST(k AS VARCHAR)", 10)} AS hvv, min(m) AS fm FROM $srcCte GROUP BY 1"
        def costsSql(lok: String, ook: String, oc: String, ck: String)
            : (String, String, String) = {
          val i1 = s"(n_li * n_ord // greatest($lok, $ook))"
          val i2 = s"(n_ord * n_cust // greatest($oc, $ck))"
          (s"$i1 + $i1 * n_cust // greatest($oc, $ck)",
            s"$i2 + $i2 * n_li // greatest($ook, $lok)",
            s"n_li * n_cust + n_li * n_ord // greatest($ook, $lok)")
        }
        val (x1, x2, x3) = costsSql("ndv_lok", "ndv_ook", "ndv_oc", "ndv_ck")
        val (c1, c2, c3) = costsSql("est_lok", "est_ook", "est_oc", "est_ck")
        def qerrSql(a: String, b: String): String =
          s"greatest(($a) * 10000 // greatest($b, 1), ($b) * 10000 // greatest($a, 1))"
        s"""WITH steps AS (SELECT unnest(generate_series(1, 12)) AS step), om AS (SELECT o_orderkey AS k, CAST(month(o_orderdate) AS BIGINT) AS m, o_custkey AS c FROM orders), lim AS (SELECT l.l_orderkey AS k, om.m FROM lineitem l JOIN om ON om.k = l.l_orderkey), oc_src AS (SELECT c AS k, m FROM om), hvm_lok AS (${hvmSql("lim", "k4l")}), hvm_ook AS (${hvmSql("om", "k4o")}), hvm_oc AS (${hvmSql("oc_src", "k4u")}), e_lok AS (${estSql("hvm_lok", "est_lok")}), e_ook AS (${estSql("hvm_ook", "est_ook")}), e_oc AS (${estSql("hvm_oc", "est_oc")}), x_lok AS (${ndvSql("lim", "ndv_lok")}), x_ook AS (${ndvSql("om", "ndv_ook")}), x_oc AS (${ndvSql("oc_src", "ndv_oc")}), r_li AS (${rowsSql("lim", "n_li")}), r_or AS (${rowsSql("om", "n_ord")}), stat AS (SELECT (SELECT count(*) FROM customer) AS n_cust, (SELECT count(DISTINCT c_custkey) FROM customer) AS ndv_ck, (SELECT CASE WHEN count(*) < 32 THEN count(*) ELSE 31 * 1099511627776 // max(hvv) END FROM (SELECT DISTINCT ${md5LongSql("'k4c:' || CAST(c_custkey AS VARCHAR)", 10)} AS hvv FROM customer ORDER BY 1 LIMIT 32) s) AS est_ck), stats AS (SELECT st.step, n_li, n_ord, est_lok, ndv_lok, est_ook, ndv_ook, est_oc, ndv_oc, n_cust, ndv_ck, est_ck FROM steps st JOIN e_lok USING (step) JOIN e_ook USING (step) JOIN e_oc USING (step) JOIN x_lok USING (step) JOIN x_ook USING (step) JOIN x_oc USING (step) JOIN r_li USING (step) JOIN r_or USING (step) CROSS JOIN stat) SELECT CAST(step AS BIGINT) AS step, CAST(n_li AS BIGINT) AS n_li, CAST(n_ord AS BIGINT) AS n_ord, CAST(est_lok AS BIGINT) AS est_lok, CAST(ndv_lok AS BIGINT) AS ndv_lok, CAST(${qerrSql("est_lok", "ndv_lok")} AS BIGINT) AS qerr_lok_bp, CAST(est_oc AS BIGINT) AS est_oc, CAST(ndv_oc AS BIGINT) AS ndv_oc, CAST(${qerrSql("est_oc", "ndv_oc")} AS BIGINT) AS qerr_oc_bp, CAST(CASE WHEN ($x1) <= ($x2) AND ($x1) <= ($x3) THEN 1 WHEN ($x2) <= ($x3) THEN 2 ELSE 3 END AS BIGINT) AS chosen_exact, CAST(CASE WHEN ($c1) <= ($c2) AND ($c1) <= ($c3) THEN 1 WHEN ($c2) <= ($c3) THEN 2 ELSE 3 END AS BIGINT) AS chosen_cheap, CAST(greatest(${qerrSql(s"($c1)", s"($x1)")}, ${qerrSql(s"($c2)", s"($x2)")}, ${qerrSql(s"($c3)", s"($x3)")}) AS BIGINT) AS worst_drift_bp, CAST(CASE WHEN (CASE WHEN ($x1) <= ($x2) AND ($x1) <= ($x3) THEN 1 WHEN ($x2) <= ($x3) THEN 2 ELSE 3 END) = (CASE WHEN ($c1) <= ($c2) AND ($c1) <= ($c3) THEN 1 WHEN ($c2) <= ($c3) THEN 2 ELSE 3 END) THEN 1 ELSE 0 END AS BIGINT) AS argmin_stable FROM stats ORDER BY step"""
      },
      "A/J/S ext: incremental stats -> stable plans — q358's Selinger enumeration re-priced at every step of a 12-month ingest from the KMV state q397 maintains by O(k) merge (exact-fallback below k), row counts exact in both regimes; per-step sketch NDVs certified inside the k=32 band and the cheap argmin certified to track the exact argmin along the whole trajectory"),

    // q405 — PER-COLUMN DATA-SKIPPING CHOOSER: q401 proved zone maps on
    // a range-clustered column, q402 proved the bloom on a selective
    // key; the WRITE-SIDE decision is which structure each column
    // EARNS. Three real column classes, each with a 32-file assignment
    // and both structures APPLIED (per-file zone maps read back from
    // the assignment; per-file 1024-bit bloom bitsets actually built)
    // and a 3-probe battery priced against all three candidates:
    //  - A:value_range — events.value on q400's chosen sketch-range
    //    layout, range probes (q401's battery). Zone maps touch ~1
    //    file/probe; a bloom CANNOT answer a range probe (membership
    //    only — the leg honestly scans everything); chosen = zonemap
    //    at 64 units of state.
    //  - B:eid_point — event_id on the SAME value-clustered layout,
    //    point probes. Every file's eid zone spans the domain (the
    //    column is scattered by the OTHER column's sort), so zone maps
    //    prune nothing; the per-file bloom passes the one true file
    //    plus measured-FP files; chosen = bloom despite 512x the state.
    //  - C:flag_dict — l_returnflag (3-value dict column) on a hash
    //    layout, point probes. EVERY file contains every value: zone
    //    maps span, blooms pass all 32 files with zero false positives
    //    needed — no structure clears the gate and chosen falls to
    //    NONE, the honest answer q344's dict arc predicts (state buys
    //    nothing when the value lives everywhere).
    // Soundness certified per structure x class (missed = 0: matching
    // rows outside the touched files must not exist — the property that
    // makes skipping an optimization, not a sample); the gate is
    // "halves the battery scan"; chosen = min state among clearing
    // structures, NONE when nothing clears. Scale: the structures are
    // bounded per-file state read at planning time (32 x 2 values /
    // 32 x 1024 bits); probes are arithmetic against broadcast state;
    // only the grader touches exact row membership.
    QuerySpec(
      "q405_skipping_chooser",
      (s, d) => {
        import org.apache.spark.sql.Column
        // 4 bloom cells sliced from ONE md5 (20 bits each → % 1024):
        // a quarter of the hash work of four tagged digests in the
        // hottest pass, same independence for the FP arithmetic
        def cellArr(vCol: String): Column = array((0 to 3).map(i =>
          expr(s"CAST(conv(substring(md5(concat('fb:', CAST($vCol AS STRING))), ${1 + i * 5}, 5), 16, 10) AS BIGINT) % 1024")): _*)
        // one fused pass per class: the three structures' touched sets
        // union into a single structure-tagged frame, so files/rows and
        // the soundness anti-join each run ONCE per class instead of
        // once per structure (the q361/q362 fusion applied to grading)
        def legsOf(cls: String, assigned: DataFrame, zones: DataFrame,
            probes0: DataFrame, point: Boolean, dedupVals: Boolean): DataFrame = {
          // probes is a <=3-row sort-limit over the checkpointed zones;
          // cells feeds ONE join and matched's two consumers re-scan the
          // cached assignment instead — three checkpoint block-writes
          // deleted from the hottest pass (driver-bench contention, r12)
          val probes = probes0
          val nf = zones.agg(sum("c").as("n"), count(lit(1)).as("n_files"))
          // low-NDV columns dedup (p, v) BEFORE hashing — the dict
          // class's 600k rows collapse to ~96 before any md5
          val cellSrc = if (dedupVals) assigned.select("p", "v").distinct()
            else assigned.select("p", "v")
          val cells = cellSrc.select(col("p"), explode(cellArr("v")).as("cell"))
            .distinct()
          val matched = assigned.crossJoin(broadcast(probes))
            .where(expr("v BETWEEN lo AND hi"))
            .select("probe_id", "p")
          val noneT = probes.select("probe_id")
            .crossJoin(broadcast(zones.select("p")))
            .select(lit("1:none").as("structure"), col("probe_id"), col("p"))
          val zmT = probes.join(broadcast(zones),
              expr("zmax >= lo AND zmin <= hi")).select("probe_id", "p")
            .select(lit("2:zonemap").as("structure"), col("probe_id"), col("p"))
          val blT =
            (if (point)
              probes.select(col("probe_id"), explode(cellArr("lo")).as("cell"))
                .join(broadcast(cells), "cell")
                .groupBy("probe_id", "p").agg(count(lit(1)).as("nh"))
                .where(col("nh") === 4).select("probe_id", "p")
            else probes.select("probe_id")
              .crossJoin(broadcast(zones.select("p"))))
              .select(lit("3:bloom1024").as("structure"), col("probe_id"), col("p"))
          val touched = noneT.unionByName(zmT).unionByName(blT)
            .localCheckpoint(false)
          val ts = touched.join(broadcast(zones), "p")
            .groupBy("structure")
            .agg(count(lit(1)).as("files_touched"), sum("c").as("rows_scanned"))
          val ms = matched
            .withColumn("structure", explode(array(
              lit("1:none"), lit("2:zonemap"), lit("3:bloom1024"))))
            .join(broadcast(touched), Seq("structure", "probe_id", "p"), "left_anti")
            .groupBy("structure").agg(count(lit(1)).as("mz"))
          val exTot = matched.agg(count(lit(1)).as("rows_exact"))
          ts.join(broadcast(ms), Seq("structure"), "left")
            .crossJoin(broadcast(nf)).crossJoin(broadcast(exTot))
            .select(lit(cls).as("cls"), col("structure"),
              col("files_touched"), col("rows_scanned"), col("rows_exact"),
              expr("n * 3").as("full_rows"),
              coalesce(col("mz"), lit(0L)).as("missed"),
              expr("CAST(CASE WHEN structure = '1:none' THEN 0 WHEN structure = '2:zonemap' THEN 64 ELSE 32768 END AS BIGINT)")
                .as("state_units"),
              expr("CAST(CASE WHEN rows_scanned * 2 <= n * 3 THEN 1 ELSE 0 END AS BIGINT)")
                .as("clears_gate"))
        }
        // the A/B (events) and C (lineitem) chains share no lineage:
        // construct them concurrently so their checkpoint
        // materializations overlap (graft.Par — guide §2.6); within each
        // chain the order is unchanged
        // Par pays: q405 runs 1.66 s, 2.27 s with both Par sites in order (sf0.1, local[4], median)
        val ((asgAB, zonesA, zonesB), (asgC, zonesC)) = graft.Par.par2({
          // class A + B share q400's chosen sketch-range layout of events
          val ev = t(s, d, "events").select(col("event_id").as("eid"),
            expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("v"))
            .localCheckpoint(false)
          val mx = ev.agg(min("v").as("a"), expr("max(v) - min(v) + 1").as("w"),
            count(lit(1)).as("n")).localCheckpoint(false)
          // q400's chosen layout through the SHARED builder (decision and
          // applier cannot drift)
          val asgAB = R56Queries.sketchRangeAssign(ev, mx).select("eid", "v", "p")
            .localCheckpoint(false)
          val zonesA = asgAB.groupBy("p").agg(count(lit(1)).as("c"),
            min("v").as("zmin"), max("v").as("zmax")).localCheckpoint(false)
          val zonesB = asgAB.select(col("p"), col("eid").as("v"))
            .groupBy("p").agg(count(lit(1)).as("c"),
              min("v").as("zmin"), max("v").as("zmax")).localCheckpoint(false)
          (asgAB, zonesA, zonesB)
        }, {
          val asgC = t(s, d, "lineitem").select(
            md5Bucket(concat(lit("lf:"), col("l_orderkey").cast("string")), 32).as("p"),
            col("l_returnflag").as("v"))
            .localCheckpoint(false)
          val zonesC = asgC.groupBy("p").agg(count(lit(1)).as("c"),
            min("v").as("zmin"), max("v").as("zmax")).localCheckpoint(false)
          (asgC, zonesC)
        })
        val probesA = zonesA.orderBy(col("c").desc, col("p")).limit(3)
          .select(col("zmin").as("lo"), col("zmax").as("hi"))
          .withColumn("probe_id", expr("row_number() OVER (ORDER BY lo)"))
          .select(col("probe_id").cast("long").as("probe_id"), col("lo"), col("hi"))
        val asgB = asgAB.select(col("p"), col("eid").as("v"))
        val probesB = zonesB.orderBy(col("c").desc, col("p")).limit(3)
          .select(col("zmin").as("lo"), col("zmin").as("hi"))
          .withColumn("probe_id", expr("row_number() OVER (ORDER BY lo)"))
          .select(col("probe_id").cast("long").as("probe_id"), col("lo"), col("hi"))
        val probesC = asgC.select("v").distinct()
          .withColumn("probe_id", expr("row_number() OVER (ORDER BY v)"))
          .select(col("probe_id").cast("long").as("probe_id"),
            col("v").as("lo"), col("v").as("hi"))
        // the three per-class leg builds each materialize a `touched`
        // checkpoint — overlap them too
        // Par pays: q405 runs 1.66 s, 2.27 s with both Par sites in order (sf0.1, local[4], median)
        val legsSeq = graft.Par(
          () => legsOf("A:value_range", asgAB.select("p", "v"), zonesA, probesA,
            point = false, dedupVals = false),
          () => legsOf("B:eid_point", asgB, zonesB, probesB,
            point = true, dedupVals = false),
          () => legsOf("C:flag_dict", asgC, zonesC, probesC,
            point = true, dedupVals = true))
        val legs = legsSeq.reduce(_ unionByName _)
        val mn = legs.where(col("clears_gate") === 1L)
          .groupBy("cls").agg(min("state_units").as("mn_state"))
        legs.join(broadcast(mn), Seq("cls"), "left")
          .select(col("cls"), col("structure"), col("files_touched"),
            col("rows_scanned"), col("rows_exact"), col("full_rows"),
            col("missed"), col("state_units"), col("clears_gate"),
            expr("CAST(CASE WHEN clears_gate = 1 AND state_units = mn_state THEN 1 WHEN mn_state IS NULL AND structure = '1:none' THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("cls", "structure")
      },
      Some {
        def cellSql(i: Int, v: String): String =
          s"CAST(concat('0x', substr(md5('fb:' || CAST($v AS VARCHAR)), ${1 + i * 5}, 5)) AS BIGINT) % 1024"
        def classSql(cls: String, tag: String, point: Boolean): String = {
          val cellsU = (0 to 3).map(i =>
            s"SELECT p, ${cellSql(i, "v")} AS cell FROM asg_$tag").mkString(" UNION ALL ")
          val probeCellsU = (0 to 3).map(i =>
            s"SELECT probe_id, ${cellSql(i, "lo")} AS cell FROM pr_$tag").mkString(" UNION ALL ")
          val bloomTouched =
            if (point)
              s"""SELECT probe_id, p FROM (
                SELECT pc.probe_id, ce.p, count(*) AS nh
                FROM ($probeCellsU) pc JOIN (SELECT DISTINCT p, cell FROM ($cellsU) cu) ce ON ce.cell = pc.cell
                GROUP BY 1, 2) h WHERE nh = 4"""
            else s"SELECT pr.probe_id, z.p FROM pr_$tag pr CROSS JOIN zn_$tag z"
          def legSql(st: String, touched: String, stateU: Long): String =
            s"""SELECT '$cls' AS cls, '$st' AS structure,
              (SELECT count(*) FROM ($touched) t JOIN zn_$tag z ON z.p = t.p) AS files_touched,
              (SELECT coalesce(sum(z.c), 0) FROM ($touched) t JOIN zn_$tag z ON z.p = t.p) AS rows_scanned,
              (SELECT count(*) FROM mt_$tag) AS rows_exact,
              (SELECT sum(c) * 3 FROM zn_$tag) AS full_rows,
              (SELECT count(*) FROM mt_$tag m WHERE NOT EXISTS (SELECT 1 FROM ($touched) t WHERE t.probe_id = m.probe_id AND t.p = m.p)) AS missed,
              $stateU AS state_units"""
          val noneT = s"SELECT pr.probe_id, z.p FROM pr_$tag pr CROSS JOIN zn_$tag z"
          val zmT = s"SELECT pr.probe_id, z.p FROM pr_$tag pr JOIN zn_$tag z ON z.zmax >= pr.lo AND z.zmin <= pr.hi"
          Seq(legSql("1:none", noneT, 0L), legSql("2:zonemap", zmT, 64L),
            legSql("3:bloom1024", bloomTouched, 32768L)).mkString(" UNION ALL ")
        }
        s"""WITH ev AS (SELECT event_id AS eid, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v FROM events),
          mx AS (SELECT min(v) AS a, max(v) - min(v) + 1 AS w, count(*) AS n FROM ev),
          bins AS (SELECT least(255, (v - a) * 256 // w) AS b, count(*) AS bc FROM ev CROSS JOIN mx GROUP BY 1),
          bmap AS (SELECT b, least(31, (sum(bc) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)) * 32 // ((SELECT n FROM mx) + 1)) AS p FROM bins),
          asg_a AS (SELECT r.eid, r.v, bm.p FROM (SELECT eid, v, least(255, (v - a) * 256 // w) AS b FROM ev CROSS JOIN mx) r JOIN bmap bm ON bm.b = r.b),
          zn_a AS (SELECT p, count(*) AS c, min(v) AS zmin, max(v) AS zmax FROM asg_a GROUP BY 1),
          pr_a AS (SELECT CAST(row_number() OVER (ORDER BY lo) AS BIGINT) AS probe_id, lo, hi FROM (SELECT zmin AS lo, zmax AS hi FROM zn_a ORDER BY c DESC, p LIMIT 3) t),
          mt_a AS (SELECT pr.probe_id, a.p FROM asg_a a CROSS JOIN pr_a pr WHERE a.v BETWEEN pr.lo AND pr.hi),
          asg_b AS (SELECT p, eid AS v FROM asg_a),
          zn_b AS (SELECT p, count(*) AS c, min(v) AS zmin, max(v) AS zmax FROM asg_b GROUP BY 1),
          pr_b AS (SELECT CAST(row_number() OVER (ORDER BY lo) AS BIGINT) AS probe_id, lo, hi FROM (SELECT zmin AS lo, zmin AS hi FROM zn_b ORDER BY c DESC, p LIMIT 3) t),
          mt_b AS (SELECT pr.probe_id, a.p FROM asg_b a CROSS JOIN pr_b pr WHERE a.v BETWEEN pr.lo AND pr.hi),
          asg_c AS (SELECT ${md5BucketSql("'lf:' || CAST(l_orderkey AS VARCHAR)", 32)} AS p, l_returnflag AS v FROM lineitem),
          zn_c AS (SELECT p, count(*) AS c, min(v) AS zmin, max(v) AS zmax FROM asg_c GROUP BY 1),
          pr_c AS (SELECT CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS probe_id, v AS lo, v AS hi FROM (SELECT DISTINCT v FROM asg_c) d),
          mt_c AS (SELECT pr.probe_id, a.p FROM asg_c a CROSS JOIN pr_c pr WHERE a.v BETWEEN pr.lo AND pr.hi),
          legs AS (${classSql("A:value_range", "a", point = false)} UNION ALL ${classSql("B:eid_point", "b", point = true)} UNION ALL ${classSql("C:flag_dict", "c", point = true)}),
          gated AS (SELECT *, CASE WHEN rows_scanned * 2 <= full_rows THEN 1 ELSE 0 END AS clears_gate FROM legs),
          mn AS (SELECT cls, min(CASE WHEN clears_gate = 1 THEN state_units END) AS mn_state FROM gated GROUP BY 1)
          SELECT g.cls AS cls, g.structure, CAST(files_touched AS BIGINT) AS files_touched, CAST(rows_scanned AS BIGINT) AS rows_scanned, CAST(rows_exact AS BIGINT) AS rows_exact, CAST(full_rows AS BIGINT) AS full_rows, CAST(missed AS BIGINT) AS missed, CAST(state_units AS BIGINT) AS state_units, CAST(clears_gate AS BIGINT) AS clears_gate, CAST(CASE WHEN clears_gate = 1 AND state_units = mn.mn_state THEN 1 WHEN mn.mn_state IS NULL AND g.structure = '1:none' THEN 1 ELSE 0 END AS BIGINT) AS chosen
          FROM gated g JOIN mn ON mn.cls = g.cls ORDER BY g.cls, g.structure"""
      },
      "S/L ext: per-column data-skipping chooser — zone maps and per-file 1024-bit blooms both APPLIED on 32-file assignments of three real column classes (range-clustered numeric, point-lookup key scattered by the other column's sort, 3-value dict column) with a probe battery per class; soundness missed=0 certified per structure, and the chooser picks zonemap / bloom / NONE respectively — the dict column's honest answer is that state buys nothing"))
}

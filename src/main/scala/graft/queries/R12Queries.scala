package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables
import graft.ops.QuantileOps

/** Round-6 widening, second batch: provenance and distribution
  * diagnostics over the established shared bases — the cross-source
  * near-dup copy matrix (who duplicates whom, from the cached cluster
  * map), a degree-distribution power-law fit over the trade graph, the
  * view→purchase conversion-lag profile (exact element quantiles), a
  * hierarchical share-of-parent revenue rollup, monthly order-priority
  * mix drift (integer L1), and the per-brand revenue Pareto
  * concentration report. Deterministic by the house rules: cents/bp
  * integer math everywhere; the one double output (q239's log-log
  * slope) follows the q206 closed-form-OLS precedent.
  */
object R12Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q238 — cross-source COPY MATRIX: for every source pair, how many
    // near-dup doc pairs and how many distinct clusters span both — the
    // provenance report that tells a curation team which feeds are
    // re-publishing which (and which overlap is one viral doc vs broad
    // mirroring: n_pairs >> n_clusters means a few big clusters). Reuses
    // the cached cluster map (candidates → verify → cluster ran once for
    // the whole q90/q113/q167 family); the self-join is cluster-keyed —
    // pair fan-out is bounded by cluster size, never corpus size.
    QuerySpec(
      "q238_copy_matrix",
      (s, d) => {
        val ms = ScaleQueries.neardupClusters(s, d)
          .select(col("id").as("doc_id"), col("cluster"))
          .join(t(s, d, "documents").select("doc_id", "source"), "doc_id")
        ms.as("x").join(ms.as("y"),
            col("x.cluster") === col("y.cluster") && col("x.source") < col("y.source"))
          .select(col("x.source").as("sa"), col("y.source").as("sb"),
            col("x.cluster").as("cluster"))
          .groupBy("sa", "sb")
          .agg(count(lit(1)).as("n_pairs"), countDistinct("cluster").as("n_clusters"))
          .orderBy("sa", "sb")
      },
      Some(s"""${ScaleQueries.shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2), jac AS (SELECT c.a, c.b FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b JOIN cnt ca ON ca.doc_id = c.a JOIN cnt cb ON cb.doc_id = c.b WHERE round(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.5), e AS (SELECT a AS src, b AS dst FROM jac UNION SELECT b, a FROM jac), reach AS (SELECT src AS id, src AS r FROM e UNION SELECT re.id, e.dst FROM reach re JOIN e ON e.src = re.r), mem AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY 1), ms AS (SELECT m.doc_id, m.cluster, d.source FROM mem m JOIN documents d USING (doc_id)) SELECT x.source AS sa, y.source AS sb, count(*) AS n_pairs, CAST(count(DISTINCT x.cluster) AS BIGINT) AS n_clusters FROM ms x JOIN ms y ON x.cluster = y.cluster AND x.source < y.source GROUP BY 1, 2 ORDER BY 1, 2"""),
      "E2 ext: cross-source near-dup copy matrix over the cached cluster map"),

    // q239 — degree-distribution power-law fit: histogram the trade
    // graph's degrees, then the q206 closed-form OLS over the
    // (ln k, ln count) points. The slope is the scale-free exponent a
    // graph pipeline checks before trusting sampled algorithms (a flat
    // slope says hub-capping like q145's is mandatory). Degrees and
    // histogram are exact integers; only the ≤|distinct degrees| OLS
    // points are floats — the q206 stance.
    QuerySpec(
      "q239_degree_powerlaw",
      (s, d) => {
        val deg = R3Queries.tradeEdges(s, d).groupBy("src").agg(count(lit(1)).as("k"))
        val hist = deg.groupBy("k").agg(count(lit(1)).as("nk"))
        val pts = hist.select(log(col("k").cast("double")).as("x"),
          log(col("nk").cast("double")).as("y"))
        val sAgg = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        val nn = deg.agg(count(lit(1)).as("n_nodes"), max("k").as("max_deg"))
        sAgg.crossJoin(broadcast(nn))
          .select(col("n").cast("long").as("n_points"), col("n_nodes"), col("max_deg"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"))
      },
      Some("""WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem ON o_orderkey = l_orderkey), ed AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e), deg AS (SELECT src, count(*) AS k FROM ed GROUP BY 1), hist AS (SELECT k, count(*) AS nk FROM deg GROUP BY 1), pts AS (SELECT ln(k) AS x, ln(nk) AS y FROM hist), s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts) SELECT CAST(n AS BIGINT) AS n_points, CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes, CAST((SELECT max(k) FROM deg) AS BIGINT) AS max_deg, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope FROM s"""),
      "E2/§2.4 ext: degree-distribution power-law exponent via closed-form OLS"),

    // q240 — conversion-lag profile: per user, seconds from FIRST view
    // to FIRST purchase (first-touch attribution order — negative lags,
    // purchase-before-view users, are non-conversions), with the exact
    // p50/p90 via the QuantileOps rank offsets and the conversion rate
    // in floor bp. The funnel-latency scalar a growth dashboard tracks.
    // Two keyed min-aggregates + one user-keyed join; the quantile input
    // is |converted users| rows.
    QuerySpec(
      "q240_conversion_lag",
      (s, d) => {
        val es = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), expr("unix_timestamp(ts)").as("es"))
        val fv = es.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("es").as("t0"))
        val fp = es.where(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("es").as("t1"))
        val lag = fv.join(fp, "user_id").where(col("t1") >= col("t0"))
          .select((col("t1") - col("t0")).as("lag_s"))
        val q = QuantileOps.exactElementQuantiles(lag, "lag_s", Seq.empty, Seq(0.5, 0.9))
          .select(col("n").as("n_converted"), col("cut_1").cast("long").as("p50_lag_s"),
            col("cut_2").cast("long").as("p90_lag_s"))
        fv.agg(count(lit(1)).as("n_viewers")).crossJoin(broadcast(q))
          .select(col("n_viewers"), col("n_converted"),
            expr("n_converted * 10000 div n_viewers").as("conv_bp"),
            col("p50_lag_s"), col("p90_lag_s"))
      },
      Some {
        val lagFrom = "(SELECT fp.t1 - fv.t0 AS lag_s FROM (SELECT user_id, min(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1) fv JOIN (SELECT user_id, min(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) AS t1 FROM events WHERE event_type = 'purchase' GROUP BY 1) fp ON fv.user_id = fp.user_id WHERE fp.t1 >= fv.t0) l"
        val qSql = QuantileOps.oracleSql(lagFrom, "lag_s", Seq.empty, Seq(0.5, 0.9))
        s"""WITH q AS (SELECT n AS n_converted, CAST(cut_1 AS BIGINT) AS p50_lag_s, CAST(cut_2 AS BIGINT) AS p90_lag_s FROM $qSql z), v AS (SELECT count(*) AS n_viewers FROM (SELECT user_id FROM events WHERE event_type = 'view' GROUP BY 1) fv) SELECT v.n_viewers, q.n_converted, q.n_converted * 10000 // v.n_viewers AS conv_bp, q.p50_lag_s, q.p90_lag_s FROM v CROSS JOIN q"""
      },
      "§2.12/§2.4 ext: first-view→first-purchase conversion lag — exact quantiles + rate"),

    // q241 — hierarchical share-of-parent: supplier-nation revenue with
    // each nation's floor-bp share of its region — the drill-down
    // contract of every BI rollup (child rows carry their parent total
    // so percentages survive slicing). The heavy aggregate is nation-
    // keyed; the region window runs over the 25-row result. Cents in,
    // integer shares out.
    QuerySpec(
      "q241_parent_share",
      (s, d) => {
        val rev = t(s, d, "lineitem")
          .select(col("l_suppkey"), cents(col("l_extendedprice")).as("c"))
          .join(broadcast(t(s, d, "supplier").select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_nationkey").agg(sum("c").as("rev_cents"))
        val named = rev
          .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"), col("rev_cents"))
        named
          .withColumn("region_cents", sum("rev_cents").over(Window.partitionBy("r_name")))
          .withColumn("share_bp", expr("rev_cents * 10000 div region_cents"))
          .orderBy("r_name", "n_name")
      },
      Some("""WITH rev AS (SELECT s_nationkey, CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1), nr AS (SELECT r.rev_cents, n.n_name, rg.r_name FROM rev r JOIN nation n ON r.s_nationkey = n.n_nationkey JOIN region rg ON n.n_regionkey = rg.r_regionkey) SELECT r_name, n_name, rev_cents, CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT) AS region_cents, rev_cents * 10000 // CAST(sum(rev_cents) OVER (PARTITION BY r_name) AS BIGINT) AS share_bp FROM nr ORDER BY r_name, n_name"""),
      "§2.4/§2.5 ext: hierarchical share-of-parent rollup in exact cents/bp"),

    // q242 — monthly priority-mix drift: each month's order-priority
    // composition vs the global mix as an integer L1 distance in floor
    // bp, plus the month's dominant priority. The categorical twin of
    // q154's numeric PSI — composition drift is how upstream behavior
    // changes (a new client, a changed default) surface before any
    // numeric column moves. All counts; the only divisions are floor bp.
    QuerySpec(
      "q242_priority_drift",
      (s, d) => {
        val o = t(s, d, "orders").select(
          (year(col("o_orderdate").cast("date")) * 12 +
            month(col("o_orderdate").cast("date"))).cast("long").as("m"),
          col("o_orderpriority").as("prio"))
        val mc = o.groupBy("m", "prio").agg(count(lit(1)).as("c"))
        val mt = mc.groupBy("m").agg(sum("c").as("tm"))
        val g = o.groupBy("prio").agg(count(lit(1)).as("gc"))
        val gt = g.agg(sum("gc").as("gt"))
        val l1 = mc.join(mt, "m").join(broadcast(g), "prio").crossJoin(broadcast(gt))
          .select(col("m"),
            abs(expr("c * 10000 div tm") - expr("gc * 10000 div gt")).as("dev"))
          .groupBy("m").agg(sum("dev").as("l1_bp"))
        val wt = Window.partitionBy("m").orderBy(col("c").desc, col("prio").asc)
        val tp = mc.withColumn("rn", row_number().over(wt)).where(col("rn") === 1)
          .select(col("m"), col("prio").as("top_prio"))
        l1.join(mt, "m").join(tp, "m")
          .select(col("m"), col("tm").as("n_orders"), col("l1_bp"), col("top_prio"))
          .orderBy("m")
      },
      Some("""WITH o AS (SELECT year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS m, o_orderpriority AS prio FROM orders), mc AS (SELECT m, prio, count(*) AS c FROM o GROUP BY 1, 2), mt AS (SELECT m, CAST(sum(c) AS BIGINT) AS tm FROM mc GROUP BY 1), g AS (SELECT prio, count(*) AS gc FROM o GROUP BY 1), gt AS (SELECT CAST(sum(gc) AS BIGINT) AS gt FROM g), l1 AS (SELECT mc.m, CAST(sum(abs(mc.c * 10000 // mt.tm - g.gc * 10000 // gt.gt)) AS BIGINT) AS l1_bp FROM mc JOIN mt USING (m) JOIN g ON mc.prio = g.prio CROSS JOIN gt GROUP BY 1), tp AS (SELECT m, prio AS top_prio FROM (SELECT m, prio, row_number() OVER (PARTITION BY m ORDER BY c DESC, prio) AS rn FROM mc) z WHERE rn = 1) SELECT CAST(l1.m AS BIGINT) AS m, mt.tm AS n_orders, l1.l1_bp, tp.top_prio FROM l1 JOIN mt USING (m) JOIN tp USING (m) ORDER BY m"""),
      "§2.4 ext: monthly categorical mix drift vs global — integer L1 in floor bp"),

    // q243 — per-brand revenue Pareto: how many parts cover 80% of each
    // brand's revenue, and the top part's share — the catalog-
    // concentration counterpart of q228's supplier HHI (revenue axis vs
    // supply axis). The cumulative window is brand-partitioned over the
    // per-part aggregate (|parts-per-brand| rows — never raw lineitems);
    // the 80% test is pure BIGINT: (cum − c)·10 < tot·8.
    QuerySpec(
      "q243_brand_pareto",
      (s, d) => {
        val pr = t(s, d, "lineitem")
          .select(col("l_partkey"), cents(col("l_extendedprice")).as("c"))
          .join(broadcast(t(s, d, "part").select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "l_partkey").agg(sum("c").as("c"))
        val wb = Window.partitionBy("p_brand")
        val wc = wb.orderBy(col("c").desc, col("l_partkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pr.withColumn("tot", sum("c").over(wb))
          .withColumn("cum", sum("c").over(wc))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_parts"),
            sum(when((col("cum") - col("c")) * 10 < col("tot") * 8, 1L).otherwise(0L))
              .as("n_parts_80"),
            max("c").as("mc"), max("tot").as("mt"))
          .withColumn("top_share_bp", expr("mc * 10000 div mt"))
          .drop("mc", "mt")
          .orderBy("p_brand")
      },
      Some("""WITH pr AS (SELECT p_brand, l_partkey, CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS c FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2), w AS (SELECT p_brand, c, CAST(sum(c) OVER (PARTITION BY p_brand) AS BIGINT) AS tot, CAST(sum(c) OVER (PARTITION BY p_brand ORDER BY c DESC, l_partkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM pr) SELECT p_brand, count(*) AS n_parts, CAST(sum(CASE WHEN (cum - c) * 10 < tot * 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts_80, max(c) * 10000 // max(tot) AS top_share_bp FROM w GROUP BY 1 ORDER BY 1"""),
      "§2.5/§2.4 ext: per-brand revenue Pareto concentration (parts to 80%)"))
}

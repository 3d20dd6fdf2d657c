package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables
import graft.ops.HashOps.{md5Long, md5LongSql}
import graft.ops.TextOps

/** Round-6 widening: the classic correlated-subquery decision-support
  * shapes the suite had not yet exercised (TPC-H Q17/Q18/Q22/Q11/Q2
  * re-expressed over the driver schema — each one is a scalar-subquery
  * broadcast, a join-back argmin, or an anti-join against a keyed
  * aggregate), plus the scale-diagnostics family: supply-concentration
  * HHI, hourly hot-key load audit, self-join blowup estimation, KMV
  * pairwise source similarity (190 source pairs compared from 32-row
  * sketches, never a term-level cross join), per-source lexical
  * diversity, per-type OLS trend, and a same-weekday seasonal baseline.
  *
  * Determinism across engines is integer-first: quantities are
  * integer-valued doubles (exact under any summation order), money is
  * floor-quantized to cents BIGINT per row BEFORE summing, shares are
  * floor basis points via integer division (`div` / `//`), and the one
  * double-valued output (q232's OLS slope) is computed from
  * integer-exact sums with an identically-parenthesised IEEE formula on
  * both sides, so even its unrounded value is bit-identical.
  */
object R11Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q226 — TPC-H Q17 shape (small-quantity revenue): lineitems whose
    // quantity is below 20% of their part's average, summed per brand.
    // The correlated scalar `avg per part` becomes a per-part aggregate
    // joined back on the SAME key the aggregate produced — Catalyst
    // plans one partkey exchange feeding both sides, no second shuffle.
    // The 0.2·avg comparison is rewritten qty·5·n < Σqty so both sides
    // are exact (integer-valued quantities sum exactly in doubles); no
    // engine-order float hazard can flip a boundary row.
    QuerySpec(
      "q226_small_qty_rev",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        val st = li.groupBy("l_partkey")
          .agg(sum("l_quantity").as("sq"), count(lit(1)).as("nq"))
        val sm = li.join(st, "l_partkey")
          .where(col("l_quantity") * lit(5.0) * col("nq") < col("sq"))
          .select(col("l_partkey"), col("l_quantity"),
            cents(col("l_extendedprice")).as("c"))
        sm.join(broadcast(t(s, d, "part").select("p_partkey", "p_brand")),
            sm("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_small"),
            sum("l_quantity").cast("long").as("qty_small"),
            sum("c").as("rev_cents"))
          .orderBy("p_brand")
      },
      Some("""WITH st AS (SELECT l_partkey, sum(l_quantity) AS sq, count(*) AS nq FROM lineitem GROUP BY 1), sm AS (SELECT l.l_partkey, l.l_quantity, CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c FROM lineitem l JOIN st ON l.l_partkey = st.l_partkey WHERE l.l_quantity * 5.0 * st.nq < st.sq) SELECT p_brand, count(*) AS n_small, CAST(sum(l_quantity) AS BIGINT) AS qty_small, CAST(sum(c) AS BIGINT) AS rev_cents FROM sm JOIN part ON sm.l_partkey = p_partkey GROUP BY 1 ORDER BY 1"""),
      "§2.3/§2.4 ext: TPC-H Q17 shape — per-part avg join-back, integer-exact threshold"),

    // q227 — TPC-H Q18 shape (large-volume orders): orders whose total
    // quantity exceeds 300, decorated with the customer name. The HAVING
    // aggregate runs FIRST (orderkey groupBy on the fact table) and only
    // its tiny survivor set joins orders/customer — at 100 TB the join
    // input is |survivors|, not |lineitem|. Dates leave as epoch-day
    // offsets from 1995-01-01 per the no-raw-timestamp house rule.
    QuerySpec(
      "q227_big_orders",
      (s, d) => {
        val oq = t(s, d, "lineitem").groupBy("l_orderkey")
          .agg(sum("l_quantity").as("sq")).where(col("sq") > 300)
          .select(col("l_orderkey"), col("sq").cast("long").as("sum_qty"))
        val o = t(s, d, "orders")
        oq.join(o, oq("l_orderkey") === o("o_orderkey"))
          .join(broadcast(t(s, d, "customer").select("c_custkey", "c_name")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_name"),
            datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
              .cast("long").as("od"),
            cents(col("o_totalprice")).as("total_cents"), col("sum_qty"))
          .orderBy(col("sum_qty").desc, col("o_orderkey"))
      },
      Some("""WITH oq AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) SELECT o.o_orderkey, c.c_name, CAST(datediff('day', DATE '1995-01-01', CAST(o.o_orderdate AS DATE)) AS BIGINT) AS od, CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS total_cents, oq.sum_qty FROM oq JOIN orders o ON oq.l_orderkey = o.o_orderkey JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY oq.sum_qty DESC, o.o_orderkey"""),
      "§2.4/§2.3 ext: TPC-H Q18 shape — HAVING survivor set joined back to dims"),

    // q228 — supply-concentration HHI: per part, the Herfindahl index of
    // its suppliers' quantity shares (Σ share² as floor basis points —
    // computed Σpq²·10⁴ ÷ (Σpq)² in pure BIGINT, one division at the
    // end) and the top-supplier share, rolled up per brand. Uniform
    // 27-supplier parts sit near 370 bp; the n_concentrated column
    // counts parts past 500 bp. Two-level keyed aggregation — the
    // (part, supplier) partial combines map-side; nothing is pairwise.
    QuerySpec(
      "q228_supply_hhi",
      (s, d) => {
        val ps = t(s, d, "lineitem").groupBy("l_partkey", "l_suppkey")
          .agg(sum("l_quantity").cast("long").as("pq"))
        val pt = ps.groupBy("l_partkey")
          .agg(sum("pq").as("tq"), count(lit(1)).as("nsup"),
            sum(col("pq") * col("pq")).as("sq2"), max("pq").as("mx"))
        val h = pt.select(col("l_partkey"), col("nsup"),
          expr("sq2 * 10000 div (tq * tq)").as("hhi_bp"),
          expr("mx * 10000 div tq").as("top_bp"))
        h.join(broadcast(t(s, d, "part").select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_parts"), sum("nsup").as("sum_nsup"),
            sum("hhi_bp").as("sh"), max("top_bp").as("max_top_bp"),
            sum(when(col("hhi_bp") >= 500, 1L).otherwise(0L)).as("n_concentrated"))
          .withColumn("avg_hhi_bp", expr("sh div n_parts"))
          .drop("sh")
          .orderBy("p_brand")
      },
      Some("""WITH ps AS (SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS pq FROM lineitem GROUP BY 1, 2), pt AS (SELECT l_partkey, CAST(sum(pq) AS BIGINT) AS tq, count(*) AS nsup, CAST(sum(pq * pq) AS BIGINT) AS sq2, max(pq) AS mx FROM ps GROUP BY 1), h AS (SELECT l_partkey, nsup, sq2 * 10000 // (tq * tq) AS hhi_bp, mx * 10000 // tq AS top_bp FROM pt) SELECT p_brand, count(*) AS n_parts, CAST(sum(nsup) AS BIGINT) AS sum_nsup, max(top_bp) AS max_top_bp, CAST(sum(CASE WHEN hhi_bp >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_concentrated, CAST(sum(hhi_bp) AS BIGINT) // count(*) AS avg_hhi_bp FROM h JOIN part ON l_partkey = p_partkey GROUP BY 1 ORDER BY 1"""),
      "§2.4 ext: supplier-concentration HHI per part, brand rollup — pure BIGINT shares"),

    // q229 — TPC-H Q22 shape (rich-but-dormant accounts): customers with
    // an above-average positive balance and NO order since 2000-08-01,
    // counted per nation. The global average is a 1-row broadcast scalar;
    // dormancy is a left-anti join against the date-filtered order keys.
    // Balances are floor-quantized to cents so the `cents·n > total`
    // comparison is pure BIGINT — the classic Q22 float-boundary hazard
    // (a balance within one ulp of the average) cannot occur.
    QuerySpec(
      "q229_dormant_rich",
      (s, d) => {
        val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
          cents(col("c_acctbal")).as("cts"))
        val g = c.where(col("cts") > 0)
          .agg(sum("cts").as("total"), count(lit(1)).as("n"))
        val rich = c.crossJoin(broadcast(g))
          .where(col("cts") > 0 && col("cts") * col("n") > col("total"))
        val recent = t(s, d, "orders")
          .where(col("o_orderdate").cast("date") >= lit("2000-08-01").cast("date"))
          .select(col("o_custkey"))
        rich.join(recent, rich("c_custkey") === recent("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_cust"), sum("cts").as("sum_cents"))
          .orderBy("c_nationkey")
      },
      Some("""WITH c AS (SELECT c_custkey, c_nationkey, CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cts FROM customer), g AS (SELECT CAST(sum(cts) AS BIGINT) AS total, count(*) AS n FROM c WHERE cts > 0), dor AS (SELECT c.c_nationkey, c.cts FROM c, g WHERE c.cts > 0 AND c.cts * g.n > g.total AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND CAST(o.o_orderdate AS DATE) >= DATE '2000-08-01')) SELECT c_nationkey, count(*) AS n_cust, CAST(sum(cts) AS BIGINT) AS sum_cents FROM dor GROUP BY 1 ORDER BY 1"""),
      "§2.3 ext: TPC-H Q22 shape — scalar-average broadcast + anti-join dormancy"),

    // q230 — TPC-H Q11 shape (vital brands): brands whose revenue share
    // of the whole book is ≥ 300 bp of the global total — the HAVING-
    // against-a-scalar-subquery pattern. Revenue is summed in cents
    // (BIGINT, exact) and the share is one integer division against the
    // broadcast 1-row total, so the threshold cannot wobble with
    // aggregation order at any scale.
    QuerySpec(
      "q230_vital_brands",
      (s, d) => {
        val bc = t(s, d, "lineitem")
          .select(col("l_partkey"), cents(col("l_extendedprice")).as("c"))
          .join(broadcast(t(s, d, "part").select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand").agg(sum("c").as("rev_cents"))
        val g = bc.agg(sum("rev_cents").as("tot"))
        bc.crossJoin(broadcast(g))
          .withColumn("share_bp", expr("rev_cents * 10000 div tot"))
          .where(col("share_bp") >= 300)
          .select(col("p_brand"), col("rev_cents"), col("share_bp"))
          .orderBy("p_brand")
      },
      Some("""WITH bc AS (SELECT p_brand, CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1), g AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS tot FROM bc) SELECT p_brand, rev_cents, rev_cents * 10000 // g.tot AS share_bp FROM bc, g WHERE rev_cents * 10000 // g.tot >= 300 ORDER BY p_brand"""),
      "§2.4 ext: TPC-H Q11 shape — share-of-global-scalar HAVING in exact cents"),

    // q231 — TPC-H Q2 shape (best-offer supplier per part): each
    // (part, supplier)'s best unit price is min(extendedprice/quantity)
    // — min over identical IEEE divisions is order-independent, so the
    // double is bit-identical cross-engine — and the per-part winner is
    // row_number()=1 over (price, suppkey), a partkey-partitioned window
    // (never global). Prices leave as floor bp. |parts| output rows.
    QuerySpec(
      "q231_best_supplier",
      (s, d) => {
        val o = t(s, d, "lineitem").groupBy("l_partkey", "l_suppkey")
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("bo"))
        val w = Window.partitionBy("l_partkey")
          .orderBy(col("bo").asc, col("l_suppkey").asc)
        o.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .join(broadcast(t(s, d, "supplier")
            .select("s_suppkey", "s_name", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("l_partkey"), col("l_suppkey"), col("s_name"),
            col("s_nationkey"), floor(col("bo") * 10000.0).cast("long").as("unit_bp"))
          .orderBy("l_partkey")
      },
      Some("""WITH o AS (SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS bo FROM lineitem GROUP BY 1, 2), r AS (SELECT l_partkey, l_suppkey, bo, row_number() OVER (PARTITION BY l_partkey ORDER BY bo, l_suppkey) AS rn FROM o) SELECT r.l_partkey, r.l_suppkey, s.s_name, s.s_nationkey, CAST(floor(r.bo * 10000.0) AS BIGINT) AS unit_bp FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey WHERE r.rn = 1 ORDER BY r.l_partkey"""),
      "§2.3/§2.5 ext: TPC-H Q2 shape — per-part argmin supplier via keyed window"),

    // q232 — per-type OLS trend: slope/intercept of event value (cents)
    // against day index, from the closed-form normal equations. Every
    // sufficient statistic (n, Σx, Σx², Σy, Σxy) is an exact BIGINT —
    // x is a small centered day integer, y is floor-cents — so the
    // doubles entering the slope formula are identical cross-engine and
    // the identically-parenthesised IEEE arithmetic makes even the
    // UNROUNDED slope bit-stable. The 100-TB trend monitor: one
    // map-side-combining aggregate per key, five longs of state.
    QuerySpec(
      "q232_trend_ols",
      (s, d) => {
        val e = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("event_type"),
            expr("unix_timestamp(ts) div 86400 - 19723").as("x"),
            cents(col("value")).as("vc"))
        val a = e.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum(col("x") * col("x")).as("sxx"),
            sum("vc").as("sy"), sum(col("x") * col("vc")).as("sxy"))
        val nD = col("n").cast("double")
        val sxD = col("sx").cast("double")
        val den = nD * col("sxx").cast("double") - sxD * sxD
        val num = nD * col("sxy").cast("double") - sxD * col("sy").cast("double")
        a.select(col("event_type"), col("n"),
            round(num / den, 4).as("slope_cents"),
            round((col("sy").cast("double") - num / den * sxD) / nD, 4).as("icept_cents"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 - 19723 AS x, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc FROM events WHERE value IS NOT NULL), a AS (SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(vc) AS BIGINT) AS sy, CAST(sum(x * vc) AS BIGINT) AS sxy FROM e GROUP BY 1) SELECT event_type, n, round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS slope_cents, round((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS icept_cents FROM a ORDER BY event_type"""),
      "§2.4 ext: closed-form per-group OLS trend from integer-exact sufficient stats"),

    // q233 — hourly load/hot-key audit: per hour, event volume, distinct
    // users, the heaviest user's share, and the dominant event type with
    // its share (floor bp). The shape an ops dashboard reads to catch a
    // runaway producer. Two keyed aggregations over (hour, key) plus a
    // 1-row-per-hour argmax window — hour cardinality grows with
    // retention, so every stage is keyed by it; nothing is global.
    QuerySpec(
      "q233_hourly_hotkeys",
      (s, d) => {
        val e = Tables.events(s, d).select(
          expr("unix_timestamp(ts) div 3600").as("hr"),
          col("user_id"), col("event_type"))
        val hu = e.groupBy("hr", "user_id").agg(count(lit(1)).as("c"))
        val ht = e.groupBy("hr", "event_type").agg(count(lit(1)).as("c"))
        val wt = Window.partitionBy("hr").orderBy(col("c").desc, col("event_type").asc)
        val tt = ht.withColumn("rn", row_number().over(wt)).where(col("rn") === 1)
          .select(col("hr"), col("event_type").as("top_type"), col("c").as("ttn"))
        hu.groupBy("hr")
          .agg(sum("c").as("n"), count(lit(1)).as("n_users"), max("c").as("max_user_n"))
          .join(tt, "hr")
          .select(col("hr"), col("n"), col("n_users"), col("max_user_n"),
            expr("max_user_n * 10000 div n").as("user_bp"),
            col("top_type"), expr("ttn * 10000 div n").as("type_bp"))
          .orderBy("hr")
      },
      Some("""WITH e AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600 AS hr, user_id, event_type FROM events), hu AS (SELECT hr, user_id, count(*) AS c FROM e GROUP BY 1, 2), ht AS (SELECT hr, event_type, count(*) AS c FROM e GROUP BY 1, 2), tt AS (SELECT hr, event_type AS top_type, c AS ttn FROM (SELECT hr, event_type, c, row_number() OVER (PARTITION BY hr ORDER BY c DESC, event_type) AS rn FROM ht) z WHERE rn = 1), g AS (SELECT hr, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_users, max(c) AS max_user_n FROM hu GROUP BY 1) SELECT g.hr, g.n, g.n_users, g.max_user_n, g.max_user_n * 10000 // g.n AS user_bp, tt.top_type, tt.ttn * 10000 // g.n AS type_bp FROM g JOIN tt ON g.hr = tt.hr ORDER BY g.hr"""),
      "§2.4/§2.5 ext: hourly hot-key + dominant-type load audit in floor bp"),

    // q234 — self-join blowup estimator: before running any key-equality
    // self-join (q143's similarity join, dedup verification, record
    // linkage), estimate its output from per-key counts alone — pairs =
    // n² per key, reported for the top-20 keys with their floor-bp share
    // of the total pair budget. The planner-side guard for 100 TB: the
    // estimate costs one aggregate; the join it vetoes could cost hours.
    QuerySpec(
      "q234_join_blowup",
      (s, d) => {
        val k = t(s, d, "lineitem").groupBy("l_partkey").agg(count(lit(1)).as("n"))
        val g = k.agg(sum(col("n") * col("n")).as("tot"))
        k.crossJoin(broadcast(g))
          .select(col("l_partkey"), col("n"), (col("n") * col("n")).as("pairs"),
            expr("n * n * 10000 div tot").as("share_bp"))
          .orderBy(col("n").desc, col("l_partkey")).limit(20)
      },
      Some("""WITH k AS (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1), g AS (SELECT CAST(sum(n * n) AS BIGINT) AS tot FROM k) SELECT l_partkey, n, n * n AS pairs, n * n * 10000 // g.tot AS share_bp FROM k, g ORDER BY n DESC, l_partkey LIMIT 20"""),
      "§2.4/§2.6 ext: self-join output estimator — top-k blowup keys in floor bp"),

    // q235 — KMV pairwise source similarity: each source's vocabulary is
    // sketched as its 32 smallest 60-bit term hashes; a pair's Jaccard
    // estimate is |A∩B| within the bottom-min(32, |union sketch|) of
    // A∪B, over that same kept count (exact when both vocabularies fit
    // in the sketch — the adaptive-k KMV estimator) — computed
    // entirely from 20 sketches of 32 rows, while the exact Jaccard
    // (audited alongside) needs the term-level self-join. THE reason
    // sketches win at 100 TB: the estimate's input is KB per source and
    // re-mergeable; the exact path rescans the corpus per pair. Hashes
    // with the 15-digit (60-bit) HashOps.md5Long.
    QuerySpec(
      "q235_kmv_jaccard",
      (s, d) => {
        val st = t(s, d, "documents")
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("term"))
          .distinct()
        val h = st.select(col("source"), col("term"),
          md5Long(col("term"), 15).as("hv"))
        val wk = Window.partitionBy("source").orderBy(col("hv").asc, col("term").asc)
        val sk = h.withColumn("rn", row_number().over(wk)).where(col("rn") <= 32)
          .select("source", "hv")
        val srcs = st.select("source").distinct()
        val pr = srcs.as("a").join(srcs.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("sa"), col("b.source").as("sb"))
        val ua = pr.join(broadcast(sk), col("sa") === sk("source"))
          .select(col("sa"), col("sb"), col("hv"), lit(1L).as("ia"), lit(0L).as("ib"))
        val ub = pr.join(broadcast(sk), col("sb") === sk("source"))
          .select(col("sa"), col("sb"), col("hv"), lit(0L).as("ia"), lit(1L).as("ib"))
        val u = ua.unionByName(ub).groupBy("sa", "sb", "hv")
          .agg(max("ia").as("ina"), max("ib").as("inb"))
        val wu = Window.partitionBy("sa", "sb").orderBy("hv")
        // denominator = kept union-sketch rows, NOT the nominal k: when
        // the merged sketch holds the ENTIRE union (both vocabularies
        // fit in k), dividing by k would bias the estimate low — with
        // the adaptive k_used the small-union regime is exact, the
        // standard KMV estimator (pinned by WideningInvariantSpec)
        val est = u.withColumn("rn", row_number().over(wu)).where(col("rn") <= 32)
          .groupBy("sa", "sb")
          .agg(sum(when(col("ina") === 1 && col("inb") === 1, 1L).otherwise(0L)).as("k_int"),
            count(lit(1)).as("k_used"))
        val cnt = st.groupBy("source").agg(count(lit(1)).as("n"))
        val intr = st.as("x")
          .join(st.as("y"), col("x.term") === col("y.term") && col("x.source") < col("y.source"))
          .select(col("x.source").as("sa"), col("y.source").as("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("n_inter"))
        est
          .join(intr, Seq("sa", "sb"), "left")
          .join(broadcast(cnt.select(col("source").as("sa"), col("n").as("na"))), "sa")
          .join(broadcast(cnt.select(col("source").as("sb"), col("n").as("nb"))), "sb")
          .select(col("sa"), col("sb"), col("k_int"), col("k_used"),
            expr("k_int * 10000 div k_used").as("est_bp"),
            coalesce(col("n_inter"), lit(0L)).as("n_inter"),
            (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))).as("n_union"))
          .withColumn("exact_bp", expr("n_inter * 10000 div n_union"))
          .orderBy("sa", "sb")
      },
      Some(s"""WITH st AS (SELECT DISTINCT source, unnest(string_split(lower(text), ' ')) AS term FROM documents), h AS (SELECT source, term, ${md5LongSql("term", 15)} AS hv FROM st), sk AS (SELECT source, hv FROM (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv, term) AS rn FROM h) z WHERE rn <= 32), srcs AS (SELECT DISTINCT source FROM documents), pr AS (SELECT a.source AS sa, b.source AS sb FROM srcs a JOIN srcs b ON a.source < b.source), u AS (SELECT sa, sb, hv, max(ia) AS ina, max(ib) AS inb FROM (SELECT pr.sa, pr.sb, sk.hv, 1 AS ia, 0 AS ib FROM pr JOIN sk ON sk.source = pr.sa UNION ALL SELECT pr.sa, pr.sb, sk.hv, 0, 1 FROM pr JOIN sk ON sk.source = pr.sb) q GROUP BY 1, 2, 3), ku AS (SELECT sa, sb, ina, inb, row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn FROM u), est AS (SELECT sa, sb, CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k_int, count(*) AS k_used FROM ku WHERE rn <= 32 GROUP BY 1, 2), cnt AS (SELECT source, count(*) AS n FROM st GROUP BY 1), intr AS (SELECT x.source AS sa, y.source AS sb, count(*) AS n_inter FROM st x JOIN st y ON x.term = y.term AND x.source < y.source GROUP BY 1, 2) SELECT est.sa, est.sb, est.k_int, est.k_used, est.k_int * 10000 // est.k_used AS est_bp, coalesce(intr.n_inter, 0) AS n_inter, na.n + nb.n - coalesce(intr.n_inter, 0) AS n_union, coalesce(intr.n_inter, 0) * 10000 // (na.n + nb.n - coalesce(intr.n_inter, 0)) AS exact_bp FROM est LEFT JOIN intr ON est.sa = intr.sa AND est.sb = intr.sb JOIN cnt na ON est.sa = na.source JOIN cnt nb ON est.sb = nb.source ORDER BY est.sa, est.sb"""),
      "§2.4-note/E2 ext: KMV bottom-32 sketches — pairwise source Jaccard without a corpus join"),

    // q236 — lexical-diversity audit: per source, token count, type
    // count, hapax count, and the type/token + hapax ratios in floor bp
    // — the repetitiveness signal curation uses to down-weight boilerplate
    // sources (low TTR = TEMPLATE mill). One (source, term) aggregate,
    // map-side combining; ratios are integer divisions.
    QuerySpec(
      "q236_lexical_diversity",
      (s, d) => {
        val tf = t(s, d, "documents")
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("tf"))
        tf.groupBy("source")
          .agg(sum("tf").as("n_tokens"), count(lit(1)).as("n_types"),
            sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
          .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
            expr("n_types * 10000 div n_tokens").as("ttr_bp"),
            expr("n_hapax * 10000 div n_types").as("hapax_bp"))
          .orderBy("source")
      },
      Some("""WITH tf AS (SELECT source, term, count(*) AS tf FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents) z GROUP BY 1, 2) SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens, count(*) AS n_types, CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax, count(*) * 10000 // CAST(sum(tf) AS BIGINT) AS ttr_bp, CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000 // count(*) AS hapax_bp FROM tf GROUP BY 1 ORDER BY 1"""),
      "E4 ext: per-source type/token + hapax lexical-diversity ratios"),

    // q237 — same-weekday seasonal baseline: each (type, day)'s count
    // against the sum of its previous TWO observed same-weekday days,
    // deviating in floor bp (n·2·10⁴ ÷ base − 10⁴). Weekday is epoch-day
    // mod 7 (identical integer in both engines — never the 0- vs
    // 1-indexed dayofweek builtins). The window partitions by
    // (type, weekday) over the tiny daily aggregate; the heavy lifting
    // is the map-side-combining daily count underneath.
    QuerySpec(
      "q237_weekday_baseline",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(col("event_type"), expr("unix_timestamp(ts) div 86400").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("event_type"), expr("day % 7"))
          .orderBy("day").rowsBetween(-2, -1)
        daily.withColumn("base", sum("n").over(w))
          .withColumn("nb", count(lit(1)).over(w))
          .where(col("nb") === 2)
          .select(col("event_type"), col("day"), col("n"), col("base"),
            expr("n * 20000 div base - 10000").as("dev_bp"))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS day, count(*) AS n FROM events GROUP BY 1, 2), w AS (SELECT event_type, day, n, CAST(sum(n) OVER (PARTITION BY event_type, day % 7 ORDER BY day ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS BIGINT) AS base, count(*) OVER (PARTITION BY event_type, day % 7 ORDER BY day ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS nb FROM daily) SELECT event_type, day, n, base, n * 20000 // base - 10000 AS dev_bp FROM w WHERE nb = 2 ORDER BY event_type, day"""),
      "§2.5 ext: same-weekday trailing baseline — integer seasonal deviation"))
}

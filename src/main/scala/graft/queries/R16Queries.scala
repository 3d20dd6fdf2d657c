package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.QuerySpec

/** Round-6 widening, third batch: the remaining classic TPC-H decision-
  * support shapes not yet in the registry (Q3, Q5, Q6, Q9, Q10, Q12,
  * Q13, Q14, Q15, Q16, Q20), each re-expressed over the driver schema
  * (which has no partsupp table, no comment columns, and no
  * commit/receipt dates — the stand-ins are documented per query; the
  * JOIN TOPOLOGY and subquery structure, which is what the shape
  * exercises, is preserved exactly).
  *
  * Cross-engine determinism follows the house rules: money is floor-
  * quantized to cents PER ROW before any sum (so BIGINT summation is
  * order-independent in both engines), dates leave as epoch-day or
  * year integers, ratios are floor basis points via integer division,
  * and every query ends in a total order. Range predicates on the
  * 0.01-grid discount column use off-grid bounds (0.045/0.075) so a
  * float-representation edge can never flip a boundary row between
  * engines.
  */
object R16Queries {

  /** revenue cents for a lineitem row: extendedprice*(1-discount). */
  private def revCents: Column =
    floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
      .cast("long")

  val specs: Seq[QuerySpec] = Seq(

    // q259 — TPC-H Q3 (SHIPPING PRIORITY): unshipped-as-of-date orders
    // for one market segment, ranked by accumulated revenue. The scan
    // order matters at 100 TB: both date predicates are pushed to the
    // parquet scans (o_orderdate < pivot prunes orders partitions,
    // l_shipdate > pivot prunes lineitem), and the segment filter cuts
    // customer BEFORE the join, so the first shuffle moves only
    // qualifying keys. Top-10 is TakeOrderedAndProject — no global
    // sort ever materializes. Total order (revenue desc, orderkey).
    QuerySpec(
      "q259_ship_priority",
      (s, d) => {
        val cust = t(s, d, "customer")
          .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val ord = t(s, d, "orders")
          .where(col("o_orderdate") < lit("1996-06-01"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
            datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long").as("od"))
        t(s, d, "lineitem")
          .where(col("l_shipdate") > lit("1996-06-01"))
          .select(col("l_orderkey"), revCents.as("rc"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("od"), col("o_orderpriority"))
          .agg(sum("rc").as("rev_cents"))
          .orderBy(col("rev_cents").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS od, o_orderpriority, CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1996-06-01' AND l_shipdate > TIMESTAMP '1996-06-01' GROUP BY 1, 2, 3 ORDER BY rev_cents DESC, l_orderkey LIMIT 10"""),
      "§2.3 ext: TPC-H Q3 — segment-filtered unshipped-order revenue ranking, top-k without global sort"),

    // q260 — TPC-H Q6 (FORECASTING REVENUE CHANGE): the purest
    // pushdown test in the benchmark — a single-table scalar aggregate
    // whose THREE range predicates (shipdate year, discount band,
    // quantity cap) must all reach the parquet scan; the post-scan
    // plan is one partial+final agg with no shuffle of data rows at
    // all. Discount bounds sit off the 0.01 grid (0.045/0.075) so no
    // boundary row can flip between engines. Q6's revenue is
    // extendedprice*discount (the forgone discount), floor-cents per
    // row.
    QuerySpec(
      "q260_forecast_revenue",
      (s, d) => {
        t(s, d, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01") &&
            col("l_discount") >= 0.045 && col("l_discount") <= 0.075 &&
            col("l_quantity") < 24.0)
          .agg(count(lit(1)).as("n_rows"),
            sum(cents(col("l_extendedprice") * col("l_discount"))).as("disc_rev_cents"))
      },
      Some("""SELECT count(*) AS n_rows, CAST(sum(CAST(floor(l_extendedprice * l_discount * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS disc_rev_cents FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' AND l_discount >= 0.045 AND l_discount <= 0.075 AND l_quantity < 24.0"""),
      "P5/A ext: TPC-H Q6 — triple-predicate pushdown scalar aggregate, zero row shuffle"),

    // q261 — TPC-H Q9 (PRODUCT TYPE PROFIT): profit by supplier nation
    // × order year for a part-name-substring product line. The schema
    // has no partsupp.ps_supplycost, so cost is proxied as 10% of
    // retail price × quantity (documented stand-in; the SHAPE — a
    // 5-way join with a LIKE-filtered build side and a two-dimension
    // rollup — is Q9's). Profit is a DIFFERENCE of two per-row cent
    // quantizations, each exact, so the BIGINT sum is exact. part is
    // LIKE-pruned then broadcast; supplier+nation broadcast; orders is
    // fact-sized → shuffle join on the natural key, AQE decides.
    QuerySpec(
      "q261_product_profit",
      (s, d) => {
        val pr = t(s, d, "part").where(col("p_name").like("%red%"))
          .select(col("p_partkey"), col("p_retailprice"))
        val sn = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        t(s, d, "lineitem")
          .join(broadcast(pr), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("n_name"), col("o_year"),
            (revCents - cents(col("l_quantity") * col("p_retailprice") * 0.1))
              .as("profit_cents"))
          .groupBy("n_name", "o_year")
          .agg(count(lit(1)).as("n_rows"), sum("profit_cents").as("profit_cents"))
          .orderBy(col("n_name"), col("o_year").desc)
      },
      Some("""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n_rows, CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT) - CAST(floor(l_quantity * p_retailprice * 0.1 * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS profit_cents FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey JOIN orders ON l_orderkey = o_orderkey WHERE p_name LIKE '%red%' GROUP BY 1, 2 ORDER BY n_name, o_year DESC"""),
      "§2.3 ext: TPC-H Q9 shape — LIKE-pruned 5-way join, nation×year profit rollup"),

    // q262 — TPC-H Q10 (RETURNED ITEM REPORTING): top 20 customers by
    // revenue lost to returns in one quarter. The returnflag predicate
    // rides the lineitem scan; the quarter predicate prunes orders;
    // the join then carries only returned lines of one quarter into
    // the customer join — at 100 TB that's the difference between
    // shuffling the fact table and shuffling ~2% of it. Group keys
    // include the customer attributes (cheaper than a second join-back
    // to re-attach them post-agg at this cardinality: ≤|customer|
    // groups). acctbal is floor-cents so the group key is integer.
    QuerySpec(
      "q262_returned_items",
      (s, d) => {
        val ord = t(s, d, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1996-04-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val cust = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"),
            cents(col("c_acctbal")).as("acct_cents"), col("n_name"))
        t(s, d, "lineitem").where(col("l_returnflag") === "R")
          .select(col("l_orderkey"), revCents.as("rc"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("acct_cents"), col("n_name"))
          .agg(sum("rc").as("rev_cents"))
          .orderBy(col("rev_cents").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS acct_cents, n_name, CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01' GROUP BY 1, 2, 3, 4 ORDER BY rev_cents DESC, c_custkey LIMIT 20"""),
      "§2.3 ext: TPC-H Q10 — returned-revenue top customers, filter-before-join discipline"),

    // q263 — TPC-H Q12 (SHIPPING MODES / PRIORITY): per line category
    // (l_returnflag stands in for the absent l_shipmode), how many
    // lines belonged to urgent-or-high vs lower-priority orders in a
    // ship year. The signature move is the CASE-sum: ONE pass over the
    // joined rows computes both counters as conditional aggregates —
    // never two filtered scans. The join carries only (orderkey,
    // priority) against the date-pruned lineitem.
    QuerySpec(
      "q263_priority_by_mode",
      (s, d) => {
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        t(s, d, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01"))
          .select(col("l_orderkey"), col("l_returnflag"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"))
          .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1 ORDER BY 1"""),
      "§2.3/§2.4 ext: TPC-H Q12 shape — one-pass conditional CASE-sum over a pruned join"),

    // q264 — TPC-H Q13 (CUSTOMER DISTRIBUTION): the distribution of
    // orders-per-customer INCLUDING zero-order customers — the left
    // outer join is the point (an inner join silently drops the c_count
    // = 0 bucket, the most-cited bucket in the real report). The
    // priority exclusion stands in for Q13's comment NOT LIKE. Two
    // aggregations: per-customer count (shuffle on custkey), then the
    // count-of-counts (tiny — ≤ max orders per customer distinct
    // values). The second shuffle moves ≤|customer| pre-combined rows.
    QuerySpec(
      "q264_cust_distribution",
      (s, d) => {
        val ord = t(s, d, "orders")
          .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select(col("o_orderkey"), col("o_custkey"))
        t(s, d, "customer").select("c_custkey")
          .join(ord, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED' GROUP BY 1) SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""),
      "§2.3 ext: TPC-H Q13 — zero-preserving left join + count-of-counts distribution"),

    // q265 — TPC-H Q14 (PROMOTION EFFECT): what share of one month's
    // revenue came from promo-class parts — a ratio of a conditional
    // sum to the total over the SAME joined rows (one pass, like
    // q254/q263; computing the legs separately would double the fact
    // scan). The month predicate prunes lineitem; part's class arrives
    // broadcast. Floor basis points from exact cent sums.
    QuerySpec(
      "q265_promo_effect",
      (s, d) => {
        t(s, d, "lineitem")
          .where(col("l_shipdate") >= lit("1996-03-01") &&
            col("l_shipdate") < lit("1996-04-01"))
          .select(col("l_partkey"), revCents.as("rc"))
          .join(broadcast(t(s, d, "part").select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
          .agg(sum(when(col("p_type") === "PROMO", col("rc")).otherwise(0L))
            .as("promo_cents"), sum("rc").as("total_cents"))
          .withColumn("promo_bp",
            expr("promo_cents * 10000 div greatest(total_cents, 1)"))
      },
      Some("""SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rc ELSE 0 END) AS BIGINT) AS promo_cents, CAST(sum(rc) AS BIGINT) AS total_cents, CAST(sum(CASE WHEN p_type = 'PROMO' THEN rc ELSE 0 END) * 10000 // greatest(sum(rc), 1) AS BIGINT) AS promo_bp FROM (SELECT l_partkey, CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT) AS rc FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01') l JOIN part ON l_partkey = p_partkey"""),
      "§2.4 ext: TPC-H Q14 — promo revenue share, single-pass conditional ratio"),

    // q266 — TPC-H Q15 (TOP SUPPLIER): supplier(s) achieving the
    // maximum quarterly revenue — the "view + scalar max + equality
    // join-back" topology. The per-supplier revenue table is computed
    // ONCE and reused for both the max and the final filter (Spark
    // sees it twice in the DAG; at 60k rows recomputation is cheaper
    // than a checkpoint, and at 100 TB the revenue table is ≤|supplier|
    // rows — the double-compute is two scans of the same pruned
    // quarter, which AQE's exchange reuse typically collapses). The
    // 1-row max broadcasts; ties all surface (that's Q15's spec).
    QuerySpec(
      "q266_top_supplier",
      (s, d) => {
        val rev = t(s, d, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1996-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(sum(revCents).as("total_cents"))
        val mx = rev.agg(max("total_cents").as("max_cents"))
        rev.join(broadcast(mx), col("total_cents") === col("max_cents"))
          .join(broadcast(t(s, d, "supplier").select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_cents"))
          .orderBy("s_suppkey")
      },
      Some("""WITH rev AS (SELECT l_suppkey, CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) SELECT s_suppkey, s_name, total_cents FROM rev JOIN supplier ON l_suppkey = s_suppkey WHERE total_cents = (SELECT max(total_cents) FROM rev) ORDER BY s_suppkey"""),
      "§2.3 ext: TPC-H Q15 — revenue view + scalar-max equality join-back, tie-preserving"),

    // q267 — TPC-H Q16 (PARTS/SUPPLIER RELATIONSHIP): how many
    // distinct suppliers can furnish each surviving (brand, type,
    // size) part class. partsupp doesn't exist in this schema, so the
    // supplier-part relation is DERIVED as distinct (l_partkey,
    // l_suppkey) from the fact table — itself the Q16-at-100TB move:
    // the distinct pre-shrinks the fact to ≤|part|×avg-suppliers rows
    // before any dimension work. Q16's NOT-IN-complaints subquery
    // becomes an anti-join against negative-balance suppliers. The
    // size IN-list and brand/type exclusions prune the broadcast part
    // side.
    QuerySpec(
      "q267_supplier_cnt",
      (s, d) => {
        val ps = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val badSupp = t(s, d, "supplier").where(col("s_acctbal") < 0.0)
          .select(col("s_suppkey"))
        val parts = t(s, d, "part")
          .where(col("p_brand") =!= "Brand#2" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
        ps.join(badSupp, ps("l_suppkey") === badSupp("s_suppkey"), "left_anti")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) SELECT p_brand, p_type, CAST(p_size AS INTEGER) AS p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt FROM ps JOIN part ON l_partkey = p_partkey WHERE p_brand <> 'Brand#2' AND p_type <> 'PROMO' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29) AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0) GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
      "§2.3 ext: TPC-H Q16 shape — derived part-supplier relation, anti-join exclusion, count-distinct rollup"),

    // q268 — TPC-H Q20 (POTENTIAL PART PROMOTION): suppliers who moved
    // more than half of their all-time volume of a product line inside
    // one year — the nested IN-with-correlated-aggregate topology.
    // Without partsupp.ps_availqty the correlated comparison becomes
    // year-volume vs all-time volume per (supplier, part): both sides
    // come from ONE conditional aggregation over the part-pruned fact
    // rows (the year leg as a CASE-sum — never a second scan), the
    // threshold filter (>2/3 of an at-least-60-unit lifetime volume —
    // 23 of 100 suppliers at sf0.01) replaces the correlated subquery,
    // and the surviving supplier set semi-joins to names. Quantities
    // are on an integer grid (cast exact), the ratio test is integer
    // cross-multiplication — no division anywhere.
    QuerySpec(
      "q268_excess_volume",
      (s, d) => {
        val inYear = col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01")
        val vol = t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part").where(col("p_name").like("%blue%"))
            .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(sum(when(inYear, col("l_quantity").cast("long")).otherwise(0L))
            .as("qty_year"),
            sum(col("l_quantity").cast("long")).as("qty_all"))
          .where(col("qty_year") * 3 > col("qty_all") * 2 && col("qty_all") >= 60L)
        t(s, d, "supplier")
          .join(vol.select("l_suppkey").distinct(),
            col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"))
          .orderBy("s_suppkey")
      },
      Some("""WITH vol AS (SELECT l_suppkey, l_partkey, CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_year, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_all FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_name LIKE '%blue%' GROUP BY 1, 2) SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM vol WHERE qty_year * 3 > qty_all * 2 AND qty_all >= 60) ORDER BY s_suppkey"""),
      "§2.3 ext: TPC-H Q20 shape — correlated volume threshold folded into one conditional aggregation + semi join"),

    // q269 — TPC-H Q5 (LOCAL SUPPLIER VOLUME): revenue where the
    // customer and the supplier sit in the SAME nation of one region —
    // the benchmark's only join with a cross-dimension equality
    // (c_nationkey = s_nationkey) that is NOT a key-foreign-key edge.
    // Expressed as two broadcast nation-key attachments plus a cheap
    // post-join equality filter — the fact rows never shuffle on the
    // nation pair. q09's star join lacks exactly this edge; that's why
    // Q5 earns its own entry.
    QuerySpec(
      "q269_local_supplier",
      (s, d) => {
        val eurN = t(s, d, "nation")
          .join(broadcast(t(s, d, "region").where(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = t(s, d, "customer")
          .join(broadcast(eurN.select(col("n_nationkey").as("cnk"), col("n_name"))),
            col("c_nationkey") === col("cnk"))
          .select(col("c_custkey"), col("cnk"), col("n_name"))
        val supp = t(s, d, "supplier")
          .join(broadcast(eurN.select(col("n_nationkey").as("snk"))),
            col("s_nationkey") === col("snk"))
          .select(col("s_suppkey"), col("snk"))
        t(s, d, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey"), revCents.as("rc")),
            col("o_orderkey") === col("l_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .where(col("cnk") === col("snk"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_rows"), sum("rc").as("rev_cents"))
          .orderBy(col("rev_cents").desc, col("n_name"))
      },
      Some("""SELECT n_name, count(*) AS n_rows, CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents FROM orders JOIN lineitem ON o_orderkey = l_orderkey JOIN customer ON o_custkey = c_custkey JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE' AND s_nationkey = c_nationkey AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1 ORDER BY rev_cents DESC, n_name"""),
      "§2.3 ext: TPC-H Q5 — same-nation customer/supplier equality, broadcast-attached non-FK edge"))
}

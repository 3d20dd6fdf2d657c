package graft.queries

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core (SURVEY.md §2.1–§2.9, §7.2 phase 1-2): scans,
  * projections, predicates, aggregations, sorts/top-k, joins, set ops,
  * windows, stats. All built-in Catalyst expressions — pushdown, partial
  * aggregation, broadcast-join selection and AQE come for free.
  *
  * Scale notes are per-query in the doc strings: dimension tables are
  * explicitly broadcast, fact-fact joins shuffle on their keys, and no
  * query collects to the driver.
  */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(

    // ------------------------------------------------------------------
    // q01 — flagship: Bucketizer-analog CASE ladder + group-agg + sort.
    // Models reference DataCorrelator.java:41-51 (age buckets → avg/max).
    QuerySpec(
      "q01_bucket_agg",
      (s, d) => {
        val li = t(s, d, "lineitem")
        li.withColumn("qty_bucket",
            when(col("l_quantity") < 10, 0L).when(col("l_quantity") < 20, 1L)
              .when(col("l_quantity") < 30, 2L).when(col("l_quantity") < 40, 3L)
              .otherwise(4L))
          .groupBy("qty_bucket")
          .agg(
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(max("l_discount"), 4).as("max_disc"),
            count(lit(1)).as("cnt"))
          .orderBy("qty_bucket")
      },
      Some("""SELECT CAST(CASE WHEN l_quantity < 10 THEN 0 WHEN l_quantity < 20 THEN 1 WHEN l_quantity < 30 THEN 2 WHEN l_quantity < 40 THEN 3 ELSE 4 END AS BIGINT) AS qty_bucket, round(avg(l_extendedprice), 4) AS avg_price, round(max(l_discount), 4) AS max_disc, count(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY qty_bucket"""),
      "T9/A1/O1: bucketize + groupBy(avg,max) + orderBy"),

    // q02 — projection / alias / cast (P1-P4). ANSI-safe arithmetic.
    QuerySpec(
      "q02_project_cast",
      (s, d) => {
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net_price"),
            floor(col("l_quantity")).cast("long").as("qty_long"),
            upper(col("l_returnflag")).as("flag"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, round(l_extendedprice * (1 - l_discount), 4) AS net_price, CAST(floor(l_quantity) AS BIGINT) AS qty_long, upper(l_returnflag) AS flag FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
      "P1-P4: select/alias/cast/expr projection"),

    // q03 — predicate families the reference lacks (§2.2 note):
    // range, BETWEEN, IN, compound boolean; pushed to the parquet scan.
    QuerySpec(
      "q03_filter_pred",
      (s, d) => {
        t(s, d, "lineitem")
          .where(
            col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
            col("l_quantity").between(5, 45) &&
            col("l_returnflag").isin("A", "R") &&
            (col("l_discount") > 0.05 || col("l_tax") < 0.03))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_quantity BETWEEN 5 AND 45 AND l_returnflag IN ('A', 'R') AND (l_discount > 0.05 OR l_tax < 0.03) ORDER BY l_orderkey, l_linenumber"""),
      "P5+: range/BETWEEN/IN/compound predicates, parquet pushdown"),

    // q04 — TPC-H-Q1-style multi-agg (A1/A2). Partial agg map-side; the
    // only shuffle is 6 groups wide.
    QuerySpec(
      "q04_group_agg",
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            min("l_discount").as("min_disc"),
            max("l_discount").as("max_disc"),
            count(lit(1)).as("cnt"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, round(avg(l_extendedprice), 4) AS avg_price, min(l_discount) AS min_disc, max(l_discount) AS max_disc, count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
      "A1/A2: multi-key groupBy with sum/avg/min/max/count"),

    // q05 — label histogram (A3/A4 — RandomForest.java:43,87 analog).
    QuerySpec(
      "q05_group_count",
      (s, d) => {
        t(s, d, "orders")
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("o_orderstatus", "o_orderpriority")
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""),
      "A3/A4: groupBy count histogram / confusion-matrix shape"),

    // q06 — describe() re-expressed as explicit aggregates (A5) so the
    // oracle can check it.
    QuerySpec(
      "q06_describe",
      (s, d) => {
        t(s, d, "lineitem").agg(
          count(lit(1)).as("cnt"),
          round(avg("l_quantity"), 4).as("qty_mean"),
          round(stddev_samp(col("l_quantity")), 4).as("qty_std"),
          min("l_quantity").as("qty_min"),
          max("l_quantity").as("qty_max"),
          round(avg("l_extendedprice"), 4).as("price_mean"),
          round(stddev_samp(col("l_extendedprice")), 2).as("price_std"),
          min("l_extendedprice").as("price_min"),
          max("l_extendedprice").as("price_max"),
          round(avg("l_discount"), 6).as("disc_mean"))
      },
      Some("""SELECT count(*) AS cnt, round(avg(l_quantity), 4) AS qty_mean, round(stddev_samp(l_quantity), 4) AS qty_std, min(l_quantity) AS qty_min, max(l_quantity) AS qty_max, round(avg(l_extendedprice), 4) AS price_mean, round(stddev_samp(l_extendedprice), 2) AS price_std, min(l_extendedprice) AS price_min, max(l_extendedprice) AS price_max, round(avg(l_discount), 6) AS disc_mean FROM lineitem"""),
      "A5: describe() as explicit count/mean/std/min/max aggregates"),

    // q07 — top-k: Spark plans TakeOrderedAndProject (no global sort of
    // the full table). Unique tiebreak key for determinism.
    QuerySpec(
      "q07_sort_topk",
      (s, d) => {
        t(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
      "O1-O3: multi-key desc sort + limit → TakeOrderedAndProject"),

    // q08 — equi inner join; customer is a dimension → broadcast hash
    // join, no shuffle of orders.
    QuerySpec(
      "q08_join_inner",
      (s, d) => {
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, c_name, c_mktsegment, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"""),
      "§2.3: broadcast-hash equi inner join"),

    // q09 — 5-way star join + revenue rollup. lineitem is pre-aggregated
    // by its join key BEFORE the join: the group key (nation) is
    // functionally determined by the order, so per-order partial sums are
    // exact, the fact-fact shuffle carries one row per order instead of
    // one per line, and countDistinct(o_orderkey) degenerates to count(*)
    // — no Expand doubling the agg input. customer/nation/region
    // broadcast. This is the plan shape that must survive 100 TB: one
    // pre-shrunk fact shuffle, everything else map-side.
    QuerySpec(
      "q09_star_join",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        val r = t(s, d, "region")
        val liAgg = li.groupBy("l_orderkey").agg(
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_o"),
          count(lit(1)).as("nl"))
        liAgg.join(o, liAgg("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            round(sum("rev_o"), 4).as("revenue"),
            count(lit(1)).as("n_orders"),
            sum("nl").as("n_lines"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, count(DISTINCT o_orderkey) AS n_orders, count(*) AS n_lines FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
      "§2.3: star join lineitem⋈orders⋈customer⋈nation⋈region"),

    // q10 — left outer join + agg preserving customers with no orders.
    QuerySpec(
      "q10_join_left",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_custkey", "c_name")
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            coalesce(round(sum("o_totalprice"), 2), lit(0.0)).as("total_spend"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders, coalesce(round(sum(o_totalprice), 2), 0.0) AS total_spend FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey, c_name ORDER BY c_custkey"""),
      "§2.3: left outer join + null-aware aggregation"),

    // q11 — left semi join (EXISTS).
    QuerySpec(
      "q11_join_semi",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").where(col("o_orderstatus") === "F")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F') ORDER BY c_custkey"""),
      "§2.3: left semi join = EXISTS"),

    // q12 — left anti join (NOT EXISTS).
    QuerySpec(
      "q12_join_anti",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_acctbal")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"""),
      "§2.3: left anti join = NOT EXISTS"),

    // q13 — set ops (§2.7): INTERSECT / EXCEPT / UNION ALL in one query.
    QuerySpec(
      "q13_setops",
      (s, d) => {
        val rich = t(s, d, "customer").where(col("c_acctbal") > 5000).select("c_custkey")
        val fBuyers = t(s, d, "orders").where(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")).distinct()
        rich.intersect(fBuyers).withColumn("tag", lit("both"))
          .union(rich.except(fBuyers).withColumn("tag", lit("only_rich")))
          .orderBy("tag", "c_custkey")
      },
      Some("""SELECT c_custkey, 'both' AS tag FROM ((SELECT c_custkey FROM customer WHERE c_acctbal > 5000) INTERSECT (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')) UNION ALL SELECT c_custkey, 'only_rich' AS tag FROM ((SELECT c_custkey FROM customer WHERE c_acctbal > 5000) EXCEPT (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')) ORDER BY tag, c_custkey"""),
      "§2.7: INTERSECT + EXCEPT + UNION ALL"),

    // q14 — na.drop cleaner (P7 — DataCorrelator.java:40): null out zero
    // discounts/taxes, then drop any row containing a null.
    QuerySpec(
      "q14_na_drop",
      (s, d) => {
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            when(col("l_discount") =!= 0, col("l_discount")).as("disc"),
            when(col("l_tax") =!= 0, col("l_tax")).as("tax"))
          .na.drop()
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_discount AS disc, l_tax AS tax FROM lineitem WHERE l_discount <> 0 AND l_tax <> 0 ORDER BY l_orderkey, l_linenumber"""),
      "P7: na.drop() over derived nullable columns"),

    // q15 — JSON extraction from events.props (§2.9).
    QuerySpec(
      "q15_json_extract",
      (s, d) => {
        t(s, d, "events")
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k"),
            col("event_type"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, CAST(regexp_extract(props, '\"k\":\\s*(\\d+)', 1) AS BIGINT) AS k, event_type FROM events ORDER BY event_id"),
      "§2.9: get_json_object over JSON props"),

    // q16 — deterministic train/test split (R1 oracle variant,
    // SURVEY.md §2.8): key modulo instead of unseeded randomSplit
    // (reference TfIdfCalculator.java:126 is nondeterministic — a bug our
    // engine does not reproduce).
    QuerySpec(
      "q16_hash_split",
      (s, d) => {
        t(s, d, "orders")
          .withColumn("is_train", (col("o_orderkey") % 10 < 7).cast("int"))
          .groupBy("is_train")
          .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy("is_train")
      },
      Some("""SELECT CAST(o_orderkey % 10 < 7 AS INT) AS is_train, count(*) AS cnt, round(sum(o_totalprice), 2) AS total FROM orders GROUP BY 1 ORDER BY is_train"""),
      "R1: deterministic 70/30 split via key modulo"),

    // q17 — date part extraction + monthly rollup (§2.9).
    QuerySpec(
      "q17_date_parts",
      (s, d) => {
        t(s, d, "orders")
          .groupBy(
            year(col("o_orderdate")).cast("long").as("yr"),
            month(col("o_orderdate")).cast("long").as("mo"))
          .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy("yr", "mo")
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, CAST(month(o_orderdate) AS BIGINT) AS mo, count(*) AS cnt, round(sum(o_totalprice), 2) AS total FROM orders GROUP BY 1, 2 ORDER BY yr, mo"""),
      "§2.9: year/month extraction + monthly aggregation"),

    // q18 — string scalar functions over documents (§2.9).
    QuerySpec(
      "q18_string_funcs",
      (s, d) => {
        t(s, d, "documents")
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars2"),
            upper(substring(col("text"), 1, 12)).as("prefix"),
            col("text").like("%spark%").cast("int").as("has_spark"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2, upper(substr(text, 1, 12)) AS prefix, CAST(text LIKE '%spark%' AS INT) AS has_spark, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents ORDER BY doc_id"""),
      "§2.9: length/substr/upper/LIKE/split string functions"),

    // q19 — Pearson correlation (A6 — DataCorrelator.java:69-70) as a
    // single-row aggregate; df.stat.corr is the same expression.
    QuerySpec(
      "q19_corr",
      (s, d) => {
        t(s, d, "lineitem").agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(corr(col("l_extendedprice"), col("l_discount")), 6).as("corr_price_disc"),
          round(corr(col("l_quantity"), col("l_tax")), 6).as("corr_qty_tax"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"))
      },
      Some("""SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price, round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc, round(corr(l_quantity, l_tax), 6) AS corr_qty_tax, round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price FROM lineitem"""),
      "A6: corr()/covar_samp() scalar statistics"),

    // q20 — ranking window functions (§2.5): top-3 orders per customer.
    QuerySpec(
      "q20_window_rank",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, d, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("long").as("rn"),
            rank().over(w).cast("long").as("rk"),
            dense_rank().over(w).cast("long").as("drk"))
          .where(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, CAST(row_number() OVER w AS BIGINT) AS rn, CAST(rank() OVER w AS BIGINT) AS rk, CAST(dense_rank() OVER w AS BIGINT) AS drk FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)) WHERE rn <= 3 ORDER BY o_custkey, rn"""),
      "§2.5: row_number/rank/dense_rank partitioned window"),

    // q21 — running aggregate + lag over an explicit row frame (§2.5).
    QuerySpec(
      "q21_window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, d, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"),
            round(sum("o_totalprice").over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("run_total"),
            coalesce(round(lag("o_totalprice", 1).over(w), 2), lit(-1.0)).as("prev_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_total, coalesce(round(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2), -1.0) AS prev_price FROM orders ORDER BY o_custkey, o_orderkey"""),
      "§2.5: running sum frame + lag"),

    // q45 — range (theta) join, bucketed for scale: pairs of events from
    // the same user ≤5 min apart. Implemented as an equi-join on
    // (user_id, 5-min epoch bucket) with the exact range predicate applied
    // after — O(n·density), not O(n²). The oracle is the naive theta join.
    QuerySpec(
      "q45_range_join",
      (s, d) => {
        val ev = t(s, d, "events")
        val e1 = ev.select(
          col("user_id"), col("ts").as("ts1"),
          floor(unix_timestamp(col("ts")) / 300).as("b0"))
        val e1x = e1.withColumn("b", explode(array(col("b0"), col("b0") + 1))).drop("b0")
        val e2 = ev.select(
          col("user_id"), col("ts").as("ts2"),
          floor(unix_timestamp(col("ts")) / 300).as("b"))
        e1x.join(e2, Seq("user_id", "b"))
          .where(col("ts2") > col("ts1") &&
            col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTE"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) SELECT e1.user_id AS user_id, count(*) AS n_pairs FROM ev e1 JOIN ev e2 ON e2.user_id = e1.user_id AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 5 MINUTE GROUP BY 1 ORDER BY 1"""),
      "§2.3: range join via time-bucket equi-join prefilter"),

    // q46 — ROLLUP hierarchy totals.
    QuerySpec(
      "q46_rollup",
      (s, d) => {
        t(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("status"),
            col("sum_qty"), col("cnt"))
          .orderBy("flag", "status")
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY flag, status"""),
      "§2.4 ext: rollup with subtotals"),

    // q47 — pivot to wide form; oracle is the conditional-agg expansion.
    QuerySpec(
      "q47_pivot",
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(round(sum(col("l_quantity")), 2))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F", round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O" FROM lineitem GROUP BY 1 ORDER BY 1"""),
      "§2.4 ext: pivot = conditional aggregation"),

    // q48 — exact distinct aggregates.
    QuerySpec(
      "q48_distinct_agg",
      (s, d) => {
        t(s, d, "lineitem").agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          round(sum_distinct(col("l_quantity")), 2).as("sum_dq"))
      },
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps, round(sum(DISTINCT l_quantity), 2) AS sum_dq FROM lineitem"""),
      "§2.4 ext: count(DISTINCT)/sum(DISTINCT)"),

    // q49 — HLL sketch (approx_count_distinct). The estimates themselves
    // differ across engines, so the oracle-comparable surface is the
    // SURVEY §2.4-note pairing: exact distinct counts plus a bounded-
    // relative-error flag (each engine checks ITS OWN sketch against the
    // exact count). Spark's sketch runs at rsd=0.02 so the 0.05 bound is
    // a 2.5σ margin — at the DEFAULT rsd=0.05 the bound would sit at 1σ
    // and flip on ~1/3 of datasets; DuckDB's sketch error is ~1.6%.
    QuerySpec(
      "q49_approx_distinct",
      (s, d) => {
        t(s, d, "lineitem").agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("cnt"),
          (abs(approx_count_distinct(col("l_partkey"), 0.02) - countDistinct(col("l_partkey")))
            / countDistinct(col("l_partkey")) <= 0.05).cast("long").as("parts_ok"),
          (abs(approx_count_distinct(col("l_suppkey"), 0.02) - countDistinct(col("l_suppkey")))
            / countDistinct(col("l_suppkey")) <= 0.05).cast("long").as("supps_ok"))
      },
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps, count(*) AS cnt, CAST(abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey)) * 1.0 / count(DISTINCT l_partkey) <= 0.05 AS BIGINT) AS parts_ok, CAST(abs(approx_count_distinct(l_suppkey) - count(DISTINCT l_suppkey)) * 1.0 / count(DISTINCT l_suppkey) <= 0.05 AS BIGINT) AS supps_ok FROM lineitem"""),
      "§2.4 note: HLL sketch vs exact, bounded-relative-error oracle"),

    // q50 — VectorAssembler analog (T7b): assemble numeric cols into an
    // array, reduce with the L1 norm so the output is scalar-comparable.
    QuerySpec(
      "q50_vector_assemble",
      (s, d) => {
        t(s, d, "customer")
          .select(
            col("c_custkey"),
            lit(2L).as("feat_dim"),
            round(graft.ops.VectorOps.l1norm(
              array(col("c_acctbal"), col("c_nationkey").cast("double"))), 4).as("feat_l1"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, CAST(2 AS BIGINT) AS feat_dim, round(abs(c_acctbal) + abs(CAST(c_nationkey AS DOUBLE)), 4) AS feat_l1 FROM customer ORDER BY c_custkey"""),
      "T7b/T8b: assemble feature array + L1 reduction"),

    // q116 — TPC-H-Q4 shape: order-priority counts over a date window
    // where ANY lineitem exists past a ship date — EXISTS decorrelates to
    // a left-semi join that shuffles only the order keys.
    QuerySpec(
      "q116_exists_agg",
      (s, d) => {
        val o = t(s, d, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                 col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val late = t(s, d, "lineitem")
          .where(col("l_shipdate") >= lit("1998-06-01").cast("timestamp"))
          .select(col("l_orderkey"))
        o.join(late, o("o_orderkey") === late("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '1998-06-01') GROUP BY 1 ORDER BY 1"""),
      "§2.3/§2.4: TPC-H Q4 shape — EXISTS + priority counts"),

    // q117 — TPC-H-Q19 shape: join with DISJUNCTIVE bracket predicates
    // (OR of AND-groups mixing both sides) — Catalyst extracts the common
    // p_partkey equi-condition and pushes the residual disjunction.
    QuerySpec(
      "q117_disjunctive_join",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val p = t(s, d, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey") && (
            (p("p_size").between(1, 15) && li("l_quantity").between(1, 20)) ||
            (p("p_size").between(16, 35) && li("l_quantity").between(20, 40))))
          .agg(
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some("""SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, count(*) AS n_lines FROM lineitem JOIN part ON l_partkey = p_partkey AND ((p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20) OR (p_size BETWEEN 16 AND 35 AND l_quantity BETWEEN 20 AND 40))"""),
      "§2.3 ext: TPC-H Q19 shape — disjunctive join predicates"))
}

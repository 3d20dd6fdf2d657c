package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables

/** Round-5 widening, third batch: edit-distance blocked matching
  * (completing the string-similarity family next to Jaro-Winkler),
  * a zone-map file-skipping audit (the manifest-side half of the
  * q174/q215 layout story), a sequential-fold EWMA (order-pinned
  * array math), a referential-integrity / data-contract audit, and a
  * CDC MERGE (upsert/delete/insert apply — the mutation counterpart
  * of q195's version diff). All fully DuckDB-oracled.
  */
object R10Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q221 — edit-distance blocked matching: the Levenshtein member of
    // the string-similarity family (q177 is Jaro-Winkler on the same
    // blocking scheme — last-2-char blocks keep the pair space ~1/|Σ|²
    // of all-pairs). Distance is INTEGER, so unlike every similarity
    // score in the suite this one carries zero float risk end-to-end.
    // Both engines implement the same unit-cost DP. Scale: pairs exist
    // only within blocks (equi-join); per-pair cost is O(|a|·|b|) DP —
    // the blocked shape is exactly how record-linkage runs at 100 TB.
    QuerySpec(
      "q221_levenshtein_block",
      (s, d) => {
        R6Queries.nameBlockPairs(s, d)
          .select(col("blk"), levenshtein(col("na"), col("nb")).cast("long").as("m"))
          .groupBy("blk")
          .agg(count(lit(1)).as("n_pairs"),
            sum((col("m") <= 2).cast("long")).as("n_close"),
            min("m").as("min_lev"), max("m").as("max_lev"))
          .orderBy("blk")
      },
      Some(s"""${R6Queries.nameBlockPairSql("CAST(levenshtein(a.nm, b.nm) AS BIGINT)")} SELECT blk, count(*) AS n_pairs, CAST(sum(CASE WHEN m <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_close, min(m) AS min_lev, max(m) AS max_lev FROM p GROUP BY 1 ORDER BY blk"""),
      "§2.9/E1 ext: blocked Levenshtein matching — integer edit distance, zero float risk"),

    // q222 — zone-map file-skipping audit (the planner-side half of the
    // layout story: q174 measures how LAYOUT bounds zone spans, q215
    // plans compaction, THIS measures what the zone maps actually BUY a
    // scan): the file manifest carries min/max(n_chars) per modeled
    // file; for each probe predicate `n_chars >= θ` a file is skipped
    // iff its max < θ. Reports files and ROWS skipped per θ, with the
    // ratio in floor-quantized basis points (the house rule — exact
    // integer math, no round-tie risk). Scale: the audit touches ONLY
    // the manifest (|files| rows), never the data — which is the entire
    // point of zone maps at 100 TB: the planner answers from metadata.
    QuerySpec(
      "q222_zonemap_skip",
      (s, d) => {
        import s.implicits._
        val files = ScaleQueries.fileManifest(s, d)
          .select("source", "file_id", "mx", "rows")
        val probes = Seq(200L, 500L, 1000L, 2000L).toDF("theta")
        files.crossJoin(broadcast(probes))
          .groupBy("theta")
          .agg(count(lit(1)).as("n_files"),
            sum((col("mx") < col("theta")).cast("long")).as("n_skip"),
            sum(when(col("mx") < col("theta"), col("rows")).otherwise(0L))
              .as("rows_skipped"))
          .withColumn("skip_bp",
            floor(col("n_skip") * 10000L / col("n_files")).cast("long"))
          .orderBy("theta")
      },
      Some("""WITH files AS (SELECT source, doc_id % 64 AS file_id, max(n_chars) AS mx, count(*) AS rows FROM documents GROUP BY 1, 2), pr AS (SELECT unnest([200, 500, 1000, 2000]) AS theta) SELECT CAST(theta AS BIGINT) AS theta, count(*) AS n_files, CAST(sum(CASE WHEN mx < theta THEN 1 ELSE 0 END) AS BIGINT) AS n_skip, CAST(sum(CASE WHEN mx < theta THEN rows ELSE 0 END) AS BIGINT) AS rows_skipped, CAST(floor(sum(CASE WHEN mx < theta THEN 1 ELSE 0 END) * 10000 / count(*)) AS BIGINT) AS skip_bp FROM files CROSS JOIN pr GROUP BY theta ORDER BY theta"""),
      "§2.6/§4 ext: zone-map skipping audit — metadata-only planner math per predicate"),

    // q223 — EWMA over the daily series (batch twin of the streaming
    // transformWithState EMA): per event type, daily means are rounded
    // to 6dp (an order-free agg; rounding sits 7 orders above the
    // cross-engine summation noise), collected IN DAY ORDER, and folded
    // sequentially with α=0.2 — Spark `aggregate` and DuckDB
    // `list_reduce` both left-fold from the first element, and every
    // fold step is the same IEEE double expression, so the result is
    // bit-identical (verified: both equal the Python reference fold).
    // Scale: state per type is ONE array of |days| rounded scalars —
    // the recursive dependence that windows can't express costs one
    // collect of an already-aggregated tiny series, never raw rows.
    QuerySpec(
      "q223_ewma_daily",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(round(avg("value"), 6).as("av"))
        daily.groupBy("event_type")
          .agg(sort_array(collect_list(struct(col("day"), col("av")))).as("ser"))
          .select(col("event_type"),
            size(col("ser")).cast("long").as("n_days"),
            round(element_at(col("ser"), -1).getField("av"), 4).as("last_avg"),
            round(expr(
              "aggregate(slice(transform(ser, x -> x.av), 2, size(ser) - 1), " +
                "element_at(transform(ser, x -> x.av), 1), " +
                "(acc, x) -> acc * 0.8 + x * 0.2)"), 4).as("ewma"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, round(avg(value), 6) AS av FROM events GROUP BY 1, 2), ser AS (SELECT event_type, list(CAST(av AS DOUBLE) ORDER BY day) AS l FROM daily GROUP BY 1) SELECT event_type, CAST(len(l) AS BIGINT) AS n_days, round(l[-1], 4) AS last_avg, round(list_reduce(l, (acc, x) -> acc * 0.8 + x * 0.2), 4) AS ewma FROM ser ORDER BY event_type"""),
      "§2.5/§2.12 ext: sequential-fold EWMA over the daily series (order-pinned array math)"),

    // q224 — referential-integrity / data-contract audit (the dbt-test
    // layer a warehouse runs before anything downstream trusts a load):
    // six declared checks — two FK orphan scans (anti-joins), two
    // domain-range checks, a null contract, and a date-window contract —
    // each one row of (check, n_viol, n_total). The union of scalar
    // aggregates keeps every check independently pushed down; FK checks
    // broadcast the key side when small and shuffle-key otherwise. At
    // 100 TB each check is one scan with a partial agg — the audit
    // never materializes violating rows, only counts (q185's purge is
    // the remediation; THIS is the gate).
    QuerySpec(
      "q224_integrity_audit",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        // Fully declarative — one job, six unioned single-row aggregates;
        // no driver-side .count() actions. FK orphans via LEFT JOIN +
        // null-probe conditional sum (one pass over each fact, the
        // key side broadcast-able), domain/null/date contracts via
        // conditional sums pushed into the same scans.
        def contract(df: DataFrame, name: String, viol: org.apache.spark.sql.Column) =
          df.agg(coalesce(sum(viol.cast("long")), lit(0L)).as("n_viol"),
              count(lit(1)).as("n_total"))
            .select(lit(name).as("chk"), col("n_viol"), col("n_total"))
        val fkLi = li.join(o.select(col("o_orderkey").as("fk_ok")),
          li("l_orderkey") === col("fk_ok"), "left")
        val fkO = o.join(c.select(col("c_custkey").as("fk_ck")),
          o("o_custkey") === col("fk_ck"), "left")
        contract(fkLi, "fk_lineitem_orders", col("fk_ok").isNull)
          .unionByName(contract(fkO, "fk_orders_customer", col("fk_ck").isNull))
          .unionByName(contract(li, "domain_discount",
            col("l_discount") < 0.0 || col("l_discount") > 1.0))
          .unionByName(contract(li, "domain_price_positive",
            col("l_extendedprice") <= 0.0))
          .unionByName(contract(o, "not_null_priority",
            col("o_orderpriority").isNull))
          .unionByName(contract(o, "date_window_orders",
            col("o_orderdate") < lit("1992-01-01") ||
              col("o_orderdate") > lit("1998-12-31")))
          .orderBy("chk")
      },
      Some("""WITH ck AS (SELECT 'fk_lineitem_orders' AS chk, (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_viol, (SELECT count(*) FROM lineitem) AS n_total UNION ALL SELECT 'fk_orders_customer', (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)), (SELECT count(*) FROM orders) UNION ALL SELECT 'domain_discount', (SELECT count(*) FROM lineitem WHERE l_discount < 0.0 OR l_discount > 1.0), (SELECT count(*) FROM lineitem) UNION ALL SELECT 'domain_price_positive', (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0.0), (SELECT count(*) FROM lineitem) UNION ALL SELECT 'not_null_priority', (SELECT count(*) FROM orders WHERE o_orderpriority IS NULL), (SELECT count(*) FROM orders) UNION ALL SELECT 'date_window_orders', (SELECT count(*) FROM orders WHERE o_orderdate < DATE '1992-01-01' OR o_orderdate > DATE '1998-12-31'), (SELECT count(*) FROM orders)) SELECT chk, CAST(n_viol AS BIGINT) AS n_viol, CAST(n_total AS BIGINT) AS n_total FROM ck ORDER BY chk"""),
      "§2.4/§4 ext: referential-integrity + data-contract audit (counts only, never rows)"),

    // q225 — CDC MERGE apply (the mutation counterpart of q195's
    // version diff): a change batch derived from the late-window orders
    // is applied to the customer base — updates add the window's order
    // total to the balance, deletes remove custkey % 97 == 0, inserts
    // create prospect rows keyed NEGATIVE o_orderkey (outside the id
    // domain by construction — the q195 collision lesson), delete wins
    // over update on the same key. Emits the per-op row counts and
    // balance mass — the reconciliation numbers a MERGE INTO job logs.
    // Scale: one keyed outer join base⋈updates (the delete set is a
    // predicate, the insert set is disjoint by construction); the base
    // never rewrites in place — this IS the copy-on-write merge shape.
    QuerySpec(
      "q225_cdc_merge",
      (s, d) => {
        val win = t(s, d, "orders").where(col("o_orderdate") >= lit("1998-01-01"))
        val upd = win.groupBy(col("o_custkey").as("k"))
          .agg(round(sum("o_totalprice"), 2).as("delta"))
        val base = t(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
        val merged = base.join(upd, Seq("k"), "left")
          .withColumn("op",
            when(col("k") % 97 === 0, lit("delete"))
              .when(col("delta").isNotNull, lit("update"))
              .otherwise(lit("unchanged")))
          .withColumn("out_bal",
            when(col("op") === "update", col("bal") + col("delta"))
              .otherwise(col("bal")))
        // Insert balances stay ON the 2-decimal grid (o_totalprice as-is):
        // a *0.1 here would create 3-decimal true values whose group sum
        // can land exactly on the half-cent rounding tie — the one case
        // where Spark's and DuckDB's round() diverge (house rule: never
        // round a value that can sit on the .5 grid).
        val ins = win.where(col("o_custkey") % 89 === 0)
          .select((-col("o_orderkey")).as("k"),
            lit("insert").as("op"), col("o_totalprice").as("out_bal"))
        merged.select("k", "op", "out_bal").unionByName(ins)
          .groupBy("op")
          .agg(count(lit(1)).as("n_rows"), round(sum("out_bal"), 2).as("bal_mass"))
          .orderBy("op")
      },
      Some("""WITH win AS (SELECT * FROM orders WHERE o_orderdate >= DATE '1998-01-01'), upd AS (SELECT o_custkey AS k, round(sum(o_totalprice), 2) AS delta FROM win GROUP BY 1), base AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer), m AS (SELECT base.k, CASE WHEN base.k % 97 = 0 THEN 'delete' WHEN delta IS NOT NULL THEN 'update' ELSE 'unchanged' END AS op, CASE WHEN base.k % 97 <> 0 AND delta IS NOT NULL THEN bal + delta ELSE bal END AS out_bal FROM base LEFT JOIN upd ON base.k = upd.k), i AS (SELECT -o_orderkey AS k, 'insert' AS op, o_totalprice AS out_bal FROM win WHERE o_custkey % 89 = 0), u AS (SELECT * FROM m UNION ALL SELECT * FROM i) SELECT op, count(*) AS n_rows, round(sum(out_bal), 2) AS bal_mass FROM u GROUP BY 1 ORDER BY op"""),
      "§2.1/§2.8 ext: CDC merge apply — upsert/delete/insert with per-op reconciliation"))
}

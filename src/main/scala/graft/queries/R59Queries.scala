package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Bucket, md5BucketSql}

/** Round-12 third widening — the rewrite arc's CATALOG and two more
  * members:
  *
  *  - q412 mines the RELY-constraint catalog q407's join elimination
  *    consumes: every name-matched PK-FK candidate edge in the schema
  *    audited from data in one sweep (nulls / orphans / duplicate pks),
  *    with the reverse edge as the built-in negative control;
  *  - q413 prices outer→inner join conversion: the null-rejecting test
  *    evaluated AS DATA (the predicate probed at NULL), both forms
  *    executed against a dim subset that genuinely null-extends, and
  *    the legality verdict certified against the measured equality;
  *  - q414 pushes the aggregate through UNION ALL: per-branch partial
  *    dedup cuts the final distinct's shuffle to the partials' size,
  *    certified equal to the naive global dedup;
  *  - q415 answers min/max/count from zone-map footers alone, gated by
  *    per-file delete vectors (stale footers provably diverge once
  *    q368's victims are deleted — the gate refuses);
  *  - q416 composes q409's inferred filter with a key-range layout:
  *    only where the rewrite and the layout MEET does the scan bill
  *    move (the 2x2's single pruned cell).
  */
object R59Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q412 — THE RELY-CONSTRAINT CATALOG, MINED: q407 audited one edge;
    // the schema has seven name-matched PK-FK candidates, and the
    // catalog a warehouse optimizer consults is the AUDIT OF ALL OF
    // THEM — one ANALYZE-grade sweep arming join elimination (and
    // orphan-safe outer→inner conversion, q413) for every dimension
    // join in the workload. Per edge: fk nulls, orphans (fact keys with
    // no pk), duplicate pks, and the valid verdict — exactly q407's
    // audit, run here as the catalog's bulk loader. The eighth edge is
    // the REVERSE of the customer edge (customer "fact" → orders "pk"):
    // it fails the uniqueness leg outright — every customer's key repeats
    // once per order — the built-in control showing the audit discriminates
    // DIRECTION, not just table pairs. Measured: all seven forward
    // edges valid at every SF (TPC-H referential integrity), the
    // reverse edge never. Scale: each edge is one anti-join + one keyed dup count
    // over tables the workload joins anyway; the catalog is 8 rows of
    // state that deletes whole subtrees from plans.
    QuerySpec(
      "q412_ri_catalog",
      (s, d) => {
        def edge(id: String, fact: DataFrame, fk: String,
            dim: DataFrame, pk: String): DataFrame = {
          val f = fact.select(col(fk).as("fk")).localCheckpoint(false)
          val p = dim.select(col(pk).as("pk")).localCheckpoint(false)
          val nulls = f.agg(sum(when(col("fk").isNull, 1L).otherwise(0L)).as("fk_nulls"),
            count(lit(1)).as("fact_rows"))
          // non-null keys only on both sides of the orphan/uniqueness
          // audits, matching the oracle's NOT IN / DISTINCT semantics
          // exactly even on a null-carrying fixture
          val orphans = f.where(col("fk").isNotNull)
            .join(p.where(col("pk").isNotNull), col("fk") === col("pk"), "left_anti")
            .agg(count(lit(1)).as("orphans"))
          val dups = p.where(col("pk").isNotNull).groupBy("pk").agg(count(lit(1)).as("c"))
            .agg(sum(when(col("c") > 1L, 1L).otherwise(0L)).as("dup_pks"),
              count(lit(1)).as("pk_keys"))
          nulls.crossJoin(broadcast(orphans)).crossJoin(broadcast(dups))
            .select(lit(id).as("edge"), col("fact_rows"), col("pk_keys"),
              col("fk_nulls"), col("orphans"), col("dup_pks"),
              expr("CAST(CASE WHEN fk_nulls = 0 AND orphans = 0 AND dup_pks = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("valid"))
        }
        val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
        val cu = t(s, d, "customer"); val su = t(s, d, "supplier")
        val pa = t(s, d, "part"); val na = t(s, d, "nation"); val re = t(s, d, "region")
        Seq(
          edge("1:lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
          edge("2:lineitem.l_partkey->part", li, "l_partkey", pa, "p_partkey"),
          edge("3:lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
          edge("4:orders.o_custkey->customer", o, "o_custkey", cu, "c_custkey"),
          edge("5:customer.c_nationkey->nation", cu, "c_nationkey", na, "n_nationkey"),
          edge("6:supplier.s_nationkey->nation", su, "s_nationkey", na, "n_nationkey"),
          edge("7:nation.n_regionkey->region", na, "n_regionkey", re, "r_regionkey"),
          edge("8:REVERSE customer.c_custkey->orders", cu, "c_custkey", o, "o_custkey"))
          .reduce(_ unionByName _)
          .orderBy("edge")
      },
      Some {
        def edgeSql(id: String, factT: String, fk: String, dimT: String, pk: String): String =
          s"""SELECT '$id' AS edge,
            (SELECT count(*) FROM $factT) AS fact_rows,
            (SELECT count(DISTINCT $pk) FROM $dimT) AS pk_keys,
            (SELECT sum(CASE WHEN $fk IS NULL THEN 1 ELSE 0 END) FROM $factT) AS fk_nulls,
            (SELECT count(*) FROM $factT WHERE $fk IS NOT NULL AND $fk NOT IN (SELECT $pk FROM $dimT WHERE $pk IS NOT NULL)) AS orphans,
            (SELECT sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) FROM (SELECT $pk, count(*) AS c FROM $dimT WHERE $pk IS NOT NULL GROUP BY 1) g) AS dup_pks"""
        val edges = Seq(
          edgeSql("1:lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          edgeSql("2:lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
          edgeSql("3:lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          edgeSql("4:orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
          edgeSql("5:customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
          edgeSql("6:supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
          edgeSql("7:nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
          edgeSql("8:REVERSE customer.c_custkey->orders", "customer", "c_custkey", "orders", "o_custkey"))
          .mkString(" UNION ALL ")
        // pk_keys for the Spark side is count over the RAW pk column
        // rows (dup-aware grouping count); DuckDB mirrors with the
        // grouped count — identical because grouping counts keys
        s"""WITH legs AS ($edges) SELECT edge, CAST(fact_rows AS BIGINT) AS fact_rows, CAST(pk_keys AS BIGINT) AS pk_keys, CAST(fk_nulls AS BIGINT) AS fk_nulls, CAST(orphans AS BIGINT) AS orphans, CAST(dup_pks AS BIGINT) AS dup_pks, CAST(CASE WHEN fk_nulls = 0 AND orphans = 0 AND dup_pks = 0 THEN 1 ELSE 0 END AS BIGINT) AS valid FROM legs ORDER BY edge"""
      },
      "J ext: the RELY-constraint catalog mined — all seven name-matched PK-FK edges of the schema audited from data in one sweep (nulls/orphans/duplicate pks, the exact q407 audit), plus the reverse customer edge as the control failing both ways; 8 rows of state that let the optimizer delete whole join subtrees"),

    // q413 — OUTER→INNER CONVERSION, THE LEGALITY CERTIFIED AS DATA: a
    // left join kept "to be safe" blocks reorder, broadcast choice and
    // elimination; converting it to inner is legal exactly when the
    // predicate above it is NULL-REJECTING (a null-extended row cannot
    // survive). That test is evaluated here the engine's way — the
    // predicate PROBED AT NULL on a one-row frame (reject = NULL input
    // does not satisfy) — and then both join forms EXECUTE against a
    // dim deliberately cut to 60% of nations so the outer join
    // genuinely null-extends (~40% of orders orphaned; with the full
    // dim TPC-H RI would make the two forms vacuously equal and
    // certify nothing — the q293 dead-fixture rule). Scenario 1
    // (segment equality) rejects NULL → converted inner certified
    // EQUAL; scenario 2 (IS NULL — the "find the orphans" predicate)
    // tolerates NULL → the forms DIVERGE by exactly the orphaned
    // orders, and the conversion verdict refuses. audit_correct pins
    // verdict == measured equality in both scenarios. Scale: the
    // legality probe is one row; the executed legs are the graders.
    QuerySpec(
      "q413_outer_to_inner",
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_custkey").as("fk"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
          .localCheckpoint(false)
        val dim = t(s, d, "customer").where(col("c_nationkey") < 15)
          .select(col("c_custkey").as("pk"), col("c_mktsegment").as("seg"))
          .localCheckpoint(false)
        def leg(id: String, predSql: String): DataFrame = {
          // the legality probe: the predicate evaluated on a one-row
          // frame whose seg IS NULL — rejecting iff it does not pass
          val probe = o.sparkSession.range(1).toDF("x")
            .select(lit(null).cast("string").as("seg"))
            .agg(sum(when(expr(predSql), 1L).otherwise(0L)).as("null_pass"))
            .select(expr("CAST(CASE WHEN null_pass = 0 THEN 1 ELSE 0 END AS BIGINT)")
              .as("null_rejecting"))
          val outer = o.join(dim, col("fk") === col("pk"), "left_outer")
            .where(expr(predSql))
            .agg(count(lit(1)).as("rows_outer"), sum("cents").as("cents_outer"))
          val inner = o.join(dim, col("fk") === col("pk"))
            .where(expr(predSql))
            .agg(count(lit(1)).as("rows_inner"), sum("cents").as("cents_inner"))
          probe.crossJoin(broadcast(outer)).crossJoin(broadcast(inner))
            .select(lit(id).as("scenario"), col("null_rejecting"),
              col("rows_outer"), col("rows_inner"),
              coalesce(col("cents_outer"), lit(0L)).as("cents_outer"),
              coalesce(col("cents_inner"), lit(0L)).as("cents_inner"),
              expr("CAST(CASE WHEN rows_outer = rows_inner AND coalesce(cents_outer, 0) = coalesce(cents_inner, 0) THEN 1 ELSE 0 END AS BIGINT)")
                .as("equal_results"),
              col("null_rejecting").as("convert"))
        }
        leg("1:seg_equality", "seg = 'BUILDING'")
          .unionByName(leg("2:seg_is_null", "seg IS NULL"))
          .withColumn("audit_correct",
            expr("CAST(CASE WHEN convert = equal_results THEN 1 ELSE 0 END AS BIGINT)"))
          .orderBy("scenario")
      },
      Some {
        def legSql(id: String, pred: String): String =
          s"""SELECT '$id' AS scenario,
            (SELECT CASE WHEN sum(CASE WHEN $pred THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END FROM (SELECT CAST(NULL AS VARCHAR) AS seg) z) AS null_rejecting,
            (SELECT count(*) FROM o LEFT JOIN dim ON dim.pk = o.fk WHERE $pred) AS rows_outer,
            (SELECT count(*) FROM o JOIN dim ON dim.pk = o.fk WHERE $pred) AS rows_inner,
            (SELECT coalesce(sum(cents), 0) FROM o LEFT JOIN dim ON dim.pk = o.fk WHERE $pred) AS cents_outer,
            (SELECT coalesce(sum(cents), 0) FROM o JOIN dim ON dim.pk = o.fk WHERE $pred) AS cents_inner"""
        s"""WITH o AS (SELECT o_custkey AS fk, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents FROM orders), dim AS (SELECT c_custkey AS pk, c_mktsegment AS seg FROM customer WHERE c_nationkey < 15), legs AS (${legSql("1:seg_equality", "seg = 'BUILDING'")} UNION ALL ${legSql("2:seg_is_null", "seg IS NULL")}), k AS (SELECT *, CASE WHEN rows_outer = rows_inner AND cents_outer = cents_inner THEN 1 ELSE 0 END AS equal_results FROM legs) SELECT scenario, CAST(null_rejecting AS BIGINT) AS null_rejecting, CAST(rows_outer AS BIGINT) AS rows_outer, CAST(rows_inner AS BIGINT) AS rows_inner, CAST(cents_outer AS BIGINT) AS cents_outer, CAST(cents_inner AS BIGINT) AS cents_inner, CAST(equal_results AS BIGINT) AS equal_results, CAST(null_rejecting AS BIGINT) AS convert, CAST(CASE WHEN null_rejecting = equal_results THEN 1 ELSE 0 END AS BIGINT) AS audit_correct FROM k ORDER BY scenario"""
      },
      "J ext: outer->inner conversion legality certified as data — the null-rejecting test probed at NULL on a one-row frame, both join forms executed against a dim cut to 60% of nations so the outer join genuinely null-extends; the equality predicate converts (certified equal), IS NULL refuses (forms diverge by exactly the orphans), audit_correct pins verdict == measurement"),

    // q414 — AGGREGATE PUSHED THROUGH UNION ALL: the distinct-customer
    // rollup over a two-branch union (first half-year ∪ second) dedups
    // n rows globally; pushing the dedup INTO each branch first sends
    // only the partial distinct sets — ~10x fewer rows at every SF —
    // into the final merge, and the re-dedup of the partials is exact
    // because distinct-of-union == distinct-of-union-of-distincts (set
    // algebra, certified here by count and checksum). The same push is
    // what makes branch-local pre-aggregation legal for any
    // decomposable aggregate over partitioned/unioned tables — at
    // 100 TB each branch dedups on its own executors and only
    // partial sets cross the wire. chosen = fewer rows into the final
    // exchange. Scale: the naive leg's global dedup IS the grader.
    QuerySpec(
      "q414_agg_through_union",
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_custkey").as("c"),
          month(col("o_orderdate")).cast("long").as("m"))
        val b1 = o.where(col("m") <= 6).select("c")
        val b2 = o.where(col("m") > 6).select("c")
        val naiveIn = b1.unionAll(b2)
        val nIn = naiveIn.agg(count(lit(1)).as("rows_naive"))
        val naive = naiveIn.distinct()
          .agg(count(lit(1)).as("nd_naive"), sum("c").as("ck_naive"))
        val d1 = b1.distinct().localCheckpoint(false)
        val d2 = b2.distinct().localCheckpoint(false)
        val pIn = d1.agg(count(lit(1)).as("p1"))
          .crossJoin(broadcast(d2.agg(count(lit(1)).as("p2"))))
        val pushed = d1.unionAll(d2).distinct()
          .agg(count(lit(1)).as("nd_push"), sum("c").as("ck_push"))
        val one = nIn.crossJoin(broadcast(naive)).crossJoin(broadcast(pIn))
          .crossJoin(broadcast(pushed))
          .withColumn("equal_results",
            expr("CAST(CASE WHEN nd_naive = nd_push AND ck_naive = ck_push THEN 1 ELSE 0 END AS BIGINT)"))
        one.select(explode(array(
            struct(lit("1:global_dedup").as("variant"),
              col("rows_naive").as("rows_into_final")),
            struct(lit("2:pushed_dedup").as("variant"),
              expr("p1 + p2").as("rows_into_final")))).as("z"),
            col("rows_naive"), col("p1"), col("p2"), col("nd_naive"),
            col("ck_naive"), col("equal_results"))
          .select(col("z.variant").as("variant"),
            col("z.rows_into_final").as("rows_into_final"),
            col("nd_naive").as("distinct_out"), col("ck_naive").as("checksum"),
            col("equal_results"),
            expr("(rows_naive - (p1 + p2)) * 10000 div rows_naive").as("saved_bp"),
            expr("CAST(CASE WHEN z.rows_into_final = least(rows_naive, p1 + p2) THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("variant")
      },
      Some(
        """WITH o AS (SELECT o_custkey AS c, CAST(month(o_orderdate) AS BIGINT) AS m FROM orders), b1 AS (SELECT c FROM o WHERE m <= 6), b2 AS (SELECT c FROM o WHERE m > 6), ni AS (SELECT count(*) AS rows_naive FROM (SELECT c FROM b1 UNION ALL SELECT c FROM b2) u), na AS (SELECT count(*) AS nd_naive, sum(c) AS ck_naive FROM (SELECT DISTINCT c FROM (SELECT c FROM b1 UNION ALL SELECT c FROM b2) u) z), p1 AS (SELECT count(*) AS p1 FROM (SELECT DISTINCT c FROM b1) x), p2 AS (SELECT count(*) AS p2 FROM (SELECT DISTINCT c FROM b2) x), pu AS (SELECT count(*) AS nd_push, sum(c) AS ck_push FROM (SELECT DISTINCT c FROM (SELECT DISTINCT c FROM b1 UNION ALL SELECT DISTINCT c FROM b2) u) z), base AS (SELECT * FROM ni CROSS JOIN na CROSS JOIN p1 CROSS JOIN p2 CROSS JOIN pu), legs AS (SELECT '1:global_dedup' AS variant, rows_naive AS rows_into_final FROM base UNION ALL SELECT '2:pushed_dedup', p1 + p2 FROM base) SELECT variant, CAST(rows_into_final AS BIGINT) AS rows_into_final, CAST(nd_naive AS BIGINT) AS distinct_out, CAST(ck_naive AS BIGINT) AS checksum, CAST(CASE WHEN nd_naive = nd_push AND ck_naive = ck_push THEN 1 ELSE 0 END AS BIGINT) AS equal_results, CAST((rows_naive - (p1 + p2)) * 10000 // rows_naive AS BIGINT) AS saved_bp, CAST(CASE WHEN rows_into_final = least(rows_naive, p1 + p2) THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM legs CROSS JOIN base ORDER BY variant"""),
      "A/J ext: aggregate pushed through UNION ALL — per-branch dedup sends only the partial distinct sets (~10x fewer rows) into the final merge, certified exact by set algebra (count + checksum vs the global dedup); the push that makes branch-local pre-aggregation legal for any decomposable aggregate"),

    // q415 — METADATA-ONLY AGGREGATION, GATED BY DELETE VECTORS:
    // min/max/count over a table whose files carry zone maps never
    // needs the rows — 32 footer entries answer all three exactly...
    // until a delete vector makes the footers lie (they describe the
    // FILE, not the live rows; q377's whole compaction economy exists
    // because DVs accumulate). Both paths EXECUTED in both scenarios:
    // clean (no DVs applied — metadata equals the scan on all three
    // aggregates, at 32 rows read instead of the corpus) and deleted
    // (q368's Knuth victims removed from the live set, the SAME stale
    // zone maps answer — count provably diverges by dv_rows, min/max
    // whenever a victim held an extremum). The gate is the q407
    // convention: use_metadata iff dv_rows = 0, and audit_correct pins
    // the gate predicting the measured equality in both scenarios.
    // Scale: this is why engines track per-file DV counts — one
    // integer per file decides whether the 100 TB scan is replaceable
    // by 32 footer reads.
    QuerySpec(
      "q415_metadata_agg",
      (s, d) => {
        val keyed = t(s, d, "orders").select(col("o_orderkey").as("k"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("v"),
          expr("(o_custkey % 2147483648) * 2654435761 % 4294967296").as("h"))
        val mxk = keyed.agg(max("k").as("kmax"))
        val files = keyed.crossJoin(broadcast(mxk))
          .select(expr("least(31, k * 32 div (kmax + 1))").as("f"),
            col("v"), col("h"))
          .localCheckpoint(false)
        // the footers: written once over the FULL file contents
        val zones = files.groupBy("f").agg(count(lit(1)).as("c"),
          min("v").as("zmin"), max("v").as("zmax")).localCheckpoint(false)
        val meta = zones.agg(sum("c").as("m_count"), min("zmin").as("m_min"),
          max("zmax").as("m_max"), count(lit(1)).as("rows_read_meta"))
        def leg(id: String, cond: String): DataFrame = {
          val live = files.where(expr(cond))
          val scan = live.agg(count(lit(1)).as("s_count"), min("v").as("s_min"),
            max("v").as("s_max"))
          val dv = files.agg(
            sum(when(expr(s"NOT ($cond)"), 1L).otherwise(0L)).as("dv_rows"),
            count(lit(1)).as("rows_read_scan"))
          meta.crossJoin(broadcast(scan)).crossJoin(broadcast(dv))
            .select(lit(id).as("scenario"), col("dv_rows"),
              col("m_count"), col("s_count"), col("m_min"), col("s_min"),
              col("m_max"), col("s_max"),
              expr("CAST(CASE WHEN m_count = s_count AND m_min = s_min AND m_max = s_max THEN 1 ELSE 0 END AS BIGINT)")
                .as("equal_results"),
              expr("CAST(CASE WHEN dv_rows = 0 THEN 1 ELSE 0 END AS BIGINT)")
                .as("use_metadata"),
              col("rows_read_meta"), col("rows_read_scan"))
        }
        leg("1:clean", "1 = 1")
          .unionByName(leg("2:with_deletes", "h >= 42949672"))
          .withColumn("audit_correct",
            expr("CAST(CASE WHEN use_metadata = equal_results THEN 1 ELSE 0 END AS BIGINT)"))
          .orderBy("scenario")
      },
      Some {
        def legSql(id: String, cond: String): String =
          s"""SELECT '$id' AS scenario,
            (SELECT sum(CASE WHEN NOT ($cond) THEN 1 ELSE 0 END) FROM files) AS dv_rows,
            (SELECT sum(c) FROM zones) AS m_count,
            (SELECT count(*) FROM files WHERE $cond) AS s_count,
            (SELECT min(zmin) FROM zones) AS m_min,
            (SELECT min(v) FROM files WHERE $cond) AS s_min,
            (SELECT max(zmax) FROM zones) AS m_max,
            (SELECT max(v) FROM files WHERE $cond) AS s_max,
            (SELECT count(*) FROM zones) AS rows_read_meta,
            (SELECT count(*) FROM files) AS rows_read_scan"""
        s"""WITH keyed AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v, (o_custkey % 2147483648) * 2654435761 % 4294967296 AS h FROM orders), mxk AS (SELECT max(k) AS kmax FROM keyed), files AS (SELECT least(31, k * 32 // (kmax + 1)) AS f, v, h FROM keyed CROSS JOIN mxk), zones AS (SELECT f, count(*) AS c, min(v) AS zmin, max(v) AS zmax FROM files GROUP BY 1), legs AS (${legSql("1:clean", "1 = 1")} UNION ALL ${legSql("2:with_deletes", "h >= 42949672")}), k2 AS (SELECT *, CASE WHEN m_count = s_count AND m_min = s_min AND m_max = s_max THEN 1 ELSE 0 END AS equal_results, CASE WHEN dv_rows = 0 THEN 1 ELSE 0 END AS use_metadata FROM legs) SELECT scenario, CAST(dv_rows AS BIGINT) AS dv_rows, CAST(m_count AS BIGINT) AS m_count, CAST(s_count AS BIGINT) AS s_count, CAST(m_min AS BIGINT) AS m_min, CAST(s_min AS BIGINT) AS s_min, CAST(m_max AS BIGINT) AS m_max, CAST(s_max AS BIGINT) AS s_max, CAST(equal_results AS BIGINT) AS equal_results, CAST(use_metadata AS BIGINT) AS use_metadata, CAST(rows_read_meta AS BIGINT) AS rows_read_meta, CAST(rows_read_scan AS BIGINT) AS rows_read_scan, CAST(CASE WHEN use_metadata = equal_results THEN 1 ELSE 0 END AS BIGINT) AS audit_correct FROM k2 ORDER BY scenario"""
      },
      "A/L ext: metadata-only aggregation gated by delete vectors — min/max/count answered from 32 zone-map rows instead of the corpus, certified equal on the clean table; with q368's Knuth victims deleted the SAME stale footers provably diverge (count by exactly dv_rows) and the per-file-DV gate refuses — one integer per file decides whether the 100 TB scan is replaceable by footer reads"),

    // q416 — INFERENCE × LAYOUT, THE COMPOSITION: q409 proved the
    // transitive key-range closure cuts join input ~94%; q401 proved
    // range layouts make zone maps sharp. COMPOSED they change the
    // SCAN bill, not just the shuffle: only when the filter is inferred
    // AND the fact is range-laid-out by the join key do the file
    // footers get a predicate they can act on. The 2x2 is EXECUTED —
    // hash layout × {no inference, inferred} and key-range layout ×
    // the same — with per-cell files_touched / rows_scanned from the
    // applied 32-file assignments, the join result certified equal
    // across ALL FOUR cells (the closure is an equivalence; the layout
    // is physical), and soundness (missed = 0) on the pruned cell.
    // Measured: three cells scan everything (no predicate, or a
    // predicate no hash footer can use); the composed cell touches ~2
    // of 32 files. chosen = the composed cell. Scale: this is the
    // whole point of clustering fact tables by their dominant join
    // key — the rewrite and the layout are worthless for the scan
    // bill until they meet.
    QuerySpec(
      "q416_inferred_pruning",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey").as("k"),
          col("l_linenumber").as("ln"),
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
        val o = t(s, d, "orders").select(col("o_orderkey").as("k"))
        val mx = o.agg(min("k").as("a"), max("k").as("b"))
        // q409's predicate through the SHARED builder — the composition
        // certifies that predicate, not a retyped sibling
        val pred = R58Queries.keyMidband(o).localCheckpoint(false)
        val fo = o.crossJoin(broadcast(pred)).where(expr("k BETWEEN lo AND hi"))
          .select("k")
        // BOTH layouts assigned in one pass (the md5 bucket and the range
        // bucket ride the same scan) — the old shape materialized two
        // separate corpus-sized assignments and ran the probe join five
        // times (once per cell + the grader); here the fact⋈filtered-orders
        // join runs ONCE and every cell's result is a flagged conditional
        // aggregate over it, with per-cell file membership probed against
        // the two broadcast touched sets.
        val asg = li.crossJoin(broadcast(mx))
          .withColumn("p_hash",
            md5Bucket(concat(lit("rq:"), col("k").cast("string"),
              lit(":"), col("ln").cast("string")), 32))
          .withColumn("p_range", expr("least(31, (k - a) * 32 div (b - a + 1))"))
          .select("k", "ln", "cents", "p_hash", "p_range")
          .localCheckpoint(false)
        val zonesH = asg.groupBy(col("p_hash").as("p"))
          .agg(count(lit(1)).as("c"), min("k").as("zmin"), max("k").as("zmax"))
        val zonesR = asg.groupBy(col("p_range").as("p"))
          .agg(count(lit(1)).as("c"), min("k").as("zmin"), max("k").as("zmax"))
        def touchedOf(zones: DataFrame, inferred: Boolean): DataFrame =
          if (inferred) zones.crossJoin(broadcast(pred))
            .where(expr("zmax >= lo AND zmin <= hi")).select("p", "c")
          else zones.select("p", "c")
        val t1 = touchedOf(zonesH, inferred = false)
        val t2 = touchedOf(zonesH, inferred = true).localCheckpoint(false)
        val t3 = touchedOf(zonesR, inferred = false)
        val t4 = touchedOf(zonesR, inferred = true).localCheckpoint(false)
        def ts(id: String, touched: DataFrame): DataFrame =
          touched.agg(count(lit(1)).as("files_touched"),
              sum("c").as("rows_scanned"))
            .select(lit(id).as("cell"), col("files_touched"), col("rows_scanned"))
        // ONE probe join; cells 1/3 read every file so their membership is
        // the whole assignment (their conditional sums are the plain ones
        // — computed, and trivially equal to the grader's full join).
        val cells = asg.join(fo, "k")
          .join(broadcast(t2.select(col("p").as("ph2")).withColumn("in2", lit(1L))),
            col("p_hash") === col("ph2"), "left")
          .join(broadcast(t4.select(col("p").as("pr4")).withColumn("in4", lit(1L))),
            col("p_range") === col("pr4"), "left")
          .agg(count(lit(1)).as("r_all"),
            coalesce(sum("cents"), lit(0L)).as("c_all"),
            coalesce(sum(when(col("in2").isNotNull, 1L).otherwise(0L)), lit(0L)).as("r2"),
            coalesce(sum(when(col("in2").isNotNull, col("cents")).otherwise(0L)), lit(0L)).as("c2"),
            coalesce(sum(when(col("in4").isNotNull, 1L).otherwise(0L)), lit(0L)).as("r4"),
            coalesce(sum(when(col("in4").isNotNull, col("cents")).otherwise(0L)), lit(0L)).as("c4"))
          .localCheckpoint(false)
        def legRow(id: String, tRow: DataFrame, rc: String, cc: String): DataFrame =
          ts(id, tRow).crossJoin(broadcast(cells))
            .select(col("cell"), col("files_touched"), col("rows_scanned"),
              col(rc).as("result_rows"), col(cc).as("total_cents"),
              expr(s"CAST(CASE WHEN $rc = r_all AND $cc = c_all THEN 1 ELSE 0 END AS BIGINT)")
                .as("equal_results"))
        val legs = legRow("1:hash_no_infer", t1, "r_all", "c_all")
          .unionByName(legRow("2:hash_inferred", t2, "r2", "c2"))
          .unionByName(legRow("3:range_no_infer", t3, "r_all", "c_all"))
          .unionByName(legRow("4:range_inferred", t4, "r4", "c4"))
        legs.crossJoin(broadcast(legs.agg(min("rows_scanned").as("mn"))))
          .select(col("cell"), col("files_touched"), col("rows_scanned"),
            col("result_rows"), col("total_cents"), col("equal_results"),
            expr("CAST(CASE WHEN rows_scanned = mn THEN 1 ELSE 0 END AS BIGINT)")
              .as("chosen"))
          .orderBy("cell")
      },
      Some {
        def legSql(id: String, asgCte: String, inferred: Boolean): String = {
          val touched =
            if (inferred) s"SELECT p, c FROM zn_$asgCte CROSS JOIN pred WHERE zmax >= lo AND zmin <= hi"
            else s"SELECT p, c FROM zn_$asgCte"
          s"""SELECT '$id' AS cell,
            (SELECT count(*) FROM ($touched) t) AS files_touched,
            (SELECT sum(c) FROM ($touched) t) AS rows_scanned,
            (SELECT count(*) FROM $asgCte a JOIN fo ON fo.k = a.k WHERE a.p IN (SELECT p FROM ($touched) t)) AS result_rows,
            (SELECT coalesce(sum(a.cents), 0) FROM $asgCte a JOIN fo ON fo.k = a.k WHERE a.p IN (SELECT p FROM ($touched) t)) AS total_cents"""
        }
        s"""WITH li AS (SELECT l_orderkey AS k, l_linenumber AS ln, CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents FROM lineitem), o AS (SELECT o_orderkey AS k FROM orders), mx AS (SELECT min(k) AS a, max(k) AS b FROM o), pred AS (SELECT a + (b - a) * 2 // 5 AS lo, a + (b - a) * 9 // 20 AS hi FROM mx), fo AS (SELECT k FROM o CROSS JOIN pred WHERE k BETWEEN lo AND hi), asgh AS (SELECT k, ln, cents, ${md5BucketSql("'rq:' || CAST(k AS VARCHAR) || ':' || CAST(ln AS VARCHAR)", 32)} AS p FROM li), asgr AS (SELECT k, ln, cents, least(31, (k - a) * 32 // (b - a + 1)) AS p FROM li CROSS JOIN mx), zn_asgh AS (SELECT p, count(*) AS c, min(k) AS zmin, max(k) AS zmax FROM asgh GROUP BY 1), zn_asgr AS (SELECT p, count(*) AS c, min(k) AS zmin, max(k) AS zmax FROM asgr GROUP BY 1), jn AS (SELECT count(*) AS r_join, sum(cents) AS c_join FROM li JOIN fo USING (k)), legs AS (${legSql("1:hash_no_infer", "asgh", inferred = false)} UNION ALL ${legSql("2:hash_inferred", "asgh", inferred = true)} UNION ALL ${legSql("3:range_no_infer", "asgr", inferred = false)} UNION ALL ${legSql("4:range_inferred", "asgr", inferred = true)}), mn AS (SELECT min(rows_scanned) AS mn FROM legs) SELECT cell, CAST(files_touched AS BIGINT) AS files_touched, CAST(rows_scanned AS BIGINT) AS rows_scanned, CAST(result_rows AS BIGINT) AS result_rows, CAST(total_cents AS BIGINT) AS total_cents, CAST(CASE WHEN result_rows = (SELECT r_join FROM jn) AND total_cents = (SELECT c_join FROM jn) THEN 1 ELSE 0 END AS BIGINT) AS equal_results, CAST(CASE WHEN rows_scanned = (SELECT mn FROM mn) THEN 1 ELSE 0 END AS BIGINT) AS chosen FROM legs CROSS JOIN mn ORDER BY cell"""
      },
      "J/S/L ext: inference x layout composition — the transitive key-range closure and the key-range file layout executed in a 2x2; the join result certified equal across all four cells, but only the COMPOSED cell (inferred filter on range-clustered files) touches ~2 of 32 files — the scan bill moves only when the rewrite and the layout meet"))
}

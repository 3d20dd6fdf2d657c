package graft.queries

import graft.QuerySpec
import graft.ops.{JoinOps, SkewOps}
import org.apache.spark.sql.functions._
import graft.functions.cosineSim

/** Second-wave coverage: multiset set-ops, cube, collection aggregates,
  * percentiles, extended scalar functions, and two scale-pattern
  * operators — as-of join (union-merge) and salted aggregation.
  */
object ExtraQueries {

  val specs: Seq[QuerySpec] = Seq(

    // q51 — INTERSECT ALL / EXCEPT ALL (multiset semantics).
    QuerySpec(
      "q51_setops_all",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val a = li.where(col("l_returnflag") === "A").select("l_suppkey")
        val r = li.where(col("l_returnflag") === "R").select("l_suppkey")
        a.intersectAll(r).groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
          .withColumn("tag", lit("ia"))
          .union(
            a.exceptAll(r).groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
              .withColumn("tag", lit("ea")))
          .orderBy("tag", "l_suppkey")
      },
      Some("""SELECT l_suppkey, count(*) AS cnt, 'ia' AS tag FROM ((SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A') INTERSECT ALL (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')) GROUP BY 1 UNION ALL SELECT l_suppkey, count(*) AS cnt, 'ea' AS tag FROM ((SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A') EXCEPT ALL (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')) GROUP BY 1 ORDER BY tag, l_suppkey"""),
      "§2.7 ext: INTERSECT ALL / EXCEPT ALL multiset ops"),

    // q52 — CUBE with grouping_id.
    QuerySpec(
      "q52_cube",
      (s, d) => {
        t(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("cnt"), grouping_id().cast("long").as("gid"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("status"),
            col("cnt"), col("gid"))
          .orderBy("gid", "flag", "status")
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status, count(*) AS cnt, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY gid, flag, status"""),
      "§2.4 ext: CUBE + grouping_id"),

    // q53 — collection aggregate: sorted distinct set per group
    // (collect_set is unordered → array_sort for determinism).
    QuerySpec(
      "q53_collect_list",
      (s, d) => {
        t(s, d, "orders")
          .groupBy("o_orderstatus")
          .agg(
            array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("priorities"),
            count(lit(1)).as("cnt"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities, count(*) AS cnt FROM orders GROUP BY 1 ORDER BY 1"""),
      "§2.4 ext: collect_set + deterministic ordering"),

    // q54 — exact percentiles (continuous interpolation) per group.
    QuerySpec(
      "q54_percentiles",
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
            round(expr("percentile(l_quantity, 0.25)"), 4).as("qty_p25"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS p50, round(quantile_cont(l_extendedprice, 0.9), 4) AS p90, round(quantile_cont(l_quantity, 0.25), 4) AS qty_p25 FROM lineitem GROUP BY 1 ORDER BY 1"""),
      "§2.4 ext: exact interpolated percentiles"),

    // q55 — extended string functions (§2.9).
    QuerySpec(
      "q55_string_funcs2",
      (s, d) => {
        t(s, d, "documents")
          .select(
            col("doc_id"),
            concat(col("lang"), lit(":"), col("source")).as("lang_src"),
            lpad(col("doc_id").cast("string"), 6, "0").as("id_pad"),
            regexp_replace(substring(col("text"), 1, 20), " ", "_").as("head_snake"),
            regexp_replace(substring(col("text"), 1, 30), "[aeiou]", "*").as("devoweled"),
            translate(col("lang"), "aeiou", "AEIOU").as("lang_up"),
            reverse(col("source")).as("src_rev"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, concat(lang, ':', source) AS lang_src, lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_pad, replace(substr(text, 1, 20), ' ', '_') AS head_snake, regexp_replace(substr(text, 1, 30), '[aeiou]', '*', 'g') AS devoweled, translate(lang, 'aeiou', 'AEIOU') AS lang_up, reverse(source) AS src_rev FROM documents ORDER BY doc_id"""),
      "§2.9 ext: concat/lpad/replace/regexp_replace/translate/reverse"),

    // q56 — array scalar functions over embeddings (§2.9).
    QuerySpec(
      "q56_array_funcs",
      (s, d) => {
        t(s, d, "embeddings")
          .select(
            col("vec_id"),
            size(col("embedding")).cast("long").as("n_dim"),
            round(element_at(col("embedding"), 1).cast("double"), 6).as("e1"),
            round(array_max(col("embedding")).cast("double"), 6).as("emax"),
            round(array_min(col("embedding")).cast("double"), 6).as("emin"),
            round(aggregate(slice(col("embedding"), 1, 8), lit(0.0),
              (acc, x) => acc + x.cast("double")), 6).as("head8_sum"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dim, round(CAST(embedding[1] AS DOUBLE), 6) AS e1, round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS emax, round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS emin, round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS head8_sum FROM embeddings ORDER BY vec_id"""),
      "§2.9 ext: size/element_at/array_min/max/slice/aggregate"),

    // q57 — extended date functions (§2.9).
    QuerySpec(
      "q57_date_funcs2",
      (s, d) => {
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
            quarter(col("o_orderdate")).cast("long").as("qtr"),
            dayofmonth(col("o_orderdate")).cast("long").as("dom"),
            date_format(col("o_orderdate"), "EEEE").as("dow_name"),
            date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
            date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since, CAST(quarter(o_orderdate) AS BIGINT) AS qtr, CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom, dayname(o_orderdate) AS dow_name, strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30, strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end FROM orders ORDER BY o_orderkey"""),
      "§2.9 ext: datediff/quarter/day-of/dayname/date_add/last_day"),

    // q58 — as-of join via union-merge (graft.ops.JoinOps): for each
    // error event, the latest click of the same user at or before it.
    // Oracle: DuckDB's native ASOF JOIN. Clicks are pre-deduplicated to
    // one row per (user_id, ts) — max(click_id) — on BOTH sides: with
    // duplicate right timestamps ASOF JOIN's pick is unspecified, so
    // without this the compare would be data-dependent.
    QuerySpec(
      "q58_asof_join",
      (s, d) => {
        val ev = t(s, d, "events")
        val errors = ev.where(col("event_type") === "error")
          .select(col("user_id"), col("ts"), col("event_id").as("err_id"))
        val clicks = ev.where(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
        JoinOps.asofJoin(errors, clicks, "user_id", "ts", "ts", "err_id", "click_id")
          .select(col("err_id"), col("user_id"),
            unix_timestamp(col("ts")).as("err_epoch"), col("click_id"))
          .orderBy("err_id")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events), e AS (SELECT user_id, ts, event_id AS err_id FROM ev WHERE event_type = 'error'), c AS (SELECT user_id, ts, max(event_id) AS click_id FROM ev WHERE event_type = 'click' GROUP BY 1, 2) SELECT e.err_id AS err_id, e.user_id AS user_id, CAST(floor(epoch(e.ts)) AS BIGINT) AS err_epoch, c.click_id AS click_id FROM e ASOF JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts ORDER BY err_id"""),
      "§2.3 ext: as-of join (union-merge impl vs native ASOF oracle)"),

    // q59 — salted two-phase aggregation (graft.ops.SkewOps): identical
    // result to the direct groupBy, resilient to hot keys.
    QuerySpec(
      "q59_salted_agg",
      (s, d) => {
        SkewOps.saltedSumCount(t(s, d, "lineitem"),
            Seq("l_returnflag"), col("l_orderkey"), "l_quantity", 16)
          .select(col("l_returnflag"), round(col("total"), 2).as("total"), col("cnt"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS total, count(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY 1"""),
      "§4 ext: salted aggregation == direct aggregation"),

    // q60 — IVF ANN SEARCH through the TRAINED quantizer, fully
    // oracled: the index is q161's unrolled-Lloyd assignment (init from
    // the 8 lowest-id vectors, one re-centering round — shared via
    // AnnOps.ivfAssignLloyd so trainer and search cannot drift), the
    // search is the nprobe=1 cell-join top-1. This retires the
    // registry's last rows-only entry: q101 oracles the FLAT index,
    // q161 the trainer's math, q60 the search THROUGH the trained
    // index. The MLlib-KMeans quantizer surface (ivfAssignCached)
    // stays exercised by AnnRecallSpec.
    QuerySpec(
      "q60_ivf_ann",
      (s, d) => {
        val assigned = graft.ops.AnnOps.ivfAssignLloyd(t(s, d, "embeddings"), 8)
        graft.ops.AnnOps.ivfTop1(assigned, col("vec_id") < 10)
          .select(col("qid"), col("cid"), col("cell").cast("long").as("cell"),
            col("cos_r"))
          .orderBy("qid")
      },
      Some("""WITH ex AS (SELECT vec_id, u['p'] AS pos, CAST(u['x'] AS DOUBLE) AS x FROM (SELECT vec_id, unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings)), c0 AS (SELECT vec_id AS cell, pos, x AS cx FROM ex WHERE vec_id < 8), d1 AS (SELECT ex.vec_id, c0.cell, sum(ex.x * c0.cx) AS dot, sqrt(sum(ex.x * ex.x)) AS nv, sqrt(sum(c0.cx * c0.cx)) AS nc FROM ex JOIN c0 USING (pos) GROUP BY 1, 2), a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY round(dot / (nv * nc), 6) DESC, cell) AS rn FROM d1) WHERE rn = 1), c1 AS (SELECT a1.cell, ex.pos, avg(ex.x) AS cx FROM ex JOIN a1 USING (vec_id) GROUP BY 1, 2), d2 AS (SELECT ex.vec_id, c1.cell, sum(ex.x * c1.cx) AS dot, sqrt(sum(ex.x * ex.x)) AS nv, sqrt(sum(c1.cx * c1.cx)) AS nc FROM ex JOIN c1 USING (pos) GROUP BY 1, 2), a2 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY round(dot / (nv * nc), 6) DESC, cell) AS rn FROM d2) WHERE rn = 1), e AS (SELECT vec_id, embedding, sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm FROM embeddings), p AS (SELECT q.vec_id AS qid, x.vec_id AS cid, aq.cell AS cell, round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * x.nrm), 6) AS cos_r FROM a2 aq JOIN e q ON q.vec_id = aq.vec_id JOIN a2 ax ON ax.cell = aq.cell JOIN e x ON x.vec_id = ax.vec_id WHERE aq.vec_id < 10 AND x.vec_id <> q.vec_id) SELECT qid, cid, CAST(cell AS BIGINT) AS cell, cos_r FROM (SELECT qid, cid, cell, cos_r, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM p) WHERE rn = 1 ORDER BY qid"""),
      "E3: IVF ANN search through the Lloyd-trained quantizer — index build and cell-join search fully oracled"),

    // q61 — embedding-cosine near-dup pairs: candidates from the 8-bit
    // sign-LSH bucket (equi-join), kept when rounded cosine ≥ 0.35 (the
    // synthetic embeddings are near-uniform, so a production-style 0.9
    // cut would select zero pairs). The dedup-by-embedding flavor of E2,
    // sharing q38's scale shape.
    QuerySpec(
      "q61_embed_neardup",
      (s, d) => {
        val b = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            graft.ops.VectorOps.srpBucket(col("embedding"), 8).as("bucket"))
        val x = b.select(col("vec_id").as("a"), col("embedding").as("ea"), col("bucket"))
        val y = b.select(col("vec_id").as("b"), col("embedding").as("eb"), col("bucket"))
        x.join(y, Seq("bucket"))
          .where(col("a") < col("b"))
          .select(col("a"), col("b"),
            round(cosineSim(col("ea"), col("eb")), 6).as("cos_r"))
          .where(col("cos_r") >= 0.35)
          .orderBy("a", "b")
      },
      Some {
        val bucketSql = (1 to 8)
          .map(i => s"${1L << (i - 1)} * (CASE WHEN embedding[$i] > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH b AS (SELECT vec_id, embedding, CAST($bucketSql AS BIGINT) AS bucket, sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm FROM embeddings) SELECT x.vec_id AS a, y.vec_id AS b, round(list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) for i in generate_series(1, len(x.embedding))]) / (x.nrm * y.nrm), 6) AS cos_r FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id WHERE round(list_sum([CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE) for i in generate_series(1, len(x.embedding))]) / (x.nrm * y.nrm), 6) >= 0.35 ORDER BY a, b"""
      },
      "E2: embedding-cosine near-dup pairs over LSH buckets"),

    // q62 — per-group top-k via the typed TopKAggregator (bounded buffer,
    // k·groups shuffle rows) — oracle is the window row_number form.
    QuerySpec(
      "q62_topk_agg",
      (s, d) => {
        import graft.functions.TopKAggregator
        import TopKAggregator.Scored
        val sp = s
        import sp.implicits._
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .as[(Long, Long, Double)]
          .groupByKey(_._1)
          .mapValues(r => Scored(r._2, r._3))
          .agg(TopKAggregator.topK(2).toColumn.name("top"))
          .flatMap { case (cust, top) =>
            top.zipWithIndex.map { case (sc, i) => (cust, sc.id, sc.score, (i + 1).toLong) }
          }
          .toDF("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn"""),
      "§2.13: typed Aggregator top-k == window row_number"),

    // q63 — multimodal frame-sampling pipeline (E5): binary payloads →
    // resize → every-2nd-frame sample → per-doc frame stats. Decode is
    // the documented stub; the oracle checks the portable byte math
    // (ASCII text ⇒ frame counts derivable from n_chars).
    QuerySpec(
      "q63_multimodal_frames",
      (s, d) => {
        import graft.ops.MultimodalOps
        val media = MultimodalOps.mediaFromDocuments(t(s, d, "documents"))
        MultimodalOps.sampleFrames(MultimodalOps.resize(media, 256), 64, 2)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_frames"),
            sum(octet_length(col("frame")).cast("long")).as("sampled_bytes"))
          .orderBy("doc_id")
      },
      // resize-to-256 → 4 frames of 64 bytes → frames 0 and 2 sampled
      Some("""SELECT doc_id, CAST(2 AS BIGINT) AS n_frames, CAST(128 AS BIGINT) AS sampled_bytes FROM documents ORDER BY doc_id"""),
      "E5: binary resize + frame-sample pipeline (stub decoder)"),

    // q64 — the SQL entry surface: the same engine driven through
    // spark.sql over registered views (TPC-H-Q3-shaped).
    QuerySpec(
      "q64_sql_surface",
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("customer_v")
        t(s, d, "orders").createOrReplaceTempView("orders_v")
        t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""
          SELECT o_orderkey,
                 round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                 count(*) AS n_lines
          FROM customer_v
          JOIN orders_v ON c_custkey = o_custkey
          JOIN lineitem_v ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
          GROUP BY o_orderkey
          ORDER BY o_orderkey
        """)
      },
      Some("""SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, count(*) AS n_lines FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O' GROUP BY o_orderkey ORDER BY o_orderkey"""),
      "§3: spark.sql entry path over temp views"),

    // q65 — CSV scans S1 (header+inferSchema) and S2 (all-string) through
    // the harness surface: region round-trips through a CSV file, read
    // back both ways; the oracle is the original parquet table.
    QuerySpec(
      "q65_csv_scan",
      (s, d) => {
        import graft.sources.CsvSource
        val dir = java.nio.file.Files.createTempDirectory("csvscan").toString
        t(s, d, "region")
          .coalesce(1).write.mode("overwrite").option("header", true)
          .csv(s"$dir/region_csv")
        val inferred = CsvSource.inferred(s, s"$dir/region_csv")
          .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
        val allStr = CsvSource.allString(s, s"$dir/region_csv")
          .select(col("r_regionkey").cast("long").as("k2"), col("r_name").as("n2"))
        inferred.join(allStr, col("r_regionkey") === col("k2"))
          .select("r_regionkey", "r_name", "n2")
          .orderBy("r_regionkey")
      },
      Some("""SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name, r_name AS n2 FROM region ORDER BY r_regionkey"""),
      "S1/S2: CSV inferred + all-string scans, checked against parquet"),

    // q66 — RANGE window frame (§2.5: running aggregates over a value
    // range, not a row count) + distribution window functions.
    QuerySpec(
      "q66_range_frame",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val days = datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long")
        val wRange = Window.partitionBy("o_custkey").orderBy("d")
          .rangeBetween(-7, Window.currentRow)
        val wRank = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), days.as("d"))
          .select(
            col("o_custkey"), col("o_orderkey"),
            round(sum("o_totalprice").over(wRange), 2).as("wk_total"),
            ntile(4).over(wRank).cast("long").as("quartile"),
            round(percent_rank().over(wRank), 6).as("pct_rk"),
            round(cume_dist().over(wRank), 6).as("cume"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey, o_totalprice, CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS d FROM orders) SELECT o_custkey, o_orderkey, round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY d RANGE BETWEEN 7 PRECEDING AND CURRENT ROW), 2) AS wk_total, CAST(ntile(4) OVER wr AS BIGINT) AS quartile, round(percent_rank() OVER wr, 6) AS pct_rk, round(cume_dist() OVER wr, 6) AS cume FROM o WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) ORDER BY o_custkey, o_orderkey"""),
      "§2.5: RANGE frame + ntile/percent_rank/cume_dist"),

    // q67 — argmax aggregates: value at the extreme of another column
    // (max_by/min_by ↔ DuckDB arg_max/arg_min), id-keyed so ties can't
    // make the result nondeterministic.
    QuerySpec(
      "q67_argmax",
      (s, d) => {
        t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(
            max_by(col("o_totalprice"), col("o_orderkey")).as("latest_price"),
            min_by(col("o_totalprice"), col("o_orderkey")).as("first_price"),
            max("o_orderkey").as("last_key"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, arg_max(o_totalprice, o_orderkey) AS latest_price, arg_min(o_totalprice, o_orderkey) AS first_price, max(o_orderkey) AS last_key FROM orders GROUP BY 1 ORDER BY 1"""),
      "§2.4 ext: max_by/min_by (arg_max/arg_min) aggregates"),

    // q68 — correlated scalar subquery (§4: Catalyst decorrelates it into
    // an aggregate + join). Threshold is rounded so the float boundary
    // can't flip rows between engines.
    QuerySpec(
      "q68_correlated_subquery",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_v")
        s.sql("""
          SELECT o_orderkey, o_custkey, o_totalprice
          FROM orders_v o1
          WHERE o_totalprice > round(1.5 * (
            SELECT avg(o_totalprice) FROM orders_v o2
            WHERE o2.o_custkey = o1.o_custkey), 4)
          ORDER BY o_orderkey
        """)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders o1 WHERE o_totalprice > round(1.5 * (SELECT avg(o_totalprice) FROM orders o2 WHERE o2.o_custkey = o1.o_custkey), 4) ORDER BY o_orderkey"""),
      "§4: correlated scalar subquery → decorrelated agg+join"),

    // q69 — posexplode: token position indexing (ordinal-aware flatten).
    QuerySpec(
      "q69_posexplode",
      (s, d) => {
        t(s, d, "documents")
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
          .orderBy("doc_id", "pos")
      },
      Some("""SELECT doc_id, CAST(u['p'] - 1 AS BIGINT) AS pos, u['tok'] AS tok FROM (SELECT doc_id, unnest([{'p': i, 'tok': tk[i]} for i in generate_series(1, len(tk))]) AS u FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents)) ORDER BY doc_id, pos"""),
      "§2.9 ext: posexplode with 0-based ordinals"),

    // q70 — null-handling scalar functions: nullif / ifnull / nvl chain.
    QuerySpec(
      "q70_null_funcs",
      (s, d) => {
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            expr("nullif(l_discount, 0)").as("disc_null"),
            expr("ifnull(nullif(l_tax, 0), -1)").as("tax_or_neg1"),
            coalesce(expr("nullif(l_returnflag, 'N')"), lit("NONE")).as("flag_or_none"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, nullif(l_discount, 0) AS disc_null, ifnull(nullif(l_tax, 0), -1) AS tax_or_neg1, coalesce(nullif(l_returnflag, 'N'), 'NONE') AS flag_or_none FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
      "§2.9 ext: nullif/ifnull/coalesce null handling"),

    // q71 — regex predicate + split_part + printf formatting.
    QuerySpec(
      "q71_string_funcs3",
      (s, d) => {
        t(s, d, "documents")
          .select(col("doc_id"),
            col("text").rlike("(spark|stream).*join").cast("int").as("re_hit"),
            expr("split_part(text, ' ', 2)").as("second_tok"),
            format_string("%s-%03d", col("lang"), col("doc_id") % 100).as("tag"),
            expr("repeat(lang, 2)").as("lang2"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(regexp_matches(text, '(spark|stream).*join') AS INT) AS re_hit, split_part(text, ' ', 2) AS second_tok, printf('%s-%03d', lang, doc_id % 100) AS tag, repeat(lang, 2) AS lang2 FROM documents ORDER BY doc_id"""),
      "§2.9 ext: rlike/split_part/format_string/repeat"),

    // q72 — bitwise operations.
    QuerySpec(
      "q72_bit_ops",
      (s, d) => {
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            expr("l_orderkey & 255").as("low_byte"),
            expr("l_orderkey ^ l_partkey").as("xored"),
            expr("shiftright(l_orderkey, 4)").as("shr4"),
            expr("shiftleft(l_linenumber, 2)").cast("long").as("shl2"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_orderkey & 255 AS low_byte, xor(l_orderkey, l_partkey) AS xored, l_orderkey >> 4 AS shr4, CAST(l_linenumber << 2 AS BIGINT) AS shl2 FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
      "§2.9 ext: bitwise and/xor/shifts"),

    // q73 — part/supplier dimension joins (the two tables no other query
    // exercises): lineitem ⋈ part ⋈ supplier with a LIKE-filtered dim.
    QuerySpec(
      "q73_part_supplier",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val p = t(s, d, "part").where(col("p_size") >= 10 && col("p_type").like("%M%"))
        val sup = t(s, d, "supplier")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
          .groupBy("p_brand", "s_nationkey")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("p_retailprice"), 2).as("sum_retail"),
            count(lit(1)).as("cnt"))
          .orderBy("p_brand", "s_nationkey")
      },
      Some("""SELECT p_brand, s_nationkey, round(sum(l_quantity), 2) AS sum_qty, round(sum(p_retailprice), 2) AS sum_retail, count(*) AS cnt FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey WHERE p_size >= 10 AND p_type LIKE '%M%' GROUP BY 1, 2 ORDER BY 1, 2"""),
      "§2.3: part/supplier dimension joins with filtered broadcast"))
}

package graft.queries

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.bitmapDistinct

/** Third-wave coverage (round 2): reshaping (unpivot, grouping sets),
  * map-typed columns, window navigation functions, higher statistical
  * moments, array generation, interval arithmetic, a partitioned parquet
  * sink round-trip, JSON struct codecs, filtered/boolean aggregates,
  * IN/NOT IN subqueries, window dedup, edit distance, and ordered string
  * aggregation.
  */
object WideQueries {

  /** q107's bucketed tables, laid out once per (session, corpus):
    * bucketing is a one-time table-layout decision — every query against
    * it should pay the co-located join, not a fresh rewrite of both
    * tables (the same amortization contract as the dedup/ANN caches).
    */
  private val bucketedReg =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, String)]
  /** Returns the (lineitem, orders) bucketed-table names for this corpus.
    * The names carry a corpus suffix: a session that touches MULTIPLE
    * corpora (tests at several scale factors) must not read one corpus's
    * layout through another's memo entry.
    */
  private def ensureBucketed(s: SparkSession, d: String): (String, String) =
    bucketedReg.getOrElseUpdate((s, d), {
      val suffix = math.abs(scala.util.hashing.MurmurHash3.stringHash(d)).toString
      val (liTbl, oTbl) = (s"li_bq107_$suffix", s"o_bq107_$suffix")
      for (tbl <- Seq(liTbl, oTbl)) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        // the in-memory catalog forgets tables between JVM runs but the
        // warehouse dirs persist → LOCATION_ALREADY_EXISTS; clear them
        val p = java.nio.file.Paths.get("spark-warehouse", tbl)
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
      // pre-repartition on the bucket key with numPartitions = buckets:
      // one file per bucket instead of (input partitions × buckets)
      t(s, d, "lineitem").select("l_orderkey", "l_quantity")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(liTbl)
      t(s, d, "orders").select("o_orderkey", "o_orderstatus")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(oTbl)
      (liTbl, oTbl)
    })

  val specs: Seq[QuerySpec] = Seq(

    // q74 — unpivot/melt wide→long (Dataset.unpivot). The oracle is the
    // portable UNION ALL expansion.
    QuerySpec(
      "q74_unpivot",
      (s, d) => {
        t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            "measure", "val")
          .orderBy("l_orderkey", "l_linenumber", "measure")
      },
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem ORDER BY l_orderkey, l_linenumber, measure"""),
      "§2.2 ext: unpivot (melt) == UNION ALL expansion"),

    // q75 — MapType column plumbing: build a map, probe keys/values. The
    // map itself never leaves the plan (DuckDB MAP extraction semantics
    // vary) — the oracle checks the extracted VALUES.
    QuerySpec(
      "q75_map_funcs",
      (s, d) => {
        val m = map(
          lit("qty"), col("l_quantity"),
          lit("tax"), col("l_tax"))
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            element_at(m, "qty").as("qty_val"),
            element_at(m, "tax").as("tax_val"),
            size(map_keys(m)).cast("long").as("n_keys"),
            array_contains(map_keys(m), "qty").cast("int").as("has_qty"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity AS qty_val, l_tax AS tax_val, CAST(2 AS BIGINT) AS n_keys, CAST(1 AS INT) AS has_qty FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
      "§2.9 ext: MapType build/probe (map/map_keys/element_at)"),

    // q76 — explicit GROUPING SETS (the general form behind q46 rollup /
    // q52 cube), with per-column grouping() flags.
    QuerySpec(
      "q76_grouping_sets",
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem_gs")
        s.sql("""
          SELECT coalesce(l_returnflag, 'ALL') AS flag,
                 coalesce(l_linestatus, 'ALL') AS status,
                 CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
                 count(*) AS cnt,
                 round(sum(l_quantity), 2) AS sum_qty
          FROM lineitem_gs
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          ORDER BY gid, flag, status
        """)
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status, CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) ORDER BY gid, flag, status"""),
      "§2.4 ext: GROUPING SETS + grouping() flags"),

    // q77 — window navigation: lead / first_value / last_value /
    // nth_value over the per-customer order history. last/nth need the
    // full-partition frame (the default frame stops at CURRENT ROW).
    QuerySpec(
      "q77_window_nav",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, d, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"),
            coalesce(round(lead("o_totalprice", 1).over(w), 2), lit(-1.0)).as("next_price"),
            round(first("o_totalprice").over(wFull), 2).as("first_price"),
            round(last("o_totalprice").over(wFull), 2).as("last_price"),
            coalesce(round(nth_value(col("o_totalprice"), 2).over(wFull), 2), lit(-1.0)).as("second_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, coalesce(round(lead(o_totalprice, 1) OVER w, 2), -1.0) AS next_price, round(first_value(o_totalprice) OVER wf, 2) AS first_price, round(last_value(o_totalprice) OVER wf, 2) AS last_price, coalesce(round(nth_value(o_totalprice, 2) OVER wf, 2), -1.0) AS second_price FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) ORDER BY o_custkey, o_orderkey"""),
      "§2.5 ext: lead/first_value/last_value/nth_value"),

    // q78 — higher moments + exact median. Spark's skewness/kurtosis are
    // the POPULATION g1 / excess-g2 statistics; DuckDB's builtins are the
    // sample-corrected versions, so the oracle computes the population
    // formulas from raw central moments.
    QuerySpec(
      "q78_stats_moments",
      (s, d) => {
        t(s, d, "lineitem").agg(
          round(skewness(col("l_quantity")), 4).as("skew_qty"),
          round(kurtosis(col("l_quantity")), 4).as("kurt_qty"),
          round(median(col("l_extendedprice")), 4).as("med_price"),
          round(stddev_pop(col("l_quantity")), 4).as("std_pop_qty"))
      },
      Some("""WITH s AS (SELECT avg(l_quantity) AS mu, count(*) AS n FROM lineitem), m AS (SELECT sum(power(l_quantity - mu, 2)) / max(n) AS m2, sum(power(l_quantity - mu, 3)) / max(n) AS m3, sum(power(l_quantity - mu, 4)) / max(n) AS m4 FROM lineitem, s) SELECT round(m3 / power(m2, 1.5), 4) AS skew_qty, round(m4 / power(m2, 2) - 3, 4) AS kurt_qty, (SELECT round(median(l_extendedprice), 4) FROM lineitem) AS med_price, round(sqrt(m2), 4) AS std_pop_qty FROM m"""),
      "A5/A6 ext: skewness/kurtosis/median/stddev_pop"),

    // q79 — array generation: sequence + fold, array_repeat.
    QuerySpec(
      "q79_array_gen",
      (s, d) => {
        val sq = sequence(lit(1L), pmod(col("o_orderkey"), lit(5L)) + lit(1L))
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            size(sq).cast("long").as("seq_len"),
            aggregate(sq, lit(0L), (a, x) => a + x).as("seq_sum"),
            array_join(array_repeat(col("o_orderpriority"), 2), "+").as("prio2"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(len(generate_series(1, o_orderkey % 5 + 1)) AS BIGINT) AS seq_len, CAST(list_sum(generate_series(1, o_orderkey % 5 + 1)) AS BIGINT) AS seq_sum, concat(o_orderpriority, '+', o_orderpriority) AS prio2 FROM orders ORDER BY o_orderkey"""),
      "§2.9 ext: sequence/aggregate-fold/array_repeat"),

    // q80 — interval arithmetic and truncation on event timestamps
    // (epoch-seconds outputs per the determinism rules).
    QuerySpec(
      "q80_time_arith",
      (s, d) => {
        t(s, d, "events")
          .select(
            col("event_id"),
            unix_timestamp(date_trunc("hour", col("ts"))).as("hr_epoch"),
            unix_timestamp(col("ts") + expr("INTERVAL 90 MINUTE")).as("plus90_epoch"),
            (unix_timestamp(col("ts")) % 3600).as("sec_into_hour"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hr_epoch, CAST(floor(epoch(CAST(ts AS TIMESTAMP) + INTERVAL 90 MINUTE)) AS BIGINT) AS plus90_epoch, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) % 3600 AS sec_into_hour FROM events ORDER BY event_id"""),
      "§2.9 ext: interval add + date_trunc on timestamps"),

    // q81 — partitioned parquet SINK + scan-back: documents written
    // partitioned by lang (the layout a 100 TB corpus would use for
    // partition-pruned reads), then re-aggregated from the files. The
    // oracle aggregates the original table — checking the round-trip
    // loses nothing.
    QuerySpec(
      "q81_parquet_sink",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("pqsink").toString
        t(s, d, "documents").write.partitionBy("lang").mode("overwrite")
          .parquet(s"$dir/docs_by_lang")
        s.read.parquet(s"$dir/docs_by_lang")
          .groupBy("lang")
          .agg(count(lit(1)).as("cnt"), sum("n_chars").as("total_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY 1 ORDER BY 1"""),
      "§2.1 ext: partitioned parquet sink + read-back aggregation"),

    // q82 — JSON struct codecs: from_json with an explicit schema, field
    // extraction, and a to_json re-encode.
    QuerySpec(
      "q82_json_codec",
      (s, d) => {
        val parsed = from_json(col("props"), org.apache.spark.sql.types.StructType(
          Seq(org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
        t(s, d, "events")
          .select(
            col("event_id"),
            parsed.getField("k").as("k"),
            to_json(struct(parsed.getField("k").as("k"))).as("rejson"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k, printf('{"k":%d}', CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS rejson FROM events ORDER BY event_id"""),
      "§2.9 ext: from_json schema parse + to_json encode"),

    // q83 — filtered aggregates (FILTER clause) and boolean aggregates.
    QuerySpec(
      "q83_filtered_agg",
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy("l_linestatus")
          .agg(
            expr("count(*) FILTER (WHERE l_returnflag = 'R')").as("n_r"),
            round(expr("sum(l_quantity) FILTER (WHERE l_tax > 0.04)"), 2).as("qty_hitax"),
            expr("count_if(l_discount > 0.09)").as("n_bigdisc"),
            expr("bool_or(l_discount > 0.09)").cast("int").as("any_bigdisc"),
            expr("bool_and(l_quantity >= 1)").cast("int").as("all_qty_pos"))
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus, count(*) FILTER (WHERE l_returnflag = 'R') AS n_r, round(sum(l_quantity) FILTER (WHERE l_tax > 0.04), 2) AS qty_hitax, CAST(sum(CASE WHEN l_discount > 0.09 THEN 1 ELSE 0 END) AS BIGINT) AS n_bigdisc, CAST(bool_or(l_discount > 0.09) AS INT) AS any_bigdisc, CAST(bool_and(l_quantity >= 1) AS INT) AS all_qty_pos FROM lineitem GROUP BY 1 ORDER BY 1"""),
      "§2.4 ext: FILTER-clause and boolean aggregates"),

    // q84 — IN / NOT IN subqueries (the membership-predicate cousins of
    // q11/q12's semi/anti joins), through the SQL surface.
    QuerySpec(
      "q84_in_subquery",
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("customer_in")
        t(s, d, "orders").createOrReplaceTempView("orders_in")
        s.sql("""
          SELECT c_custkey, c_name
          FROM customer_in
          WHERE c_custkey IN (SELECT o_custkey FROM orders_in WHERE o_totalprice > 200000)
            AND c_custkey NOT IN (SELECT o_custkey FROM orders_in WHERE o_orderstatus = 'P')
          ORDER BY c_custkey
        """)
      },
      Some("""SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000) AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') ORDER BY c_custkey"""),
      "§2.3 ext: IN / NOT IN membership subqueries"),

    // q85 — window dedup (E1 pattern at event granularity): latest event
    // per (user, type), id-tiebroken.
    QuerySpec(
      "q85_window_dedup",
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_timestamp(col("ts")).as("ts_epoch"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, event_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_epoch FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn FROM events) WHERE rn = 1 ORDER BY user_id, event_type"""),
      "E1 ext: keep-latest window dedup"),

    // q86 — edit distance (levenshtein), the character-level similarity
    // complement to the token-level Jaccard (q36).
    QuerySpec(
      "q86_levenshtein",
      (s, d) => {
        t(s, d, "documents")
          .select(
            col("doc_id"),
            levenshtein(col("lang"), col("source")).cast("long").as("lev_lang_src"),
            levenshtein(substring(col("text"), 1, 12), substring(col("text"), 3, 12))
              .cast("long").as("lev_shift"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(levenshtein(lang, source) AS BIGINT) AS lev_lang_src, CAST(levenshtein(substr(text, 1, 12), substr(text, 3, 12)) AS BIGINT) AS lev_shift FROM documents ORDER BY doc_id"""),
      "E2 ext: levenshtein edit distance"),

    // q87 — ordered string aggregation: names concatenated in key order.
    // Spark has no ordered listagg → sort an array of (key, name) structs
    // (struct arrays sort field-by-field) and project the names out.
    QuerySpec(
      "q87_string_agg",
      (s, d) => {
        t(s, d, "customer")
          .groupBy("c_nationkey")
          .agg(
            array_join(
              transform(
                array_sort(collect_list(struct(col("c_custkey"), col("c_name")))),
                x => x.getField("c_name")), "|").as("names"),
            count(lit(1)).as("cnt"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey, string_agg(c_name, '|' ORDER BY c_custkey) AS names, count(*) AS cnt FROM customer GROUP BY 1 ORDER BY 1"""),
      "§2.4 ext: ordered string_agg via sorted struct array"),

    // q88 — JSON-lines source round-trip: nation written as JSONL, read
    // back with an explicit schema (no inference pass — the 100 TB
    // stance), checked against the original parquet.
    QuerySpec(
      "q88_jsonl_scan",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("jsonscan").toString
        t(s, d, "nation").coalesce(1).write.mode("overwrite")
          .json(s"$dir/nation_json")
        s.read.schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
          .json(s"$dir/nation_json")
          .orderBy("n_nationkey")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation ORDER BY n_nationkey"""),
      "§2.1 ext: JSON-lines sink + explicit-schema scan"),

    // q89 — ORC source round-trip: supplier through the ORC format both
    // ways, aggregated per nation.
    QuerySpec(
      "q89_orc_roundtrip",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("orcscan").toString
        t(s, d, "supplier").write.mode("overwrite").orc(s"$dir/supplier_orc")
        s.read.orc(s"$dir/supplier_orc")
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("cnt"), round(sum("s_acctbal"), 2).as("total_bal"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS cnt, round(sum(s_acctbal), 2) AS total_bal FROM supplier GROUP BY 1 ORDER BY 1"""),
      "§2.1 ext: ORC sink + scan aggregation"),

    // q93 — bigram language-model scoring (E4): per-doc mean log
    // probability under the corpus MLE bigram model p(w2|w1) = c(w1,w2)
    // / c(w1·) — the classic fluency/quality signal for training-data
    // filtering. Bigrams come from the codegen lead-window path; the
    // count tables broadcast.
    QuerySpec(
      "q93_bigram_lm",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val inst = t(s, d, "documents")
          .repartition(col("doc_id"))
          .select(col("doc_id"),
            posexplode(graft.ops.TextOps.tokens(col("text"))).as(Seq("pos", "w1")))
          .withColumn("w2", lead("w1", 1).over(w))
          .where(col("w2").isNotNull)
          .select("doc_id", "w1", "w2")
          .cache() // three consumers (cb, cu, the scoring join) — one pass
        val cb = inst.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        val cu = inst.groupBy("w1").agg(count(lit(1)).as("cu"))
        inst.join(broadcast(cb), Seq("w1", "w2")).join(broadcast(cu), Seq("w1"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(log(col("cb") / col("cu"))), 6).as("avg_lp"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), bi AS (SELECT doc_id, u['w1'] AS w1, u['w2'] AS w2 FROM (SELECT doc_id, unnest([{'w1': tk[i], 'w2': tk[i+1]} for i in generate_series(1, len(tk) - 1)]) AS u FROM tok) z), cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2), cu AS (SELECT w1, count(*) AS cu FROM bi GROUP BY 1) SELECT doc_id, count(*) AS n_bigrams, round(avg(ln(cb * 1.0 / cu)), 6) AS avg_lp FROM bi JOIN cb USING (w1, w2) JOIN cu USING (w1) GROUP BY 1 ORDER BY 1"""),
      "E4 ext: corpus bigram-LM fluency scoring"),

    // q94 — salted replicated JOIN (SkewOps.saltedJoin): hot fact keys
    // spread over 8 salts, build side replicated; result == plain join.
    QuerySpec(
      "q94_salted_join",
      (s, d) => {
        val ev = t(s, d, "events")
        val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_total"))
        graft.ops.SkewOps.saltedJoin(
            ev.select("event_id", "user_id"), dim, "user_id", col("event_id"), 8)
          .select(col("event_id"), col("user_id"), col("user_total"))
          .orderBy("event_id")
      },
      Some("""WITH d AS (SELECT user_id, count(*) AS user_total FROM events GROUP BY 1) SELECT event_id, e.user_id AS user_id, user_total FROM events e JOIN d ON e.user_id = d.user_id ORDER BY event_id"""),
      "§4 ext: salted replicated join == plain join"),

    // q95 — Bloom-filter pre-filtered semi-join (JoinOps.bloomSemiJoin):
    // broadcast bitset drops non-matching fact rows before the shuffle;
    // the exact semi-join removes false positives, so the oracle is the
    // plain EXISTS.
    QuerySpec(
      "q95_bloom_semi_join",
      (s, d) => {
        val rich = t(s, d, "customer")
          .where(col("c_acctbal") > 9000).select("c_custkey")
        graft.ops.JoinOps.bloomSemiJoin(
            t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
            rich, "o_custkey", "c_custkey")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal > 9000) ORDER BY o_orderkey"""),
      "§4 ext: Bloom pre-filter + exact semi-join"),

    // q96 — math scalar functions (§2.9): roots, exponentials, logs,
    // trig, sign. Rounded so last-ulp libm differences can't flip values.
    QuerySpec(
      "q96_math_funcs",
      (s, d) => {
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(sqrt(col("l_quantity")), 6).as("sq"),
            round(exp(col("l_discount")), 6).as("ex"),
            round(pow(col("l_quantity"), 2), 2).as("p2"),
            round(log10(col("l_extendedprice")), 6).as("l10"),
            round(atan2(col("l_quantity"), col("l_extendedprice")), 6).as("at2"),
            signum(col("l_discount") - 0.05).cast("int").as("sgn"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, round(sqrt(l_quantity), 6) AS sq, round(exp(l_discount), 6) AS ex, round(power(l_quantity, 2), 2) AS p2, round(log10(l_extendedprice), 6) AS l10, round(atan2(l_quantity, l_extendedprice), 6) AS at2, CAST(sign(l_discount - 0.05) AS INT) AS sgn FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
      "§2.9 ext: sqrt/exp/pow/log10/atan2/sign"),

    // q97 — binary encodings: base64 of UTF-8 bytes, integer hex,
    // ascii/chr round-trips.
    QuerySpec(
      "q97_encoding",
      (s, d) => {
        t(s, d, "documents")
          .select(
            col("doc_id"),
            base64(encode(substring(col("text"), 1, 24), "UTF-8")).as("b64"),
            hex(col("doc_id")).as("id_hex"),
            ascii(substring(col("source"), 1, 1)).cast("long").as("src_ascii"),
            expr("char(65 + doc_id % 26)").as("letter"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, base64(encode(substr(text, 1, 24))) AS b64, hex(doc_id) AS id_hex, CAST(ascii(substr(source, 1, 1)) AS BIGINT) AS src_ascii, chr(CAST(65 + doc_id % 26 AS INT)) AS letter FROM documents ORDER BY doc_id"""),
      "§2.9 ext: base64/hex/ascii/chr encodings"),

    // q98 — deterministic stratified sampling (the oracle-checkable
    // re-expression of df.stat.sampleBy): per-stratum rates driven by a
    // multiplicative hash of the row key — 50% of 'en' docs, 10% of the
    // rest, reproducible on any engine.
    QuerySpec(
      "q98_stratified_sample",
      (s, d) => {
        val u = (col("doc_id") % 100003L) * 2654435761L % 100L
        t(s, d, "documents")
          .where((col("lang") === "en" && u < 50) ||
                 (col("lang") =!= "en" && u < 10))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang FROM documents WHERE (lang = 'en' AND (doc_id % 100003) * 2654435761 % 100 < 50) OR (lang <> 'en' AND (doc_id % 100003) * 2654435761 % 100 < 10) ORDER BY doc_id"""),
      "§2.8 ext: deterministic stratified sampleBy"),

    // q99 — typed Dataset pipeline: case-class encoder, typed filter and
    // map. Typed lambdas run outside codegen and block pushdown — kept
    // out of every other query on purpose; this one pins that the API
    // surface exists and agrees with the relational result.
    QuerySpec(
      "q99_typed_dataset",
      (s, d) => {
        val sp = s
        import sp.implicits._
        t(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .as[WideQueries.Ord]
          .filter(_.o_totalprice > 100000.0)
          .map(o => (o.o_orderkey, o.o_custkey, o.o_totalprice * 0.9))
          .toDF("o_orderkey", "o_custkey", "discounted")
          .withColumn("discounted", round(col("discounted"), 4))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, round(o_totalprice * 0.9, 4) AS discounted FROM orders WHERE o_totalprice > 100000.0 ORDER BY o_orderkey"""),
      "§1.1: typed Dataset filter/map == relational result"),

    // q100 — contingency table (df.stat.crosstab); the oracle is the
    // conditional-aggregation expansion with crosstab's column naming.
    QuerySpec(
      "q100_crosstab",
      (s, d) => {
        // fixed column order: crosstab derives pivot-column order from a
        // shuffled take(), which varies with partition count
        t(s, d, "lineitem")
          .stat.crosstab("l_returnflag", "l_linestatus")
          .select("l_returnflag_l_linestatus", "F", "O")
          .orderBy("l_returnflag_l_linestatus")
      },
      Some("""SELECT l_returnflag AS l_returnflag_l_linestatus, CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F", CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O" FROM lineitem GROUP BY 1 ORDER BY 1"""),
      "A5 ext: stat.crosstab contingency table"),

    // q102 — Spark 4 VARIANT type: parse_json → typed path extraction
    // (+ try_variant_get null on a missing path). The variant never
    // leaves the plan; the oracle checks the extracted values.
    QuerySpec(
      "q102_variant",
      (s, d) => {
        val v = parse_json(col("props"))
        t(s, d, "events")
          .select(
            col("event_id"),
            variant_get(v, "$.k", "bigint").as("k"),
            expr("""variant_get(parse_json('{"a":[1,2,3]}'), '$.a[1]', 'bigint')""").as("const_a1"),
            coalesce(try_variant_get(v, "$.missing", "bigint"), lit(-1L)).as("missing"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k, CAST(2 AS BIGINT) AS const_a1, CAST(-1 AS BIGINT) AS missing FROM events ORDER BY event_id"""),
      "§2.9 ext: VARIANT parse_json/variant_get"),

    // q103 — ANSI-safe try_* functions: division by zero and bad casts
    // yield NULL instead of raising (DuckDB's / and TRY_CAST behave the
    // same natively).
    QuerySpec(
      "q103_try_funcs",
      (s, d) => {
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(try_divide(col("l_quantity"), col("l_discount")), 4).as("qty_per_disc"),
            round(try_divide(lit(100.0), col("l_tax")), 4).as("hundred_per_tax"),
            expr("try_cast(l_returnflag AS int)").as("flag_int"),
            expr("try_cast(concat('4', l_linenumber) AS int)").as("num_ok"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, round(l_quantity / l_discount, 4) AS qty_per_disc, round(100.0 / l_tax, 4) AS hundred_per_tax, TRY_CAST(l_returnflag AS INT) AS flag_int, TRY_CAST(concat('4', CAST(l_linenumber AS VARCHAR)) AS INT) AS num_ok FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
      "§2.9 ext: try_divide/try_cast null-on-error semantics"),

    // q104 — regexp_extract_all: all matches as an array, probed by
    // count/first/last.
    QuerySpec(
      "q104_regexp_extract_all",
      (s, d) => {
        val arr = regexp_extract_all(col("text"), lit("[a-z]{5,}"), lit(0))
        // try_element_at, not element_at: under Spark 4's default ANSI
        // mode element_at on an empty match array would THROW, making
        // the '-' fallback dead code
        t(s, d, "documents")
          .select(
            col("doc_id"),
            size(arr).cast("long").as("n_m"),
            coalesce(try_element_at(arr, lit(1)), lit("-")).as("first_m"),
            coalesce(try_element_at(arr, lit(-1)), lit("-")).as("last_m"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z]{5,}')) AS BIGINT) AS n_m, coalesce(regexp_extract_all(text, '[a-z]{5,}')[1], '-') AS first_m, coalesce(regexp_extract_all(text, '[a-z]{5,}')[-1], '-') AS last_m FROM documents ORDER BY doc_id"""),
      "§2.9 ext: regexp_extract_all array probing"),

    // q105 — explode_outer: rows with an empty/filtered-away array
    // survive with a NULL element (vs explode, which drops them). The
    // filter keeps only long tokens so short docs genuinely exercise the
    // outer branch.
    QuerySpec(
      "q105_explode_outer",
      (s, d) => {
        val longToks = filter(split(lower(col("text")), " "), t => length(t) >= 9)
        t(s, d, "documents")
          .select(col("doc_id"), explode_outer(longToks).as("tok"))
          .select(col("doc_id"), coalesce(col("tok"), lit("<none>")).as("tok"))
          .orderBy("doc_id", "tok")
      },
      Some("""SELECT doc_id, coalesce(u.tok, '<none>') AS tok FROM documents LEFT JOIN LATERAL (SELECT unnest(list_filter(string_split(lower(text), ' '), t -> length(t) >= 9)) AS tok) u ON true ORDER BY doc_id, tok"""),
      "§2.9 ext: explode_outer null-preserving generator"),

    // q106 — LATERAL correlated derived table (§2.3 ext): per-customer
    // top order via a lateral subquery — Catalyst decorrelates it like
    // q68's scalar subquery but with a full row result.
    QuerySpec(
      "q106_lateral_join",
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("customer_lat")
        t(s, d, "orders").createOrReplaceTempView("orders_lat")
        s.sql("""
          SELECT c_custkey, t.best_key, t.best_price
          FROM customer_lat,
          LATERAL (
            SELECT max_by(o_orderkey,
                     CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS best_key,
                   max(o_totalprice) AS best_price
            FROM orders_lat WHERE o_custkey = c_custkey
          ) t
          WHERE t.best_key IS NOT NULL
          ORDER BY c_custkey
        """)
      },
      Some("""SELECT c_custkey, t.best_key, t.best_price FROM customer, LATERAL (SELECT arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS best_key, max(o_totalprice) AS best_price FROM orders WHERE o_custkey = c_custkey) t WHERE t.best_key IS NOT NULL ORDER BY c_custkey"""),
      "§2.3 ext: LATERAL correlated derived table"),

    // q107 — bucketed co-located join: both fact tables written bucketBy
    // the join key, so the join itself plans with NO exchange on either
    // side — at 100 TB the one-off ETL shuffle at write time replaces a
    // per-query fact shuffle. Result (and oracle) are identical to the
    // plain join; BucketingSpec pins the no-Exchange plan property.
    QuerySpec(
      "q107_bucketed_join",
      (s, d) => {
        val (liTbl, oTbl) = ensureBucketed(s, d)
        s.table(liTbl)
          .join(s.table(oTbl), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1 ORDER BY 1"""),
      "§4 ext: bucketed co-located join == plain join"),

    // q108 — map higher-order functions: transform_keys /
    // transform_values / map_filter. As in q75, the maps stay inside the
    // plan; the oracle checks the probed values.
    QuerySpec(
      "q108_map_hofs",
      (s, d) => {
        val m = map_from_arrays(
          array(lit("qty"), lit("tax")),
          array(col("l_quantity"), col("l_tax")))
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            element_at(transform_keys(m, (k, _) => upper(k)), "QTY").as("qty_up"),
            element_at(transform_values(m, (_, v) => v * 2), "tax").as("tax2"),
            size(map_filter(m, (_, v) => v > 0.02)).cast("long").as("n_keep"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity AS qty_up, l_tax * 2 AS tax2, CAST((CASE WHEN l_quantity > 0.02 THEN 1 ELSE 0 END) + (CASE WHEN l_tax > 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
      "§2.9 ext: transform_keys/transform_values/map_filter"),

    // q109 — array set algebra: union / except / overlap over token
    // slices (sizes only — Spark's set ops dedup while preserving
    // first-occurrence order, so sizes are the portable comparison).
    QuerySpec(
      "q109_array_setops",
      (s, d) => {
        val toks = split(lower(col("text")), " ")
        val ta = slice(toks, 1, 10)
        val tb = slice(toks, 6, 10)
        t(s, d, "documents")
          .select(
            col("doc_id"),
            size(array_union(ta, tb)).cast("long").as("n_union"),
            size(array_except(ta, tb)).cast("long").as("n_except"),
            size(array_intersect(ta, tb)).cast("long").as("n_inter"),
            arrays_overlap(ta, tb).cast("int").as("overlaps"))
          .orderBy("doc_id")
      },
      Some("""WITH z AS (SELECT doc_id, string_split(lower(text), ' ')[1:10] AS ta, string_split(lower(text), ' ')[6:15] AS tb FROM documents) SELECT doc_id, CAST(len(list_distinct(list_concat(ta, tb))) AS BIGINT) AS n_union, CAST(len(list_distinct(list_filter(ta, x -> NOT list_contains(tb, x)))) AS BIGINT) AS n_except, CAST(len(list_distinct(list_filter(ta, x -> list_contains(tb, x)))) AS BIGINT) AS n_inter, CAST(len(list_filter(ta, x -> list_contains(tb, x))) > 0 AS INT) AS overlaps FROM z ORDER BY doc_id"""),
      "§2.9 ext: array_union/except/intersect/overlap"),

    // q110 — zip_with + exists/forall array predicates over embeddings:
    // dot of a vector with its own reverse via zip_with→aggregate (the
    // same sequential fold order as the oracle's list comprehension).
    QuerySpec(
      "q110_zip_exists",
      (s, d) => {
        val e = col("embedding")
        val prod = zip_with(e, reverse(e), (x, y) => x.cast("double") * y.cast("double"))
        t(s, d, "embeddings")
          .select(
            col("vec_id"),
            round(aggregate(prod, lit(0.0), (acc, x) => acc + x), 6).as("dot_rev"),
            exists(e, x => x > 0.9f).cast("int").as("has_big"),
            forall(e, x => x > -10.0f).cast("int").as("all_sane"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, round(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE) for i in generate_series(1, len(embedding))]), 6) AS dot_rev, CAST(len(list_filter(embedding, x -> x > 0.9)) > 0 AS INT) AS has_big, CAST(len(list_filter(embedding, x -> x > -10.0)) = len(embedding) AS INT) AS all_sane FROM embeddings ORDER BY vec_id"""),
      "§2.9 ext: zip_with + exists/forall predicates"),

    // q111 — schema evolution: two parquet batches with different
    // columns (the second adds r_comment2) merged at read time with
    // mergeSchema — the 100 TB reality of drifting producers.
    QuerySpec(
      "q111_merge_schema",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("mergeschema").toString
        val r = t(s, d, "region")
        r.where(col("r_regionkey") < 3)
          .select("r_regionkey", "r_name")
          .write.mode("overwrite").parquet(s"$dir/batches/b0")
        r.where(col("r_regionkey") >= 3)
          .select(col("r_regionkey"), col("r_name"),
            upper(col("r_name")).as("r_name_up"))
          .write.mode("overwrite").parquet(s"$dir/batches/b1")
        // explicit multi-path read, not a "b*" glob: Spark checks the
        // literal glob path first and LOGS a FileNotFoundException stack
        // trace (harmless but it pollutes the driver's output tail)
        s.read.option("mergeSchema", true)
          .parquet(s"$dir/batches/b0", s"$dir/batches/b1")
          .select(col("r_regionkey"), col("r_name"),
            coalesce(col("r_name_up"), lit("<missing>")).as("r_name_up"))
          .orderBy("r_regionkey")
      },
      Some("""SELECT r_regionkey, r_name, CASE WHEN r_regionkey >= 3 THEN upper(r_name) ELSE '<missing>' END AS r_name_up FROM region ORDER BY r_regionkey"""),
      "§2.1 ext: mergeSchema read over drifting parquet batches"),

    // q112 — nested struct columns through parquet: write structs, read
    // back selecting nested fields (Catalyst prunes the unread leaves —
    // ReadSchema shows only meta.n_chars) and filter on a nested field.
    QuerySpec(
      "q112_nested_struct",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("nested").toString
        t(s, d, "documents")
          .select(col("doc_id"),
            struct(col("lang"), col("source"), col("n_chars")).as("meta"),
            col("text"))
          .write.mode("overwrite").parquet(s"$dir/docs_nested")
        s.read.parquet(s"$dir/docs_nested")
          .where(col("meta.n_chars") > 200)
          .select(col("doc_id"), col("meta.lang").as("lang"),
            col("meta.n_chars").as("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 200 ORDER BY doc_id"""),
      "§1.3 ext: nested struct round-trip + pruned nested reads"),

    // q118 — percent-of-group (ratio_to_report analog): each group's
    // share of its partition total via a window over the aggregate.
    QuerySpec(
      "q118_pct_of_total",
      (s, d) => {
        val w = Window.partitionBy("l_returnflag")
        t(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("qty"))
          .select(col("l_returnflag"), col("l_linestatus"), col("qty"),
            round(col("qty") / sum("qty").over(w), 6).as("pct"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""WITH a AS (SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS qty FROM lineitem GROUP BY 1, 2) SELECT l_returnflag, l_linestatus, qty, round(qty / sum(qty) OVER (PARTITION BY l_returnflag), 6) AS pct FROM a ORDER BY l_returnflag, l_linestatus"""),
      "§2.5 ext: percent-of-group via window over aggregate"),

    // q119 — session funnel: per (user, 30-min session), did a purchase
    // happen at or after the session's first click? Same gap semantics
    // as q24 (strict > on the oracle side — SemanticsSpec pins it).
    QuerySpec(
      "q119_session_funnel",
      (s, d) => {
        t(s, d, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(
            count(lit(1)).as("n_events"),
            min(when(col("event_type") === "click", col("ts"))).as("fc"),
            max(when(col("event_type") === "purchase", col("ts"))).as("lp"))
          .select(
            col("user_id"),
            unix_timestamp(col("session_window.start")).as("sess_start"),
            col("n_events"),
            coalesce((col("fc").isNotNull && col("lp") >= col("fc")).cast("int"),
              lit(0)).as("converted"))
          .orderBy("user_id", "sess_start")
      },
      Some("""WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events), ol AS (SELECT user_id, ts, event_id, event_type, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts FROM o), g AS (SELECT user_id, ts, event_id, event_type, CASE WHEN pts IS NULL OR ts > pts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns FROM ol), sx AS (SELECT user_id, ts, event_type, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g) SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start, count(*) AS n_events, coalesce(CAST(min(CASE WHEN event_type = 'click' THEN ts END) IS NOT NULL AND max(CASE WHEN event_type = 'purchase' THEN ts END) >= min(CASE WHEN event_type = 'click' THEN ts END) AS INT), 0) AS converted FROM sx GROUP BY user_id, sid ORDER BY user_id, sess_start"""),
      "§2.12 ext: session funnel (click→purchase conversion)"),

    // q120 — per-language top-3 terms by summed TF-IDF: the text-analytics
    // artifact built on q29/q30's base. Per-(doc,term) scores are rounded
    // BEFORE the language rollup so both engines sum identical 6dp values;
    // ranking is on the re-rounded sum with a term tiebreak.
    QuerySpec(
      "q120_top_terms",
      (s, d) => {
        val docs = t(s, d, "documents")
        val tf = ScaleQueries.termFreq(s, d)
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        val scored = tf.join(broadcast(dfreq), Seq("term"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"),
            round(col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 6).as("tfidf"))
        val byLang = scored
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .groupBy("lang", "term")
          .agg(round(sum("tfidf"), 6).as("score"))
        val w = Window.partitionBy("lang").orderBy(col("score").desc, col("term").asc)
        byLang
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 3)
          .orderBy("lang", "rn")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), nn AS (SELECT count(*) AS n FROM documents), scored AS (SELECT doc_id, tf.term AS term, round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nn), bylang AS (SELECT lang, term, round(sum(tfidf), 6) AS score FROM scored JOIN documents USING (doc_id) GROUP BY 1, 2) SELECT lang, term, score, rn FROM (SELECT lang, term, score, CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS BIGINT) AS rn FROM bylang) WHERE rn <= 3 ORDER BY lang, rn"""),
      "E4 ext: per-language top-3 terms by TF-IDF"),

    // q121 — bitmap exact-distinct (functions.BitmapDistinct, the
    // TypedImperativeAggregate style): per-flag distinct part/supplier
    // counts with BitSet partials merged by OR — no Expand pass, state
    // bounded by the key domain. Oracle: plain COUNT(DISTINCT).
    QuerySpec(
      "q121_bitmap_distinct",
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            bitmapDistinct(col("l_partkey")).as("n_parts"),
            bitmapDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("cnt"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps, count(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY 1"""),
      "§2.13 ext: bitmap distinct (TypedImperativeAggregate) == COUNT(DISTINCT)"),

    // q122 — width_bucket: fixed-width binning (the third binning style
    // after q32's CASE ladder and q114's equi-depth ntile). DuckDB lacks
    // the function, so the oracle replays its exact edge semantics:
    // below-range → 0, above-range → n+1, left-closed interior bins.
    QuerySpec(
      "q122_width_bucket",
      (s, d) => {
        t(s, d, "customer")
          .select(col("c_custkey"),
            width_bucket(col("c_acctbal"), lit(-1000.0), lit(10000.0), lit(11))
              .as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("bucket")
      },
      Some("""SELECT CAST(CASE WHEN c_acctbal < -1000.0 THEN 0 WHEN c_acctbal >= 10000.0 THEN 12 ELSE CAST(floor((c_acctbal - (-1000.0)) / ((10000.0 - (-1000.0)) / 11)) AS BIGINT) + 1 END AS BIGINT) AS bucket, count(*) AS cnt FROM customer GROUP BY 1 ORDER BY 1"""),
      "T9 ext: width_bucket fixed-width binning"))

  /** Typed row for q99's Dataset pipeline. */
  case class Ord(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)
}

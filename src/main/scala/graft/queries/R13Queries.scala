package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.Tables
import graft.ops.HashOps.{md5Long, md5LongSql}
import graft.ops.QuantileOps

/** Round-6 widening, third batch: the WEIGHTED exact-element quantile
  * operator (QuantileOps.weightedElementQuantiles — same two-level
  * bucket-offset scheme, cumulative weights instead of counts), a
  * Merkle-style replica diff (bucket digests first, row drill-down only
  * into mismatched buckets — the anti-entropy pattern that reconciles
  * two 100-TB copies without comparing rows), and a log2-banded
  * inter-event latency histogram whose band index comes from the binary
  * string length (integer-exact — never floor(ln/ln 2), which flips at
  * exact powers of two).
  */
object R13Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q244 — weighted median/p90 unit price per return flag, weighted by
    // quantity: the "median price a unit actually sold at" — price
    // percentiles weighted by volume, not by line count (a 1-unit line
    // and a 50-unit line are NOT the same evidence). First registered
    // user of the weighted QuantileOps variant; quantity weights are
    // integer-valued so cumulative weights are BIGINT-exact and the
    // cut selection inherits the element rule's determinism.
    QuerySpec(
      "q244_weighted_median",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_returnflag"),
          (col("l_extendedprice") / col("l_quantity")).as("unit"),
          col("l_quantity").cast("long").as("w"))
        QuantileOps.weightedElementQuantiles(
            li, "unit", "w", Seq("l_returnflag"), Seq(0.5, 0.9))
          .select(col("l_returnflag"), col("w_total"),
            floor(col("cut_1") * 10000.0).cast("long").as("p50_unit_bp"),
            floor(col("cut_2") * 10000.0).cast("long").as("p90_unit_bp"))
          .orderBy("l_returnflag")
      },
      Some {
        val qSql = QuantileOps.weightedOracleSql(
          "(SELECT l_returnflag, l_extendedprice / l_quantity AS unit, CAST(l_quantity AS BIGINT) AS w FROM lineitem) u",
          "unit", "w", Seq("l_returnflag"), Seq(0.5, 0.9))
        s"""SELECT l_returnflag, w_total, CAST(floor(cut_1 * 10000.0) AS BIGINT) AS p50_unit_bp, CAST(floor(cut_2 * 10000.0) AS BIGINT) AS p90_unit_bp FROM $qSql z ORDER BY l_returnflag"""
      },
      "§2.4 ext: volume-weighted exact-element price quantiles (weighted QuantileOps)"),

    // q245 — Merkle-style replica diff: replica A is documents as
    // shipped; replica B deterministically drops doc_id % 97 == 0 and
    // corrupts doc_id % 101 == 0. Both sides fold into per-bucket
    // (doc_id ÷ 64) digests — an ORDER-INDEPENDENT BIGINT sum of
    // truncated row hashes, so the digest aggregates map-side with no
    // sort — and only the mismatched buckets get the row-level
    // drill-down join. THE anti-entropy shape: at 100 TB the first pass
    // moves |buckets| rows and the second touches only damaged buckets;
    // the naive row-compare full-outer join never runs.
    QuerySpec(
      "q245_merkle_diff",
      (s, d) => {
        val rowMd5 = md5Long(concat(col("doc_id").cast("string"), lit(":"), col("h")), 10)
        val docs = t(s, d, "documents")
        val a = docs.select(col("doc_id"), md5(col("text")).as("h"),
          expr("doc_id div 64").as("bkt"))
        val b = docs.where(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 101 === 0, concat(col("text"), lit(" corrupted")))
              .otherwise(col("text"))).as("h"),
            expr("doc_id div 64").as("bkt"))
        val da = a.groupBy("bkt").agg(count(lit(1)).as("n_a"), sum(rowMd5).as("dig_a"))
        val db = b.groupBy("bkt").agg(count(lit(1)).as("n_b"), sum(rowMd5).as("dig_b"))
        val cmp = da.join(db, Seq("bkt"), "left")
          .select(col("bkt"),
            when(col("dig_b").isNotNull && col("dig_a") === col("dig_b"), 1L)
              .otherwise(0L).as("ok"))
        val bad = cmp.where(col("ok") === 0).select("bkt")
        val drill = a.join(broadcast(bad), "bkt")
          .join(b.withColumnRenamed("h", "hb").drop("bkt"), Seq("doc_id"), "left")
          // coalesce(…, 0): on a HEALTHY replica the drill join is empty
          // and both sums would return NULL — the report's schema must
          // say 0/0 for a clean replica, not switch to nulls.
          .agg(coalesce(sum(when(col("hb").isNull, 1L).otherwise(0L)), lit(0L)).as("n_missing"),
            coalesce(sum(when(col("hb").isNotNull && col("h") =!= col("hb"), 1L).otherwise(0L)),
              lit(0L)).as("n_corrupt"))
        cmp.agg(count(lit(1)).as("n_buckets"),
            sum(lit(1L) - col("ok")).as("n_diff_buckets"))
          .crossJoin(drill)
      },
      Some(s"""WITH a AS (SELECT doc_id, md5(text) AS h, doc_id // 64 AS bkt FROM documents), b AS (SELECT doc_id, md5(CASE WHEN doc_id % 101 = 0 THEN concat(text, ' corrupted') ELSE text END) AS h, doc_id // 64 AS bkt FROM documents WHERE doc_id % 97 <> 0), da AS (SELECT bkt, count(*) AS n_a, CAST(sum(${md5LongSql("concat(CAST(doc_id AS VARCHAR), ':', h)", 10)}) AS BIGINT) AS dig_a FROM a GROUP BY 1), db AS (SELECT bkt, count(*) AS n_b, CAST(sum(${md5LongSql("concat(CAST(doc_id AS VARCHAR), ':', h)", 10)}) AS BIGINT) AS dig_b FROM b GROUP BY 1), cmp AS (SELECT da.bkt, CASE WHEN db.bkt IS NOT NULL AND da.dig_a = db.dig_b THEN 1 ELSE 0 END AS ok FROM da LEFT JOIN db USING (bkt)), bad AS (SELECT bkt FROM cmp WHERE ok = 0), drill AS (SELECT CAST(coalesce(sum(CASE WHEN b2.doc_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_missing, CAST(coalesce(sum(CASE WHEN b2.doc_id IS NOT NULL AND a2.h <> b2.h THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_corrupt FROM a a2 JOIN bad ON a2.bkt = bad.bkt LEFT JOIN b b2 ON a2.doc_id = b2.doc_id) SELECT CAST((SELECT count(*) FROM cmp) AS BIGINT) AS n_buckets, CAST((SELECT sum(1 - ok) FROM cmp) AS BIGINT) AS n_diff_buckets, drill.n_missing, drill.n_corrupt FROM drill"""),
      "E1/§2.8 ext: Merkle-style replica diff — bucket digests, drill only into mismatches"),

    // q246 — log2-banded inter-event latency histogram: per event type,
    // the user-consecutive gap seconds bucketed by binary magnitude —
    // band = length(bin(gap)) (the bit count of the integer, so band b
    // covers [2^(b-1), 2^b)), gap 0 in band 0. Integer-exact banding:
    // floor(ln(gap)/ln(2)) would misplace exact powers of two on
    // whichever side the engine's log ulps fall. The fixed-cost
    // histogram view of q194's gap quantiles — a latency SLO dashboard
    // reads this, and the band count is ≤ 64 per type at any scale.
    QuerySpec(
      "q246_log2_latency",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gaps = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("gap",
            (unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(w))).cast("long"))
          .where(col("gap").isNotNull)
        gaps.withColumn("band",
            when(col("gap") === 0, 0L).otherwise(length(bin(col("gap"))).cast("long")))
          .groupBy("event_type", "band")
          .agg(count(lit(1)).as("n"), min("gap").as("min_gap"), max("gap").as("max_gap"))
          .orderBy("event_type", "band")
      },
      Some("""WITH g AS (SELECT event_type, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) - floor(epoch(lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))) AS BIGINT) AS gap FROM events), b AS (SELECT event_type, CASE WHEN gap = 0 THEN 0 ELSE length(bin(gap)) END AS band, gap FROM g WHERE gap IS NOT NULL) SELECT event_type, CAST(band AS BIGINT) AS band, count(*) AS n, min(gap) AS min_gap, max(gap) AS max_gap FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),
      "§2.5/§2.4 ext: log2-magnitude latency histogram — bit-length banding, no float log"),

    // q247 — point-in-time join against the SCD2 dimension: each order
    // (custkey < 100, the q217 audit slice) looks up the priority
    // VERSION that was valid 30 days before the order date — the
    // feature-store PIT lookup that guards against label leakage
    // (training features must come from the version live at
    // observation time, not the current one). The join is custkey-equi
    // with the interval predicate as a residual filter — per-customer
    // version chains are short, so the equi-join carries the work and
    // the interval test never becomes a range join. Probes earlier than
    // the customer's first version stay unmatched (left join → 'none'),
    // exactly the cold-start a feature store must surface rather than
    // silently backfill.
    QuerySpec(
      "q247_pit_join",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val odrs = t(s, d, "orders").where(col("o_custkey") < 100)
        val chg = odrs
          .withColumn("prev", lag("o_orderpriority", 1).over(w))
          .withColumn("is_chg",
            when(col("prev").isNull || col("prev") =!= col("o_orderpriority"), 1L)
              .otherwise(0L))
          .withColumn("ver", sum("is_chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val vers = chg.groupBy(col("o_custkey").as("v_custkey"), col("ver"))
          .agg(max("o_orderpriority").as("prio"),
            min(col("o_orderdate").cast("date")).as("from_d"))
        val w2 = Window.partitionBy("v_custkey").orderBy("ver")
        val iv = vers.withColumn("to_d", lead("from_d", 1).over(w2))
        val probes = odrs.select(col("o_custkey"), col("o_orderkey"),
          date_sub(col("o_orderdate").cast("date"), 30).as("pd"))
        probes.join(iv,
            probes("o_custkey") === iv("v_custkey") &&
              probes("pd") >= iv("from_d") &&
              (iv("to_d").isNull || probes("pd") < iv("to_d")), "left")
          .groupBy(coalesce(col("prio"), lit("none")).as("prio_30d_prior"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("prio_30d_prior")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority, lag(o_orderpriority, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev FROM orders WHERE o_custkey < 100), c AS (SELECT *, CASE WHEN prev IS NULL OR prev <> o_orderpriority THEN 1 ELSE 0 END AS is_chg FROM o), v AS (SELECT *, sum(is_chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver FROM c), g AS (SELECT o_custkey AS v_custkey, ver, max(o_orderpriority) AS prio, min(CAST(o_orderdate AS DATE)) AS from_d FROM v GROUP BY 1, 2), iv AS (SELECT *, lead(from_d, 1) OVER (PARTITION BY v_custkey ORDER BY ver) AS to_d FROM g), p AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) - INTERVAL 30 DAY AS pd FROM orders WHERE o_custkey < 100) SELECT coalesce(iv.prio, 'none') AS prio_30d_prior, count(*) AS n_orders FROM p LEFT JOIN iv ON p.o_custkey = iv.v_custkey AND p.pd >= iv.from_d AND (iv.to_d IS NULL OR p.pd < iv.to_d) GROUP BY 1 ORDER BY 1"""),
      "§2.3/§2.5 ext: point-in-time SCD2 lookup — leakage-safe feature-version join"),

    // q248 — per-brand SKYLINE (Pareto-optimal parts on price ↓ / size ↑):
    // a part is dominated iff some part is strictly cheaper with size at
    // least as large, or same-priced with strictly larger size. Rather
    // than the O(n²) dominance self-join, one brand-partitioned RANGE
    // window gives max(size) over all STRICTLY cheaper parts and a
    // (brand, price) partition handles the tie group — the standard
    // sort-based skyline sweep expressed declaratively. Money is floor
    // cents, sizes integer: zero float risk in the dominance test.
    QuerySpec(
      "q248_brand_skyline",
      (s, d) => {
        val pc = t(s, d, "part").select(col("p_brand"), col("p_partkey"),
          floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("price_c"),
          col("p_size").cast("long").as("sz"))
        val wStrict = Window.partitionBy("p_brand").orderBy("price_c")
          .rangeBetween(Window.unboundedPreceding, -1)
        val wSame = Window.partitionBy("p_brand", "price_c")
        pc.withColumn("m_strict", max("sz").over(wStrict))
          .withColumn("m_same", max("sz").over(wSame))
          .withColumn("is_sky",
            when((col("m_strict").isNull || col("m_strict") < col("sz")) &&
              col("m_same") === col("sz"), 1L).otherwise(0L))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_parts"), sum("is_sky").as("n_skyline"),
            min(when(col("is_sky") === 1, col("price_c"))).as("cheapest_sky_c"),
            max(when(col("is_sky") === 1, col("sz"))).as("biggest_sky"))
          .orderBy("p_brand")
      },
      Some("""WITH pc AS (SELECT p_brand, p_partkey, CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_c, CAST(p_size AS BIGINT) AS sz FROM part), w AS (SELECT p_brand, price_c, sz, max(sz) OVER (PARTITION BY p_brand ORDER BY price_c RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_strict, max(sz) OVER (PARTITION BY p_brand, price_c) AS m_same FROM pc), sk AS (SELECT p_brand, CASE WHEN (m_strict IS NULL OR m_strict < sz) AND m_same = sz THEN 1 ELSE 0 END AS is_sky, price_c, sz FROM w) SELECT p_brand, count(*) AS n_parts, CAST(sum(is_sky) AS BIGINT) AS n_skyline, min(CASE WHEN is_sky = 1 THEN price_c END) AS cheapest_sky_c, max(CASE WHEN is_sky = 1 THEN sz END) AS biggest_sky FROM sk GROUP BY 1 ORDER BY 1"""),
      "§2.5 ext: per-brand Pareto skyline via one RANGE-window sweep, no dominance self-join"),

    // q249 — integer-exact time-decay score: each event's cents are
    // halved per elapsed week (vc ÷ 2^(age÷7), a bit shift — NEVER
    // pow(2.0, -age/λ), whose libm ulps differ across engines), summed
    // per user; top-20 decayed spenders with their raw totals for
    // contrast. The staircase decay a leaderboard/recency ranker uses
    // when it must be replayable bit-for-bit; the anchor day (19753 =
    // the day after the fixed corpus window) is part of the contract.
    // One keyed aggregate + TakeOrdered(20).
    QuerySpec(
      "q249_decay_score",
      (s, d) => {
        val e = Tables.events(s, d).where(col("value").isNotNull)
          .select(col("user_id"),
            floor(col("value") * 100.0 + 0.5).cast("long").as("vc"),
            // greatest(0, …): an event on/after the anchor day would
            // otherwise produce a negative shift count, which Spark's
            // shiftleft masks mod 64 while DuckDB's 1 << k does not —
            // clamping on BOTH sides makes out-of-window timestamps
            // fail loudly into the k=0 band instead of silently
            // diverging between engines.
            expr("greatest(0, least(40, (19753 - unix_timestamp(ts) div 86400) div 7))").as("k"))
        e.groupBy("user_id")
          .agg(sum("vc").as("raw_cents"),
            sum(expr("vc div shiftleft(cast(1 as bigint), cast(k as int))"))
              .as("decayed_cents"))
          .orderBy(col("decayed_cents").desc, col("user_id"))
          .limit(20)
      },
      Some("""WITH e AS (SELECT user_id, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS vc, greatest(0, least(40, (19753 - CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400) // 7)) AS k FROM events WHERE value IS NOT NULL) SELECT user_id, CAST(sum(vc) AS BIGINT) AS raw_cents, CAST(sum(vc // (1 << k)) AS BIGINT) AS decayed_cents FROM e GROUP BY 1 ORDER BY decayed_cents DESC, user_id LIMIT 20"""),
      "§2.4 ext: staircase time-decay scoring — bit-shift halving, bit-for-bit replayable"),

    // q250 — the corpus-curation YIELD FUNNEL, the engine's capstone
    // report: raw → length/language gate → exact dedup (min-id per
    // text) → near-dup dedup (min-id survivor per cluster, via the
    // shared cluster map) → deterministic train split, with per-stage
    // in/out counts and floor-bp drop rates. This is the one-page
    // artifact a data team reads after every curation run — each stage
    // is an operator family the suite verifies individually
    // (q124-gates, q33, q90, q16), composed in survivor order: a
    // cluster's representative is the smallest id among the docs that
    // SURVIVED the earlier stages, so an upstream gate can never
    // silently resurrect a dropped doc. The stage table is 5 rows; its
    // lag window is the allowlisted bounded kind.
    QuerySpec(
      "q250_curation_funnel",
      (s, d) => {
        val s1 = t(s, d, "documents").select("doc_id", "text", "lang", "n_chars")
        val s2 = s1.where(col("n_chars") >= 150 && col("lang") =!= "zh")
        // partition on md5(text), never raw text: the window's shuffle
        // key would otherwise BE the document (kilobytes per row where
        // 16 bytes group identically) — the q33/q195/q245 convention
        val wT = Window.partitionBy(md5(col("text")))
        val s3 = s2.withColumn("mid", min("doc_id").over(wT))
          .where(col("doc_id") === col("mid")).drop("mid")
        val mem = ScaleQueries.neardupClusters(s, d)
          .select(col("id").as("doc_id"), col("cluster"))
        val sv = s3.select("doc_id").join(mem, Seq("doc_id"), "left")
        val rep = sv.where(col("cluster").isNotNull)
          .groupBy("cluster").agg(min("doc_id").as("keep"))
        val s4 = sv.join(rep, Seq("cluster"), "left")
          .where(col("cluster").isNull || col("doc_id") === col("keep"))
          .select("doc_id")
        val s5 = s4.where(col("doc_id") % 10 < 8)
        def stage(df: DataFrame, i: Long, name: String) =
          df.agg(count(lit(1)).as("n_out"))
            .select(lit(i).as("stage"), lit(name).as("name"), col("n_out"))
        val st = stage(s1, 1, "raw")
          .unionByName(stage(s2, 2, "length_lang_gate"))
          .unionByName(stage(s3, 3, "exact_dedup"))
          .unionByName(stage(s4, 4, "neardup_dedup"))
          .unionByName(stage(s5, 5, "train_split"))
        val w = Window.orderBy("stage")
        st.withColumn("n_in", coalesce(lag("n_out", 1).over(w), col("n_out")))
          .withColumn("drop_bp",
            expr("(n_in - n_out) * 10000 div greatest(n_in, 1)"))
          .select("stage", "name", "n_in", "n_out", "drop_bp")
          .orderBy("stage")
      },
      Some(s"""${ScaleQueries.shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), inter AS (SELECT c.a, c.b, count(*) AS c FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s GROUP BY 1, 2), jac AS (SELECT c.a, c.b FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b JOIN cnt ca ON ca.doc_id = c.a JOIN cnt cb ON cb.doc_id = c.b WHERE round(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.5), e AS (SELECT a AS src, b AS dst FROM jac UNION SELECT b, a FROM jac), reach AS (SELECT src AS id, src AS r FROM e UNION SELECT re.id, e.dst FROM reach re JOIN e ON e.src = re.r), mem AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY 1), s1 AS (SELECT doc_id, text, lang, n_chars FROM documents), s2 AS (SELECT * FROM s1 WHERE n_chars >= 150 AND lang <> 'zh'), s3 AS (SELECT * FROM s2 WHERE doc_id IN (SELECT min(doc_id) FROM s2 GROUP BY md5(text))), sv AS (SELECT s3.doc_id, mem.cluster FROM s3 LEFT JOIN mem USING (doc_id)), rep AS (SELECT cluster, min(doc_id) AS keep FROM sv WHERE cluster IS NOT NULL GROUP BY 1), s4 AS (SELECT sv.doc_id FROM sv LEFT JOIN rep USING (cluster) WHERE sv.cluster IS NULL OR sv.doc_id = rep.keep), s5 AS (SELECT doc_id FROM s4 WHERE doc_id % 10 < 8), st AS (SELECT 1 AS stage, 'raw' AS name, (SELECT count(*) FROM s1) AS n_out UNION ALL SELECT 2, 'length_lang_gate', (SELECT count(*) FROM s2) UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM s3) UNION ALL SELECT 4, 'neardup_dedup', (SELECT count(*) FROM s4) UNION ALL SELECT 5, 'train_split', (SELECT count(*) FROM s5)) SELECT CAST(stage AS BIGINT) AS stage, name, CAST(lag(n_out, 1, n_out) OVER (ORDER BY stage) AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out, CAST((lag(n_out, 1, n_out) OVER (ORDER BY stage) - n_out) * 10000 // greatest(lag(n_out, 1, n_out) OVER (ORDER BY stage), 1) AS BIGINT) AS drop_bp FROM st ORDER BY stage"""),
      "E1-E4 capstone: the curation yield funnel — gates, both dedups, split, per-stage drop rates"))
}

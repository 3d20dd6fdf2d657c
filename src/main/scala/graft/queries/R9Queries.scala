package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.functions.cosineSim
import graft.ops.HashOps.md5LongSql

/** Round-5 widening, second batch: Bloom-filter membership (completing
  * the KMV/CMS/Bloom mergeable-sketch trio), an SCD type-2 dimension
  * build, a salted skew-safe join proven equivalent to the plain join,
  * a k-anonymity/l-diversity privacy audit, and reciprocal-rank-fusion
  * hybrid retrieval (the BM25 leg + the vector leg, fused). All fully
  * DuckDB-oracled.
  */
object R9Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q216 — Bloom-filter membership probe (the third mergeable sketch:
    // q211 KMV answers "how many distinct", q212 CMS answers "how often",
    // THIS answers "is it in the set"): the eval set's shingles (doc_id
    // < 10 — the q128/q179 decontamination set) are folded into an
    // m=4096-bit, j=3-hash Bloom filter represented as a TABLE of set
    // bit positions (≤ m rows REGARDLESS of eval size — the portable
    // stand-in for the bitmap a native engine packs; merge of two
    // filters = UNION of bit tables). Training shingles probe it: member
    // iff all 3 bit rows are present. The audit compares Bloom hits vs
    // exact membership per training doc — the measured false-positive
    // count the one-sided Bloom guarantee bounds (no false negatives:
    // n_bloom ≥ n_exact always). Scale: the filter broadcasts (≤4096
    // rows); only DISTINCT training shingles are probed (3 integer rows
    // each); the exact leg exists only to audit and would be absent in
    // production — membership without materializing the eval set is the
    // entire point at 100 TB.
    QuerySpec(
      "q216_bloom_contam",
      (s, d) => {
        val sh = ScaleQueries.shingleRows(s, d)
        def js = explode(array((0 to 2).map(j => lit(j.toLong)): _*)).as("j")
        def bit = R8Queries.saltedBucket(col("j"), col("s"), 4096L)
        val evalS = sh.where(col("doc_id") < 10).select("s").distinct()
        val bloom = evalS.select(col("s"), js).select(bit.as("bit")).distinct()
        val trainRows = sh.where(col("doc_id") >= 10)
        val member = trainRows.select("s").distinct()
          .select(col("s"), js).withColumn("bit", bit)
          .join(broadcast(bloom), Seq("bit"))
          .groupBy("s").agg(count(lit(1)).as("nb"))
          .where(col("nb") === 3).select(col("s")).withColumn("bloom_hit", lit(1L))
        val exact = evalS.withColumn("exact_hit", lit(1L))
        trainRows
          .join(broadcast(member), Seq("s"), "left")
          .join(broadcast(exact), Seq("s"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            coalesce(sum("bloom_hit"), lit(0L)).as("n_bloom"),
            coalesce(sum("exact_hit"), lit(0L)).as("n_exact"))
          .withColumn("n_fp", col("n_bloom") - col("n_exact"))
          .orderBy("doc_id")
      },
      Some(s"""${ScaleQueries.shingleCte}, ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10), js AS (SELECT unnest([0, 1, 2]) AS j), bloom AS (SELECT DISTINCT ${md5LongSql("concat(CAST(j AS VARCHAR), s)", 15)} % 4096 AS bit FROM ev CROSS JOIN js), tr AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10), pr AS (SELECT s, count(*) AS nb FROM (SELECT z.s, ${md5LongSql("concat(CAST(j AS VARCHAR), z.s)", 15)} % 4096 AS bit FROM (SELECT DISTINCT s FROM tr) z CROSS JOIN js) p JOIN bloom USING (bit) GROUP BY s), mem AS (SELECT s FROM pr WHERE nb = 3) SELECT tr.doc_id, count(*) AS n_sh, CAST(sum(CASE WHEN mem.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom, CAST(sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact, CAST(sum(CASE WHEN mem.s IS NOT NULL THEN 1 ELSE 0 END) - sum(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fp FROM tr LEFT JOIN mem ON tr.s = mem.s LEFT JOIN ev ON tr.s = ev.s GROUP BY tr.doc_id ORDER BY tr.doc_id"""),
      "§2.4 ext: Bloom-filter membership as a bit table + false-positive audit"),

    // q217 — SCD type-2 dimension build (change capture): each customer's
    // order stream carries o_orderpriority as the tracked attribute;
    // consecutive equal values collapse into one VERSION (lag-compare →
    // running change count), and each version gets its validity interval
    // [valid_from, valid_to) from the next version's start (lead), open
    // versions marked current with the 9999-12-31 sentinel. This is the
    // standard warehouse dimension-history shape (detect → collapse →
    // interval) built from three keyed windows over the SAME
    // (custkey | orderdate, orderkey) order — one exchange total, every
    // window customer-partitioned. Audited on custkey < 100 to bound the
    // detail output; the operator itself has no such limit.
    QuerySpec(
      "q217_scd2_build",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val chg = t(s, d, "orders").where(col("o_custkey") < 100)
          .withColumn("prev", lag("o_orderpriority", 1).over(w))
          .withColumn("is_chg",
            when(col("prev").isNull || col("prev") =!= col("o_orderpriority"), 1L)
              .otherwise(0L))
          .withColumn("ver", sum("is_chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val vers = chg.groupBy(col("o_custkey"), col("ver"))
          .agg(max("o_orderpriority").as("prio"),
            min("o_orderdate").as("from_d"),
            count(lit(1)).as("n_orders"))
        val w2 = Window.partitionBy("o_custkey").orderBy("ver")
        vers.withColumn("to_d", lead("from_d", 1).over(w2))
          .select(col("o_custkey"), col("ver"), col("prio"),
            date_format(col("from_d"), "yyyy-MM-dd").as("valid_from"),
            coalesce(date_format(col("to_d"), "yyyy-MM-dd"), lit("9999-12-31"))
              .as("valid_to"),
            col("to_d").isNull.cast("long").as("is_current"),
            col("n_orders"))
          .orderBy("o_custkey", "ver")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority, lag(o_orderpriority, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev FROM orders WHERE o_custkey < 100), c AS (SELECT *, CASE WHEN prev IS NULL OR prev <> o_orderpriority THEN 1 ELSE 0 END AS is_chg FROM o), v AS (SELECT *, sum(is_chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver FROM c), g AS (SELECT o_custkey, ver, max(o_orderpriority) AS prio, min(o_orderdate) AS from_d, count(*) AS n_orders FROM v GROUP BY 1, 2), iv AS (SELECT *, lead(from_d, 1) OVER (PARTITION BY o_custkey ORDER BY ver) AS to_d FROM g) SELECT o_custkey, CAST(ver AS BIGINT) AS ver, prio, strftime(from_d, '%Y-%m-%d') AS valid_from, coalesce(strftime(to_d, '%Y-%m-%d'), '9999-12-31') AS valid_to, CAST(to_d IS NULL AS BIGINT) AS is_current, n_orders FROM iv ORDER BY o_custkey, ver"""),
      "§2.5/§2.1 ext: SCD type-2 dimension build — collapse runs, emit validity intervals"),

    // q218 — salted skew-safe join, PROVEN equivalent to the plain join
    // by the oracle (which runs the unsalted SQL): the probe side tags
    // each lineitem with salt = l_orderkey % 8, the build side replicates
    // each supplier 8× (one row per salt), and the join key becomes
    // (suppkey, salt) — a hot supplier's rows now land on 8 reducers
    // instead of 1. shuffle_hash hint keeps the demo honest (without it
    // the small replicated side would auto-broadcast and no salted
    // shuffle would exist to observe). Every lineitem matches EXACTLY
    // one replica, so aggregates are identical to the plain join — which
    // is precisely what the oracle asserts. At 100 TB this is the
    // fallback when AQE skew-split can't help (e.g. the skew is in a
    // grouping that feeds a downstream co-partitioned op); the 8×
    // build-side inflation is the explicit price, chosen per measured
    // skew (q148's diagnosis feeds the salt width).
    QuerySpec(
      "q218_salted_join",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"),
          pmod(col("l_orderkey"), lit(8L)).as("salt"))
        val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
          .withColumn("salt", explode(array((0 to 7).map(i => lit(i.toLong)): _*)))
        li.join(sup.hint("shuffle_hash"),
            li("l_suppkey") === sup("s_suppkey") && li("salt") === sup("salt"))
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_items"), round(sum("rev"), 2).as("revenue"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n_items, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1 ORDER BY 1"""),
      "§2.3 ext: salted skew-safe join — oracle replays the UNSALTED join (equivalence proof)"),

    // q219 — k-anonymity / l-diversity privacy audit (the release-gate
    // companion to q129's PII detection and q185's GDPR purge): customers
    // are bucketed by quasi-identifiers (nation, acctbal thousand-band);
    // a QI group violates k-anonymity when fewer than k=5 individuals
    // share it (re-identifiable) and violates l-diversity when the
    // sensitive attribute (mktsegment) has fewer than l=2 distinct
    // values in the group (attribute disclosure even at k). One
    // QI-keyed aggregation; the report is |QI-space| rows. At 100 TB
    // the QI cardinality, not the row count, bounds the output —
    // exactly why audits run on QI groups, never individuals.
    QuerySpec(
      "q219_k_anonymity",
      (s, d) => {
        t(s, d, "customer")
          .select(col("c_nationkey"),
            floor(col("c_acctbal") / 1000.0).cast("long").as("band"),
            col("c_mktsegment"))
          .groupBy("c_nationkey", "band")
          .agg(count(lit(1)).as("n"),
            countDistinct("c_mktsegment").as("l_div"))
          .withColumn("k_viol", (col("n") < 5).cast("long"))
          .withColumn("l_viol", (col("l_div") < 2).cast("long"))
          .orderBy("c_nationkey", "band")
      },
      Some("""SELECT c_nationkey, CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band, count(*) AS n, CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_div, CAST(count(*) < 5 AS BIGINT) AS k_viol, CAST(count(DISTINCT c_mktsegment) < 2 AS BIGINT) AS l_viol FROM customer GROUP BY 1, 2 ORDER BY 1, 2"""),
      "E4/§2.4 ext: k-anonymity + l-diversity audit over quasi-identifier groups"),

    // q220 — hybrid retrieval via reciprocal-rank fusion (RRF, the
    // standard BM25 ⊕ vector fusion): the lexical leg ranks docs by the
    // q178 BM25 score over the query terms; the semantic leg ranks them
    // by rounded cosine against query vector 0 (doc_id ≡ vec_id in the
    // corpus); each leg keeps its top 50, and the fused score is
    // Σ 1/(60 + rank) over the legs a doc appears in (k=60, the
    // published constant). Both rank windows run over ≤50-row
    // TakeOrdered results (allowlisted bound — the legs' heavy lifting
    // is top-k, not a global sort); fusion is a 50×50 full-outer join.
    // Determinism: legs rank on ROUNDED scores tie-broken by doc_id;
    // 1/(60+r) is exact IEEE division and the fused add is fixed
    // two-term order, so round(rrf, 6) is bit-stable cross-engine.
    QuerySpec(
      "q220_rrf_hybrid",
      (s, d) => {
        val lex = R6Queries.bm25TermCols(s, d)
          .select(col("doc_id"),
            round(coalesce(col("w1"), lit(0.0)) + coalesce(col("w2"), lit(0.0)) +
              coalesce(col("w3"), lit(0.0)), 4).as("lex_score"))
          .orderBy(col("lex_score").desc, col("doc_id")).limit(50)
          .withColumn("r_lex", row_number().over(
            Window.orderBy(col("lex_score").desc, col("doc_id"))).cast("long"))
        val e = t(s, d, "embeddings")
        val qv = e.where(col("vec_id") === 0).select(col("embedding").as("qe"))
        val sem = e.where(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("sem_score"))
          .orderBy(col("sem_score").desc, col("doc_id")).limit(50)
          .withColumn("r_sem", row_number().over(
            Window.orderBy(col("sem_score").desc, col("doc_id"))).cast("long"))
        lex.select("doc_id", "r_lex")
          .join(sem.select("doc_id", "r_sem"), Seq("doc_id"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (lit(60L) + col("r_lex")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60L) + col("r_sem")), lit(0.0)), 6))
          .select(col("doc_id"),
            coalesce(col("r_lex"), lit(-1L)).as("r_lex"),
            coalesce(col("r_sem"), lit(-1L)).as("r_sem"), col("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(15)
      },
      Some(s"""WITH ${R6Queries.bm25Cte}, lex0 AS (SELECT doc_id, round(coalesce(w1, 0) + coalesce(w2, 0) + coalesce(w3, 0), 4) AS lex_score FROM sc ORDER BY lex_score DESC, doc_id LIMIT 50), lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY lex_score DESC, doc_id) AS BIGINT) AS r_lex FROM lex0), e AS (SELECT vec_id, embedding, sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm FROM embeddings), qv AS (SELECT embedding AS qe, nrm AS qn FROM e WHERE vec_id = 0), cs AS (SELECT c.vec_id AS doc_id, round(list_sum([CAST(qv.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(qv.qe))]) / (qv.qn * c.nrm), 6) AS sem_score FROM e c CROSS JOIN qv WHERE c.vec_id <> 0), sem0 AS (SELECT doc_id, sem_score FROM cs ORDER BY sem_score DESC, doc_id LIMIT 50), sem AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY sem_score DESC, doc_id) AS BIGINT) AS r_sem FROM sem0), fu AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem, round(coalesce(1.0 / (60 + r_lex), 0) + coalesce(1.0 / (60 + r_sem), 0), 6) AS rrf FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id) SELECT doc_id, coalesce(r_lex, -1) AS r_lex, coalesce(r_sem, -1) AS r_sem, rrf FROM fu ORDER BY rrf DESC, doc_id LIMIT 15"""),
      "E3/E4 ext: reciprocal-rank-fusion hybrid retrieval (BM25 leg ⊕ vector leg)"))
}

package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql}

/** Round-6 widening, seventh batch: the remaining sampling/sketch/
  * graph-statistics corners — TTL (burst) deduplication of an event
  * stream, Efraimidis–Spirakis weighted top-k sampling WITHOUT
  * replacement (the fixed-size complement of q153's Bernoulli rate
  * sampler), a θ/KMV set-INTERSECTION estimator with its exact-error
  * audit (q211's KMV family covered union; intersection is the other
  * half of audience-overlap analytics), and the degree assortativity
  * coefficient of the customer–part purchase graph (do heavy buyers
  * buy popular parts?).
  *
  * Determinism: uniforms come from the house md5→BIGINT bucket (exact
  * integers both engines); the single ln() per distinct uniform is
  * floor-quantized to nano units BEFORE the one IEEE division that
  * forms the A-ES key (exact-int inputs ⇒ identical doubles both
  * engines); sketch thresholds and counts are pure integers; the
  * assortativity correlation is BIGINT moment sums with one final
  * rounded division.
  */
object R20Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q285 — TTL (BURST) DEDUPLICATION: collapse repeats of the same
    // logical signal — (user, event_type) — that arrive within a 1-day
    // re-fire window into their first occurrence, but let the signal
    // legitimately RECUR once it has been quiet for a full TTL (the
    // re-crawl / re-alert policy; q33's exact dedup is the TTL→∞
    // special case, the streaming dedupDropDuplicates twin is the
    // within-watermark case). Burst boundaries are gaps > TTL on the
    // keyed, time-ordered stream — one shuffle on the dedup key, keyed
    // lag window, no global structure. Report per event type: events,
    // surviving burst-leads, drop rate.
    QuerySpec(
      "q285_ttl_dedup",
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy("es", "event_id")
        t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("event_id"),
            expr("unix_timestamp(ts)").as("es"))
          .withColumn("lead",
            when(col("es") - lag("es", 1).over(w) > 86400L ||
              lag("es", 1).over(w).isNull, 1L).otherwise(0L))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum("lead").as("n_kept"))
          .withColumn("n_dropped", col("n_events") - col("n_kept"))
          .withColumn("drop_bp", expr("n_dropped * 10000 div n_events"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT user_id, event_type, event_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es FROM events), l AS (SELECT event_type, CASE WHEN es - lag(es) OVER (PARTITION BY user_id, event_type ORDER BY es, event_id) > 86400 OR lag(es) OVER (PARTITION BY user_id, event_type ORDER BY es, event_id) IS NULL THEN 1 ELSE 0 END AS lead FROM ev) SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, CAST(sum(lead) AS BIGINT) AS n_kept, CAST(count(*) - sum(lead) AS BIGINT) AS n_dropped, CAST((count(*) - sum(lead)) * 10000 // count(*) AS BIGINT) AS drop_bp FROM l GROUP BY 1 ORDER BY 1"""),
      "E1/§2.12 ext: TTL burst dedup — keyed gap windows, recurrence allowed after quiet period"),

    // q286 — EFRAIMIDIS–SPIRAKIS WEIGHTED SAMPLING WITHOUT REPLACEMENT:
    // a fixed-size (k=5 per source) sample where inclusion probability
    // is proportional to document length — the size-biased pick that
    // over-weights long documents for human QA review. A-ES key:
    // u^(1/w) with u uniform per doc; ranking by that key equals
    // ranking by ln(u)/w, so the engine computes ln(u) ONCE per doc
    // (floor-quantized to nano units — an integer), then ONE IEEE
    // division by the weight forms the sort key: exact-integer inputs
    // make the double identical in both engines, and (key desc,
    // doc_id) is a total order. Per-group top-k is a keyed window —
    // the corpus shuffles once on source, never globally.
    QuerySpec(
      "q286_weighted_topk_sample",
      (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            (md5Long(col("doc_id").cast("string"), 15) % 1073741824L).as("b"))
          // u = (b+1)/2^30 ∈ (0,1]; lnu_nano = floor(ln(u)·1e9) exact int
          .withColumn("lnu_nano",
            floor(log((col("b") + 1L).cast("double") / 1073741824.0) * 1e9)
              .cast("long"))
          .withColumn("key_d",
            col("lnu_nano").cast("double") / col("n_chars").cast("double"))
        val w = Window.partitionBy("source").orderBy(col("key_d").desc, col("doc_id"))
        docs.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 5)
          .select("source", "rank", "doc_id", "n_chars")
          .orderBy("source", "rank")
      },
      Some(s"""WITH docs AS (SELECT doc_id, source, n_chars, ${md5LongSql("CAST(doc_id AS VARCHAR)", 15)} % 1073741824 AS b FROM documents), k AS (SELECT doc_id, source, n_chars, CAST(floor(ln(CAST(b + 1 AS DOUBLE) / 1073741824.0) * 1e9) AS BIGINT) AS lnu_nano FROM docs), r AS (SELECT source, doc_id, n_chars, CAST(row_number() OVER (PARTITION BY source ORDER BY CAST(lnu_nano AS DOUBLE) / CAST(n_chars AS DOUBLE) DESC, doc_id) AS BIGINT) AS rank FROM k) SELECT source, rank, doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM r WHERE rank <= 5 ORDER BY source, rank"""),
      "R1/E4 ext: A-ES weighted top-k sampling without replacement — one ln per doc, keyed top-k"),

    // q287 — KMV/θ-SKETCH SET INTERSECTION with exact-error audit:
    // estimate |viewers ∩ purchasers| from two 64-hash KMV sketches —
    // the audience-overlap number that at 100 TB is computed from two
    // 64-row summaries instead of two billion-row id sets (q211 built
    // the UNION estimator; intersection is the θ-sketch move: clip
    // both sketches to the union's k-th smallest hash θ, count common
    // survivors c, estimate c/θ_frac). Sketch construction is top-k by
    // hash (TakeOrdered — no global sort); everything after runs on
    // ≤128 rows. The exact overlap (one distinct-join, the thing the
    // sketch replaces) rides along to report the estimator's error in
    // basis points — the audit a sketch table owes its consumers.
    QuerySpec(
      "q287_kmv_intersect",
      (s, d) => {
        val ev = t(s, d, "events")
        def ids(tp: String) = ev.where(col("event_type") === tp)
          .select(col("user_id")).distinct()
          .select(col("user_id"), md5Long(col("user_id").cast("string"), 15).as("h"))
        def kmv(df: DataFrame) = df.orderBy("h").limit(64)
        val va = kmv(ids("view")).select(col("h").as("ha"))
        val vb = kmv(ids("purchase")).select(col("h").as("hb"))
        // θ = k-th smallest of the union of the two sketches (64-row sides)
        val theta = va.select(col("ha").as("h"))
          .unionByName(vb.select(col("hb").as("h"))).distinct()
          .orderBy("h").limit(64)
          .agg(max("h").as("theta"))
        val c = va.join(vb, col("ha") === col("hb"))
          .crossJoin(broadcast(theta))
          .where(col("ha") <= col("theta"))
          .agg(count(lit(1)).as("c"))
        val exact = ids("view").select(col("user_id").as("ua"))
          .join(ids("purchase").select(col("user_id").as("ub")),
            col("ua") === col("ub"))
          .agg(count(lit(1)).as("n_exact"))
        // est = c / θ_frac = c · 2^60 / θ (hash domain is 60 bits).
        // Computed in DOUBLE: c·2^60 overflows BIGINT, and the double
        // route is still engine-identical — c and θ are exact integers,
        // their nearest-double conversions, the division, the multiply
        // and the floor are all single deterministic IEEE ops.
        c.crossJoin(broadcast(theta)).crossJoin(broadcast(exact))
          .withColumn("est",
            floor(col("c").cast("double") * 1152921504606846976.0 /
              greatest(col("theta"), lit(1L)).cast("double")).cast("long"))
          .withColumn("err_bp",
            expr("abs(est - n_exact) * 10000 div greatest(n_exact, 1)"))
          .select("c", "n_exact", "est", "err_bp")
      },
      Some(s"""WITH va AS (SELECT ${md5LongSql("CAST(user_id AS VARCHAR)", 15)} AS h FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') ORDER BY 1 LIMIT 64), vb AS (SELECT ${md5LongSql("CAST(user_id AS VARCHAR)", 15)} AS h FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') ORDER BY 1 LIMIT 64), th AS (SELECT max(h) AS theta FROM (SELECT DISTINCT h FROM (SELECT h FROM va UNION ALL SELECT h FROM vb) ORDER BY h LIMIT 64)), c AS (SELECT count(*) AS c FROM va JOIN vb USING (h), th WHERE h <= theta), ex AS (SELECT count(*) AS n_exact FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') a JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') b USING (user_id)), est AS (SELECT CAST(floor(CAST(c AS DOUBLE) * 1152921504606846976.0 / CAST(greatest(theta, 1) AS DOUBLE)) AS BIGINT) AS est, c FROM c, th) SELECT CAST(c AS BIGINT) AS c, CAST(n_exact AS BIGINT) AS n_exact, est, CAST(abs(est - n_exact) * 10000 // greatest(n_exact, 1) AS BIGINT) AS err_bp FROM est, ex"""),
      "§2.4-note ext: θ-sketch KMV intersection estimate + exact-error audit — 64-row sketch arithmetic"),

    // q288 — DEGREE ASSORTATIVITY of the customer–part purchase graph:
    // the Pearson correlation between endpoint degrees across edges —
    // positive means heavy buyers concentrate on popular parts
    // (hub-hub wiring, the skew-amplifying topology that makes
    // downstream joins explode); negative means hubs spread to the
    // tail. Degrees come from two keyed aggregations over the distinct
    // edge set; the correlation is BIGINT moment sums over edges (each
    // ≤ deg²·|edges| — the q255-style degree cap at 10 000 documents
    // the overflow bound: ≤ 1e8·|edges|, BIGINT-safe past 1e10 edges)
    // with ONE rounded division at the end. Exactly the q270 Pearson
    // scheme, applied to graph structure instead of a time series.
    QuerySpec(
      "q288_assortativity",
      (s, d) => {
        val edges = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
        val dc = edges.groupBy("c").agg(count(lit(1)).as("dc"))
          .where(col("dc") <= 10000L)
        val dp = edges.groupBy("p").agg(count(lit(1)).as("dp"))
          .where(col("dp") <= 10000L)
        edges.join(dc, Seq("c")).join(dp, Seq("p"))
          .agg(count(lit(1)).as("n_edges"),
            sum("dc").as("sx"), sum("dp").as("sy"),
            sum(col("dc") * col("dp")).as("sxy"),
            sum(col("dc") * col("dc")).as("sxx"),
            sum(col("dp") * col("dp")).as("syy"))
          .withColumn("assortativity", round(
            (col("n_edges") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n_edges") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                sqrt((col("n_edges") * col("syy") - col("sy") * col("sy")).cast("double"))), 4))
          .select("n_edges", "assortativity")
      },
      Some("""WITH edges AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p FROM lineitem JOIN orders ON l_orderkey = o_orderkey), dc AS (SELECT c, count(*) AS dc FROM edges GROUP BY 1 HAVING count(*) <= 10000), dp AS (SELECT p, count(*) AS dp FROM edges GROUP BY 1 HAVING count(*) <= 10000), j AS (SELECT dc, dp FROM edges JOIN dc USING (c) JOIN dp USING (p)) SELECT CAST(count(*) AS BIGINT) AS n_edges, round(CAST(count(*) * sum(dc * dp) - sum(dc) * sum(dp) AS DOUBLE) / (sqrt(CAST(count(*) * sum(dc * dc) - sum(dc) * sum(dc) AS DOUBLE)) * sqrt(CAST(count(*) * sum(dp * dp) - sum(dp) * sum(dp) AS DOUBLE))), 4) AS assortativity FROM j"""),
      "graph/A6 ext: degree assortativity — keyed degree joins, BIGINT moments, one final division"))
}

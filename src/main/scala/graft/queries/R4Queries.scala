package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Bases, QuerySpec}
import graft.Tables
import graft.ops.DedupOps
import graft.functions.cosineSim

/** Round-3 widening, part 2 — corpus-curation and observability closers:
  * vocabulary heavy hitters (q141), per-source document caps (q142), the
  * prefix-filtered EXACT similarity self-join (q143 — the complete
  * counterpart to q34's probabilistic MinHash candidates), int8 embedding
  * quantization with reconstruction-error audit (q144), distributed
  * triangle counting (q145), per-type event anomaly gating (q146), kNN
  * majority-vote label prediction (q147), key-skew diagnostics that decide
  * when to salt (q148), and per-dimension embedding feature stats (q149).
  */
object R4Queries {

  /** kNN-sparsified co-supply edge list, memoized and cached per
    * (session, corpus). The RAW co-supply graph (suppliers sharing any
    * part) is near-complete on this data — n=1000 nodes, all 499,500
    * edges at sf0.1 — so enumerating its triangles is inherently
    * O(C(n,3)); no algorithm fixes a dense graph definition. The
    * standard cure is similarity-graph sparsification: keep each node's
    * top-5 partners by shared-part count (ties broken by partner id),
    * symmetrize (an edge survives if EITHER endpoint selected it), and
    * count triangles on the ≤ 5n-edge result. Cached because q145
    * references it four times (three wedge-join legs + the edge count).
    * At 100 TB the weighted-pair build is the one heavy step (per-part
    * pair explosion, one shuffle), so hub parts ARE capped first: each
    * part keeps its [[HubCap]] lowest supplier ids (deterministic)
    * before the pair self-join, bounding any single key's fan-out at
    * C(HubCap, 2) pairs instead of C(suppliers-per-part, 2) — one hot
    * part with 10⁴ suppliers emits ≤ 32,640 pairs, not 5·10⁷. The cap
    * is mirrored verbatim in the q145 oracle SQL, and PropertySpec
    * proves it is a no-op whenever per-part fan-out ≤ HubCap (true on
    * this corpus). The kNN window parallelizes per node.
    */
  private[graft] val HubCap = 256

  /** Per-part supplier list with the hub cap applied: at most [[cap]]
    * suppliers per part, the lowest ids kept (deterministic order, so
    * the capped graph is replayable). Exposed for PropertySpec.
    */
  private[graft] def cappedPartSuppliers(ps: DataFrame, cap: Int): DataFrame =
    ps.withColumn("hr", row_number().over(Window.partitionBy("p").orderBy("s")))
      .where(col("hr") <= cap)
      .drop("hr")

  private def coSupplyKnnEdges(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "coSupplyKnnEdges") {
      val ps = cappedPartSuppliers(
        t(s, d, "lineitem")
          .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct(),
        HubCap)
      val w = ps.as("x").join(ps.as("y"),
          col("x.p") === col("y.p") && col("x.s") < col("y.s"))
        .groupBy(col("x.s").as("u"), col("y.s").as("v"))
        .agg(count(lit(1)).as("shared"))
      val dirw = w.select(col("u").as("src"), col("v").as("dst"), col("shared"))
        .union(w.select(col("v").as("src"), col("u").as("dst"), col("shared")))
      val wk = Window.partitionBy("src").orderBy(col("shared").desc, col("dst").asc)
      dirw.withColumn("rn", row_number().over(wk)).where(col("rn") <= 5)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
    }

  /** Prefix-filter candidate pairs at t=0.5, memoized and cached per
    * (session, corpus) — the same once-per-corpus index-build stance as
    * minhashCand (q34/q36), the IVF quantizer (q60) and the co-supply
    * edges (q145): candidate generation is the amortized artifact, the
    * exact verification join stays live per query.
    */
  private[queries] def prefixCand(s: SparkSession, d: String): DataFrame =
    Bases.memo(s, d, "prefixCand")(
      // candidates generated at t slightly BELOW the 0.5 verification
      // threshold: the final filter (and the oracle) keep pairs by
      // ROUNDED jaccard >= 0.5, which admits true J down to 0.4999995 —
      // prefix completeness must cover that band, not just J >= 0.5
      DedupOps.prefixFilterCandidates(ScaleQueries.shingleRows(s, d), 0.499))

  val specs: Seq[QuerySpec] = Seq(

    // q141 — corpus heavy hitters: terms present in >= 50% of documents.
    // array_distinct BEFORE explode dedups map-side, so the shuffle
    // carries one row per (doc, distinct term); the corpus count joins as
    // a broadcast single row. At 100 TB this is the standard two-phase
    // (partial/final) count — no driver collection, no sort until the
    // tiny survivor set.
    QuerySpec(
      "q141_heavy_hitters",
      (s, d) => {
        val docs = t(s, d, "documents")
        val toks = docs.select(col("doc_id"),
          explode(array_distinct(graft.ops.TextOps.tokens(col("text")))).as("term"))
        val n = docs.agg(count(lit(1)).as("n"))
        toks.groupBy("term").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(n))
          .where(col("df") >= col("n") * 0.5)
          .select(col("term"), col("df"),
            round(col("df") / col("n"), 6).as("doc_frac"))
          .orderBy("term")
      },
      Some("""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents), nn AS (SELECT count(*) AS n FROM documents), dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY 1) SELECT term, df, round(df * 1.0 / n, 6) AS doc_frac FROM dfreq CROSS JOIN nn WHERE df >= n * 0.5 ORDER BY term"""),
      "E4 ext: vocabulary heavy hitters (document frequency >= 50%)"),

    // q142 — per-source document cap: keep at most 20 docs per source
    // (deterministic doc_id order), the domain-cap curation rule that
    // stops one crawl domain from dominating a pretraining mix. The
    // window partitions by source, so each key sorts independently —
    // no global sort; a skewed mega-source would use q130's native
    // two-heap top-k node instead.
    QuerySpec(
      "q142_source_cap",
      (s, d) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
        t(s, d, "documents")
          .withColumn("rn", row_number().over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("total"),
            sum(when(col("rn") <= 20, 1L).otherwise(0L)).as("kept"),
            sum(when(col("rn") <= 20, col("n_chars"))).as("kept_chars"))
          .orderBy("source")
      },
      Some("""WITH r AS (SELECT source, n_chars, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM documents) SELECT source, count(*) AS total, CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS kept, CAST(sum(CASE WHEN rn <= 20 THEN n_chars END) AS BIGINT) AS kept_chars FROM r GROUP BY 1 ORDER BY 1"""),
      "E1/E4 ext: per-source document cap (domain-cap curation rule)"),

    // q143 — EXACT Jaccard similarity self-join at t=0.5 via prefix
    // filtering (DedupOps.prefixFilterCandidates): candidates must share
    // a shingle in their rarity-ordered prefixes — a COMPLETE candidate
    // set, unlike q34's MinHash banding — then exact verification on the
    // cached shingle arrays. The oracle is the naive all-pairs join,
    // which this plan must equal exactly.
    QuerySpec(
      "q143_prefix_simjoin",
      (s, d) => {
        DedupOps.jaccardForPairs(prefixCand(s, d), ScaleQueries.shingleSets(s, d))
          .where(col("jaccard") >= 0.5)
          .select(col("a"), col("b"), col("jaccard"))
          .orderBy("a", "b")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest([concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) for i in generate_series(1, len(tk) - 4)]) AS s FROM toks) z), sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY 1), inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS ic FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT i.a AS a, i.b AS b, round(ic * 1.0 / (x.s + y.s - ic), 6) AS jaccard FROM inter i JOIN sz x ON i.a = x.doc_id JOIN sz y ON i.b = y.doc_id WHERE round(ic * 1.0 / (x.s + y.s - ic), 6) >= 0.5 ORDER BY a, b"""),
      "E2 ext: exact Jaccard self-join via prefix filtering (complete candidates)"),

    // q144 — int8 scalar quantization of the embedding column: per-dim
    // [min, max] ranges (64-row broadcast), quantize to 255 levels with
    // floor (floor semantics are identical across engines; round's
    // half-up ties are not), reconstruct, and audit per-label
    // reconstruction error. The compression step every billion-vector
    // ANN index runs; errors here are the index-quality gate.
    QuerySpec(
      "q144_embed_quant",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        val stats = e.groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
        e.join(broadcast(stats), "pos")
          .withColumn("qv", floor((col("x") - col("mn")) / (col("mx") - col("mn")) * 254))
          .withColumn("xq", col("qv") / lit(254.0) * (col("mx") - col("mn")) + col("mn"))
          .withColumn("err", col("x") - col("xq"))
          .groupBy("vec_id", "label")
          .agg(avg(col("err") * col("err")).as("mse"),
            max(abs(col("err"))).as("mae"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            round(avg("mse") * 1e6, 4).as("mse_u"),
            round(avg("mae"), 6).as("avg_mae"))
          .orderBy("label")
      },
      Some("""WITH ex AS (SELECT vec_id, label, u['p'] AS pos, CAST(u['x'] AS DOUBLE) AS x FROM (SELECT vec_id, label, unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings)), st AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1), qq AS (SELECT vec_id, label, x, floor((x - mn) / (mx - mn) * 254) AS qv, mn, mx FROM ex JOIN st USING (pos)), pv AS (SELECT vec_id, label, avg(pow(x - (qv / 254.0 * (mx - mn) + mn), 2)) AS mse, max(abs(x - (qv / 254.0 * (mx - mn) + mn))) AS mae FROM qq GROUP BY 1, 2) SELECT label, count(*) AS n, round(avg(mse) * 1e6, 4) AS mse_u, round(avg(mae), 6) AS avg_mae FROM pv GROUP BY 1 ORDER BY 1"""),
      "E3 ext: int8 embedding quantization + reconstruction-error audit"),

    // q145 — triangle count on the kNN-sparsified co-supply graph (see
    // coSupplyKnnEdges: the raw graph is near-complete, so sparsify
    // first — the realistic shape of similarity-graph analytics).
    // Triangles are two equi-joins closing the wedge over node-ordered
    // edges (u < v) — the standard distributed enumeration, no cross
    // join anywhere, and the edge set is bounded at ≤ 5n rows.
    QuerySpec(
      "q145_triangle_count",
      (s, d) => {
        val edges = coSupplyKnnEdges(s, d)
        val tri = edges.as("e1")
          .join(edges.as("e2"), col("e1.v") === col("e2.u"))
          .join(edges.as("e3"),
            col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
          .agg(count(lit(1)).as("triangles"))
        edges.agg(count(lit(1)).as("edges")).crossJoin(tri)
      },
      Some("""WITH ps0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem), ps AS (SELECT p, s FROM (SELECT p, s, row_number() OVER (PARTITION BY p ORDER BY s) AS hr FROM ps0) WHERE hr <= 256), w AS (SELECT a.s AS u, b.s AS v, count(*) AS shared FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2), dirw AS (SELECT u AS src, v AS dst, shared FROM w UNION ALL SELECT v, u, shared FROM w), knn AS (SELECT src, dst FROM (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY shared DESC, dst) AS rn FROM dirw) WHERE rn <= 5), e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM knn) SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS edges, CAST((SELECT count(*) FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT) AS triangles"""),
      "graph ext: triangle count over a kNN-sparsified similarity graph"),

    // q146 — per-type event anomaly gate: z-score against each
    // event_type's own mean/stddev (a 3-row broadcast), count |z| > 3
    // outliers. The outlier-filtering pass a data-quality pipeline runs
    // before training aggregation; one shuffle (the stats agg), then a
    // map-side broadcast probe over the full stream.
    QuerySpec(
      "q146_event_anomaly",
      (s, d) => {
        val ev = Tables.events(s, d)
        val stats = ev.groupBy("event_type")
          .agg(avg("value").as("mu"), stddev_samp("value").as("sd"))
        ev.join(broadcast(stats), "event_type")
          .withColumn("z", (col("value") - col("mu")) / col("sd"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(abs(col("z")) > 3, 1L).otherwise(0L)).as("anomalies"),
            round(max(abs(col("z"))), 6).as("max_z"))
          .orderBy("event_type")
      },
      Some("""WITH st AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd FROM events GROUP BY 1) SELECT event_type, count(*) AS n, CAST(sum(CASE WHEN abs((value - mu) / sd) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS anomalies, round(max(abs((value - mu) / sd)), 6) AS max_z FROM events JOIN st USING (event_type) GROUP BY 1 ORDER BY 1"""),
      "E4 ext: per-type z-score anomaly gate over the event stream"),

    // q147 — kNN majority-vote label prediction: 10 broadcast query
    // vectors against the corpus, top-5 neighbors by ROUNDED cosine
    // (deterministic cross-engine ordering, q37's convention), then the
    // modal neighbor label wins (votes desc, label asc tiebreak). The
    // classify-by-ANN pattern; at scale the crossJoin side stays the
    // fixed query set and the corpus streams.
    QuerySpec(
      "q147_knn_label",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("label").as("true_label"))
        val base = e.where(col("vec_id") >= 10)
        val wn = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
        val wv = Window.partitionBy("qid").orderBy(col("votes").desc, col("pred_label").asc)
        broadcast(q).crossJoin(base)
          .select(col("qid"), col("true_label"), col("vec_id").as("cid"),
            col("label").as("pred_label"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
          .withColumn("rn", row_number().over(wn))
          .where(col("rn") <= 5)
          .groupBy("qid", "true_label", "pred_label")
          .agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(wv))
          .where(col("vr") === 1)
          .select("qid", "true_label", "pred_label", "votes")
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding, sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm FROM embeddings), p AS (SELECT q.vec_id AS qid, q.label AS true_label, c.vec_id AS cid, c.label AS pred_label, round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6) AS cos_r FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id >= 10), r AS (SELECT qid, true_label, pred_label, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS rn FROM p), v AS (SELECT qid, true_label, pred_label, count(*) AS votes FROM r WHERE rn <= 5 GROUP BY 1, 2, 3) SELECT qid, true_label, pred_label, CAST(votes AS BIGINT) AS votes FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, pred_label) AS vr FROM v) WHERE vr = 1 ORDER BY qid"""),
      "E3 ext: kNN majority-vote label prediction over broadcast queries"),

    // q148 — key-skew diagnostics over l_suppkey: per-key counts (one
    // shuffle), then single-row stats — max/avg ratio, p99, top-10 key
    // share — the numbers that decide whether a join needs salting
    // (q59/q94) or AQE skew splitting. The window runs over the ALREADY
    // AGGREGATED per-key table (|keys| << |rows|), never the raw fact.
    // p99 is an EXACT element pick (the ceil(0.99·n)-th smallest count,
    // addressed via the desc rank: rk = n − ceil(0.99·n) + 1), not an
    // interpolated percentile — Spark `percentile` and DuckDB
    // `quantile_cont` interpolate one ulp apart, which the 4dp round can
    // flip at a boundary.
    QuerySpec(
      "q148_skew_diag",
      (s, d) => {
        val c = t(s, d, "lineitem").groupBy("l_suppkey")
          .agg(count(lit(1)).as("c"))
        val ranked = c.withColumn("rk",
          row_number().over(Window.orderBy(col("c").desc, col("l_suppkey"))))
          .withColumn("nk", count(lit(1)).over(Window.partitionBy()))
        ranked.agg(
          count(lit(1)).as("n_keys"),
          sum("c").as("n_rows"),
          max("c").as("max_c"),
          round(avg("c"), 4).as("avg_c"),
          round(max("c") / avg("c"), 4).as("skew_ratio"),
          round(max(when(col("rk") === col("nk") - ceil(col("nk") * lit(0.99)) + 1,
            col("c"))).cast("double"), 4).as("p99_c"),
          round(sum(when(col("rk") <= 10, col("c"))) / sum("c"), 6).as("top10_share"))
      },
      Some("""WITH c AS (SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1), r AS (SELECT c, row_number() OVER (ORDER BY c DESC, l_suppkey) AS rk, count(*) OVER () AS nk FROM c) SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows, CAST(max(c) AS BIGINT) AS max_c, round(avg(c), 4) AS avg_c, round(max(c) / avg(c), 4) AS skew_ratio, round(CAST(max(CASE WHEN rk = nk - CAST(ceil(nk * 0.99) AS BIGINT) + 1 THEN c END) AS DOUBLE), 4) AS p99_c, round(sum(CASE WHEN rk <= 10 THEN c END) * 1.0 / sum(c), 6) AS top10_share FROM r"""),
      "§4 ext: key-skew diagnostics (the salt-or-not decision numbers)"),

    // q149 — per-dimension embedding feature stats (mean/std/min/max):
    // the whitening/normalization statistics a feature pipeline computes
    // before training. posexplode fans each vector into (pos, x) rows,
    // then ONE partial-agg shuffle of 64 groups; at 100 TB the same plan
    // holds because the group count is the (tiny) dimensionality.
    QuerySpec(
      "q149_dim_stats",
      (s, d) => {
        t(s, d, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
          .groupBy("pos")
          .agg(count(lit(1)).as("n"),
            round(avg("x"), 6).as("mean_x"),
            round(stddev_samp("x"), 6).as("sd_x"),
            round(min("x"), 6).as("min_x"),
            round(max("x"), 6).as("max_x"))
          .orderBy("pos")
      },
      Some("""SELECT CAST(u['p'] - 1 AS INT) AS pos, count(*) AS n, round(avg(CAST(u['x'] AS DOUBLE)), 6) AS mean_x, round(stddev_samp(CAST(u['x'] AS DOUBLE)), 6) AS sd_x, round(min(CAST(u['x'] AS DOUBLE)), 6) AS min_x, round(max(CAST(u['x'] AS DOUBLE)), 6) AS max_x FROM (SELECT unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings) GROUP BY 1 ORDER BY 1"""),
      "E3/T ext: per-dimension embedding stats (whitening statistics)"),

    // q150 — rolling window MEDIAN (exact percentile as a window
    // aggregate over a 5-row frame): the robust-smoothing counterpart of
    // q21's running sum — medians resist the outliers that wreck rolling
    // means. Only FULL frames are emitted (rn >= 5): an odd frame's
    // median is an exact element, whereas the ramp-up rows' even frames
    // interpolate (a+b)/2 — which the two engines compute one ulp apart,
    // flipping the cent rounding. Per-customer frames, so parallelism =
    // #customers; the frame buffer is 5 rows regardless of corpus size.
    QuerySpec(
      "q150_window_median",
      (s, d) => {
        val ws = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        val w5 = ws.rowsBetween(-4, Window.currentRow)
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            row_number().over(ws).as("rn"),
            round(expr("percentile(o_totalprice, 0.5)").over(w5), 2).as("run_median"))
          .where(col("rn") >= 5)
          .select("o_custkey", "o_orderkey", "run_median")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, run_median FROM (SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn, round(quantile_cont(o_totalprice, 0.5) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 2) AS run_median FROM orders) WHERE rn >= 5 ORDER BY o_custkey, o_orderkey"""),
      "§2.5 ext: rolling exact median over a bounded window frame"),

    // q151 — per-source language entropy: the source-diversity metric a
    // mixture designer reads next to q132's sampling weights (a source
    // collapsed to one language scores 0). Two partial-agg shuffles of
    // (source, lang) cells — never a row explosion; the entropy sum runs
    // over ≤ |langs| cells per source.
    QuerySpec(
      "q151_source_entropy",
      (s, d) => {
        val c = t(s, d, "documents").groupBy("source", "lang")
          .agg(count(lit(1)).as("c"))
        val tot = c.groupBy("source").agg(sum("c").as("n"))
        c.join(tot, "source")
          .withColumn("p", col("c") / col("n"))
          .groupBy("source")
          .agg(max("n").as("n_docs"),
            count(lit(1)).as("n_langs"),
            round(-sum(col("p") * log(col("p"))), 6).as("lang_entropy"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2), tot AS (SELECT source, sum(c) AS n FROM c GROUP BY 1) SELECT source, CAST(max(n) AS BIGINT) AS n_docs, count(*) AS n_langs, round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS lang_entropy FROM c JOIN tot USING (source) GROUP BY 1 ORDER BY 1"""),
      "E4 ext: per-source language entropy (mixture-diversity metric)"),

    // q152 — incremental aggregate maintenance: the maintained view is
    // (per-customer count, spend) over a pre-cutoff BASE plus a
    // post-cutoff DELTA batch, merged by RE-AGGREGATING the union of
    // partial states — the combiner-merge pattern that lets a 100 TB
    // rollup absorb a 1 GB day of changes without recompute. The oracle
    // is the full recompute, which the merge must equal exactly.
    QuerySpec(
      "q152_incremental_agg",
      (s, d) => {
        val o = t(s, d, "orders")
        def part(df: DataFrame): DataFrame =
          df.groupBy("o_custkey").agg(count(lit(1)).as("cnt"),
            sum("o_totalprice").as("spend"))
        val base = part(o.where(col("o_orderdate") < lit("2000-01-01")))
        val delta = part(o.where(col("o_orderdate") >= lit("2000-01-01")))
        base.unionByName(delta)
          .groupBy("o_custkey")
          .agg(sum("cnt").as("cnt"), round(sum("spend"), 2).as("spend"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS cnt, round(sum(o_totalprice), 2) AS spend FROM orders GROUP BY 1 ORDER BY 1"""),
      "§2.4/§4 ext: incremental aggregate maintenance (partial-state merge == recompute)"),

    // q153 — deterministic weighted corpus sampling: materialize a
    // language-balanced subcorpus by keeping doc d iff hash-uniform(d) <
    // rate(lang), rate = min_lang_count / lang_count (every language
    // downsampled to the rarest one's expected size). The uniform is a
    // Knuth multiplicative hash — pure BIGINT arithmetic, identical in
    // both engines, no RNG state. doc_id is masked to 31 bits BEFORE the
    // multiply so the product ((2^31-1)·2654435761 ≈ 5.7e18) stays below
    // Long.MaxValue in BOTH engines for any id: without the mask Spark
    // wraps silently while DuckDB raises on BIGINT overflow once
    // doc_id > ~3.47e9. This is q132's sampling weights actually
    // APPLIED: one stats pass, then a map-side broadcast-probe filter —
    // the corpus never shuffles.
    QuerySpec(
      "q153_weighted_sample",
      (s, d) => {
        val docs = t(s, d, "documents")
        val rates = docs.groupBy("lang").agg(count(lit(1)).as("n"))
          .withColumn("rate",
            min("n").over(Window.partitionBy()).cast("double") / col("n"))
        docs.join(broadcast(rates), "lang")
          .withColumn("u",
            (col("doc_id") % 2147483648L * 2654435761L % 4294967296L) / 4294967296.0)
          .where(col("u") < col("rate"))
          .groupBy("lang")
          .agg(count(lit(1)).as("kept"),
            max(col("n")).as("lang_total"),
            round(max(col("rate")), 6).as("rate"))
          .orderBy("lang")
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1), r AS (SELECT lang, n, (SELECT min(n) FROM c) * 1.0 / n AS rate FROM c) SELECT lang, count(*) AS kept, CAST(max(n) AS BIGINT) AS lang_total, round(max(rate), 6) AS rate FROM documents JOIN r USING (lang) WHERE (doc_id % 2147483648 * 2654435761 % 4294967296) / 4294967296.0 < rate GROUP BY 1 ORDER BY 1"""),
      "E4 ext: deterministic weighted sampling (mixture weights applied)"),

    // q154 — PSI distribution drift: population stability index of each
    // source's n_chars histogram against the corpus baseline over FIXED
    // 60-char bins (literal bins need no min/max pass and keep the plan
    // one groupBy + one broadcast probe). PSI = Σ (p-q)·ln(p/q) over
    // bins populated on both sides (the standard guard against ln 0);
    // > 0.2 is the conventional "investigate this source" alarm. The
    // drift monitor a continuously-ingesting corpus runs per batch.
    QuerySpec(
      "q154_psi_drift",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("bin", floor(col("n_chars") / 60))
        val corpus = docs.groupBy("bin").agg(count(lit(1)).as("cq"))
          .crossJoin(broadcast(docs.agg(count(lit(1)).as("nq"))))
          .select(col("bin"), (col("cq") / col("nq")).as("q"))
        val src = docs.groupBy("source", "bin").agg(count(lit(1)).as("cp"))
        val tot = docs.groupBy("source").agg(count(lit(1)).as("np"))
        src.join(tot, "source")
          .withColumn("p", col("cp") / col("np"))
          .join(broadcast(corpus), "bin")
          .groupBy("source")
          .agg(count(lit(1)).as("n_bins"),
            round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
          .orderBy("source")
      },
      Some("""WITH b AS (SELECT source, CAST(floor(n_chars / 60) AS BIGINT) AS bin FROM documents), corpus AS (SELECT bin, count(*) * 1.0 / (SELECT count(*) FROM b) AS q FROM b GROUP BY 1), src AS (SELECT source, bin, count(*) AS cp FROM b GROUP BY 1, 2), tot AS (SELECT source, count(*) AS np FROM b GROUP BY 1) SELECT source, count(*) AS n_bins, round(sum((cp * 1.0 / np - q) * ln((cp * 1.0 / np) / q)), 6) AS psi FROM src JOIN tot USING (source) JOIN corpus USING (bin) GROUP BY 1 ORDER BY 1"""),
      "E4 ext: PSI histogram drift per source (ingest monitoring)"),

    // q155 — TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact
    // under different correlated predicates. Expressed as one semi-join
    // ("some other supplier touched the order") and one anti-join ("no
    // other supplier shipped a >45-qty line there") over the distinct
    // (order, supplier) pairs — Catalyst plans both as hash joins, the
    // decorrelation a native engine has to hand-roll. Top-10 by count
    // lands in TakeOrderedAndProject.
    QuerySpec(
      "q155_multi_exists",
      (s, d) => {
        // Both correlated EXISTS collapse into per-order counts over the
        // distinct (order, supplier) pairs: "some other supplier touched
        // the order" ⇔ n_supp ≥ 2, "no OTHER flagged supplier" (for a
        // flagged row) ⇔ n_flg = 1. One (order, supplier) aggregate +
        // one order-keyed window replaces the former two distincts plus
        // semi- and anti-join — four orderkey shuffles of pair-scale
        // data become two, with identical semantics.
        val grp = t(s, d, "lineitem")
          .groupBy("l_orderkey", "l_suppkey")
          .agg(max((col("l_quantity") > 45).cast("long")).as("flg"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
        grp.withColumn("n_supp", count(lit(1)).over(w))
          .withColumn("n_flg", sum("flg").over(w))
          .where(col("flg") === 1 && col("n_flg") === 1 && col("n_supp") >= 2)
          .groupBy(col("l_suppkey").as("s_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_suppkey"))
          .limit(10)
      },
      Some("""WITH f AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 45) SELECT l1.l_suppkey AS s_suppkey, count(*) AS numwait FROM f l1 WHERE EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) AND NOT EXISTS (SELECT 1 FROM f l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey) GROUP BY 1 ORDER BY numwait DESC, s_suppkey LIMIT 10"""),
      "§2.3 ext: TPC-H Q21 shape — EXISTS + NOT EXISTS via semi + anti join"),

    // q156 — LEFT as-of join with tolerance (JoinOps.asofJoinWithin):
    // each purchase matched to the user's latest click within the
    // preceding hour, unmatched purchases kept with lag -1 — the
    // attribution-window join ad pipelines run. Same single keyed
    // union-merge shuffle as q58; the tolerance is a post-filter on the
    // carried struct, never a range join. Oracle: correlated max()
    // subquery over the window.
    QuerySpec(
      "q156_asof_tolerance",
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("pur_id"))
        val clicks = ev.where(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
        graft.ops.JoinOps
          .asofJoinWithin(purchases, clicks, "user_id", "ts", "ts",
            "pur_id", "click_id", toleranceSec = 3600L)
          .select(col("pur_id"), col("user_id"),
            unix_timestamp(col("ts")).as("pur_epoch"),
            coalesce(unix_timestamp(col("ts")) - unix_timestamp(col("click_id_ts")),
              lit(-1L)).as("click_lag_s"))
          .orderBy("pur_id")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events), p AS (SELECT user_id, ts, event_id AS pur_id FROM ev WHERE event_type = 'purchase'), c AS (SELECT user_id, ts, max(event_id) AS click_id FROM ev WHERE event_type = 'click' GROUP BY 1, 2) SELECT pur_id, p.user_id AS user_id, CAST(floor(epoch(p.ts)) AS BIGINT) AS pur_epoch, coalesce((SELECT CAST(floor(epoch(p.ts)) - floor(epoch(max(c.ts))) AS BIGINT) FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE), -1) AS click_lag_s FROM p ORDER BY pur_id"""),
      "§2.3 ext: left as-of join with attribution-window tolerance"),

    // q157 — centroid classification: per-label mean embedding (a
    // |labels|×dim table — broadcast-sized at any corpus scale), each
    // vector assigned to its argmax-cosine centroid, output the
    // label×prediction confusion counts. The parametric counterpart to
    // q147's kNN: one stats pass builds the model, assignment is a
    // fan-out of rows × |labels| with everything else map-side.
    // Ranking is on the ROUNDED cosine with label tiebreak (q37's
    // determinism convention).
    QuerySpec(
      "q157_centroid_assign",
      (s, d) => {
        val ex = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        val cent = ex.groupBy(col("label").as("clabel"), col("pos"))
          .agg(avg("x").as("cx"))
        val w = Window.partitionBy("vec_id")
          .orderBy(col("cos_r").desc, col("clabel").asc)
        ex.join(broadcast(cent), "pos")
          .groupBy("vec_id", "label", "clabel")
          .agg(sum(col("x") * col("cx")).as("dot"),
            sqrt(sum(col("x") * col("x"))).as("nv"),
            sqrt(sum(col("cx") * col("cx"))).as("nc"))
          .withColumn("cos_r", round(col("dot") / (col("nv") * col("nc")), 6))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .groupBy(col("label").as("true_label"), col("clabel").as("pred_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy("true_label", "pred_label")
      },
      Some("""WITH ex AS (SELECT vec_id, label, u['p'] AS pos, CAST(u['x'] AS DOUBLE) AS x FROM (SELECT vec_id, label, unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings)), cent AS (SELECT label AS clabel, pos, avg(x) AS cx FROM ex GROUP BY 1, 2), dots AS (SELECT ex.vec_id, ex.label, cent.clabel, sum(ex.x * cent.cx) AS dot, sqrt(sum(ex.x * ex.x)) AS nv, sqrt(sum(cent.cx * cent.cx)) AS nc FROM ex JOIN cent USING (pos) GROUP BY 1, 2, 3), ranked AS (SELECT vec_id, label, clabel, row_number() OVER (PARTITION BY vec_id ORDER BY round(dot / (nv * nc), 6) DESC, clabel) AS rn FROM dots) SELECT label AS true_label, clabel AS pred_label, count(*) AS n FROM ranked WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""),
      "E3 ext: centroid classification + confusion counts (parametric kNN)"),

    // q158 — reciprocal-rank fusion: fuse each query's cosine ranking
    // with a recency ranking (vec_id desc as the recency proxy) via
    // RRF = Σ 1/(60 + rank). Scores are rationals of INTEGER ranks, so
    // both engines compute bit-identical values — no float tolerance
    // anywhere. The standard way search stacks merge lexical/vector/
    // freshness signals; all windows are per-query, the corpus streams
    // against the broadcast query set.
    QuerySpec(
      "q158_rrf_fusion",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val wCos = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid").asc)
        val wRec = Window.partitionBy("qid").orderBy(col("cid").desc)
        val wRrf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("cid").asc)
        broadcast(q).crossJoin(e.where(col("vec_id") >= 10))
          .select(col("qid"), col("vec_id").as("cid"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
          .withColumn("r_cos", row_number().over(wCos))
          .withColumn("r_rec", row_number().over(wRec))
          .withColumn("rrf",
            round(lit(1.0) / (lit(60) + col("r_cos")) + lit(1.0) / (lit(60) + col("r_rec")), 8))
          .withColumn("rn", row_number().over(wRrf).cast("long"))
          .where(col("rn") <= 3)
          .select("qid", "cid", "rrf", "rn")
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, embedding, sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm FROM embeddings), p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6) AS cos_r FROM e q, e c WHERE q.vec_id < 10 AND c.vec_id >= 10), r AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS r_cos, row_number() OVER (PARTITION BY qid ORDER BY cid DESC) AS r_rec FROM p), s AS (SELECT qid, cid, round(1.0 / (60 + r_cos) + 1.0 / (60 + r_rec), 8) AS rrf FROM r) SELECT qid, cid, rrf, rn FROM (SELECT qid, cid, rrf, CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS BIGINT) AS rn FROM s) WHERE rn <= 3 ORDER BY qid, rn"""),
      "E3/IR ext: reciprocal-rank fusion of cosine + recency rankings"),

    // q159 — null-safe equality join (<=>): the join where NULL keys
    // MATCH each other — Spark's eqNullSafe / SQL IS NOT DISTINCT FROM.
    // Keys are made nullable with nullif (clerk group 0 → NULL on both
    // sides), so the null bucket is exercised for real. Still a hash
    // join (null-safe equality is hashable — null is just one more key
    // value); the oracle uses DuckDB's IS NOT DISTINCT FROM.
    QuerySpec(
      "q159_nullsafe_join",
      (s, d) => {
        val o = t(s, d, "orders")
          .select(col("o_orderkey"),
            nullif(expr("o_orderkey % 7"), lit(0)).as("grp"))
        val c = t(s, d, "customer")
          .select(col("c_custkey"),
            nullif(expr("c_custkey % 7"), lit(0)).as("grp"))
          .groupBy("grp").agg(count(lit(1)).as("n_cust"))
        o.join(c, o("grp") <=> c("grp"))
          .groupBy(coalesce(o("grp"), lit(-1)).as("grp_key"))
          .agg(count(lit(1)).as("n_orders"), max("n_cust").as("n_cust"))
          .orderBy("grp_key")
      },
      Some("""WITH o AS (SELECT o_orderkey, nullif(o_orderkey % 7, 0) AS grp FROM orders), c AS (SELECT nullif(c_custkey % 7, 0) AS grp, count(*) AS n_cust FROM customer GROUP BY 1) SELECT coalesce(o.grp, -1) AS grp_key, count(*) AS n_orders, CAST(max(n_cust) AS BIGINT) AS n_cust FROM o JOIN c ON o.grp IS NOT DISTINCT FROM c.grp GROUP BY 1 ORDER BY grp_key"""),
      "§2.3 ext: null-safe equality join (<=> / IS NOT DISTINCT FROM)"),

    // q160 — period-over-period: monthly revenue with month-over-month
    // and year-over-year deltas via lag offsets 1 and 12 over the
    // ALREADY AGGREGATED month table (≤ a few hundred rows at any
    // corpus size — the window never touches raw facts). The BI staple
    // every revenue dashboard runs.
    QuerySpec(
      "q160_mom_yoy",
      (s, d) => {
        val w = Window.orderBy("ym")
        t(s, d, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .agg(round(sum("o_totalprice"), 2).as("rev"))
          .withColumn("mom_pct",
            round((col("rev") - lag("rev", 1).over(w)) / lag("rev", 1).over(w) * 100, 4))
          .withColumn("yoy_pct",
            round((col("rev") - lag("rev", 12).over(w)) / lag("rev", 12).over(w) * 100, 4))
          .select(col("ym"), col("rev"),
            coalesce(col("mom_pct"), lit(0.0)).as("mom_pct"),
            coalesce(col("yoy_pct"), lit(0.0)).as("yoy_pct"))
          .orderBy("ym")
      },
      Some("""WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym, round(sum(o_totalprice), 2) AS rev FROM orders GROUP BY 1) SELECT ym, rev, coalesce(round((rev - lag(rev, 1) OVER (ORDER BY ym)) / lag(rev, 1) OVER (ORDER BY ym) * 100, 4), 0.0) AS mom_pct, coalesce(round((rev - lag(rev, 12) OVER (ORDER BY ym)) / lag(rev, 12) OVER (ORDER BY ym) * 100, 4), 0.0) AS yoy_pct FROM m ORDER BY ym"""),
      "§2.5 ext: month-over-month / year-over-year deltas on the aggregated month table"),

    // q161 — IVF with a TRAINED quantizer, fully oracle-checked: init
    // cells from the 8 lowest-id vectors (q101's deterministic seed),
    // then TWO unrolled Lloyd rounds (assign by argmax rounded cosine,
    // re-center by per-cell mean) — the fixed-iteration trick that made
    // PageRank (q137) and CC (q90) exactly replayable as chained CTEs.
    // This closes the gap q60 leaves: q60 exercises the MLlib KMeans
    // surface (rows-only by necessity), q161 proves the data-adaptive
    // quantizer's MATH against the oracle. Each round is one broadcast
    // of |cells|×dim centroids against the streaming corpus — the
    // index-build cost profile of a real IVF trainer.
    QuerySpec(
      "q161_ivf_lloyd",
      (s, d) => {
        import graft.ops.AnnOps.lloydAssignExploded
        val ex = t(s, d, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "xf")))
          .withColumn("x", col("xf").cast("double"))
        val c0 = ex.where(col("vec_id") < 8)
          .select(col("vec_id").as("cell"), col("pos"), col("x").as("cx"))
        val c1 = ex.join(lloydAssignExploded(ex, c0).select("vec_id", "cell"), "vec_id")
          .groupBy("cell", "pos").agg(avg("x").as("cx"))
        lloydAssignExploded(ex, c1)
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"), round(avg("cos_r"), 6).as("avg_cos"))
          .orderBy("cell")
      },
      Some("""WITH ex AS (SELECT vec_id, u['p'] AS pos, CAST(u['x'] AS DOUBLE) AS x FROM (SELECT vec_id, unnest([{'p': i, 'x': embedding[i]} for i in generate_series(1, len(embedding))]) AS u FROM embeddings)), c0 AS (SELECT vec_id AS cell, pos, x AS cx FROM ex WHERE vec_id < 8), d1 AS (SELECT ex.vec_id, c0.cell, sum(ex.x * c0.cx) AS dot, sqrt(sum(ex.x * ex.x)) AS nv, sqrt(sum(c0.cx * c0.cx)) AS nc FROM ex JOIN c0 USING (pos) GROUP BY 1, 2), a1 AS (SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY round(dot / (nv * nc), 6) DESC, cell) AS rn FROM d1) WHERE rn = 1), c1 AS (SELECT a1.cell, ex.pos, avg(ex.x) AS cx FROM ex JOIN a1 USING (vec_id) GROUP BY 1, 2), d2 AS (SELECT ex.vec_id, c1.cell, sum(ex.x * c1.cx) AS dot, sqrt(sum(ex.x * ex.x)) AS nv, sqrt(sum(c1.cx * c1.cx)) AS nc FROM ex JOIN c1 USING (pos) GROUP BY 1, 2), a2 AS (SELECT vec_id, cell, cos_r FROM (SELECT vec_id, cell, round(dot / (nv * nc), 6) AS cos_r, row_number() OVER (PARTITION BY vec_id ORDER BY round(dot / (nv * nc), 6) DESC, cell) AS rn FROM d2) WHERE rn = 1) SELECT cell, count(*) AS n_vecs, round(avg(cos_r), 6) AS avg_cos FROM a2 GROUP BY 1 ORDER BY 1"""),
      "E3 ext: IVF with a trained quantizer — two unrolled Lloyd rounds, fully oracled"),

    // q162 — shingle novelty scoring: per document, the fraction of its
    // 5-gram shingles appearing for the FIRST time in doc_id order (a
    // shingle's owner = min doc_id containing it — an order-free
    // map-side partial min, the q134 keeper trick at shingle level).
    // The novelty score a curation pipeline uses to drop near-copies of
    // earlier content without pairwise comparison: one agg over the
    // cached shingle rows + one equi-join back. Docs too short to
    // shingle are absent on both sides.
    QuerySpec(
      "q162_shingle_novelty",
      (s, d) => {
        val sh = ScaleQueries.shingleRows(s, d)
        val owner = sh.groupBy("s").agg(min("doc_id").as("first_doc"))
        sh.join(owner, "s")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty", round(col("n_novel") / col("n_shingles"), 6))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest([concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) for i in generate_series(1, len(tk) - 4)]) AS s FROM toks) z), owner AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1) SELECT doc_id, count(*) AS n_shingles, CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS novelty FROM sh JOIN owner USING (s) GROUP BY 1 ORDER BY 1"""),
      "E2/E4 ext: per-doc shingle novelty (first-occurrence fraction, no pairwise compare)"))
}

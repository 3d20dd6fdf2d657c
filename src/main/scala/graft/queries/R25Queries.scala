package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.functions.cosineSim

/** Round-6 widening, closing batch: CUPED variance reduction (the
  * modern experimentation-platform companion to q294's χ² readout —
  * pre-period covariate adjustment, the single highest-leverage trick
  * in online experimentation) and the q300 hybrid-retrieval EVAL
  * CAPSTONE: vector leg, lexical leg, and their RRF fusion all scored
  * with nDCG@10 under one relevance model — the "which retriever
  * wins" report that q37/q293-shingles/q220-RRF/q272-nDCG each built
  * a piece of, composed end-to-end and oracle-checked as one plan
  * (the q250/q251 capstone stance, applied to retrieval).
  */
object R25Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q299 — CUPED (Controlled-experiment Using Pre-Existing Data):
    // adjust the post-period metric with the pre-period covariate,
    // y' = y − θ(x − x̄), θ = cov(x,y)/var(x) pooled across arms — the
    // adjustment removes the between-user variance the randomization
    // already balanced, typically shrinking required sample sizes
    // 30-50%. Everything flows from ONE user-keyed aggregation into
    // exact BIGINT moment sums over whole-dollar values (per-user cent
    // sums floor-divided by 100 — cents would overflow n·Σxy at planet
    // scale, and integer division is the only cross-engine-safe
    // narrowing: DuckDB's CAST(double) rounds where Spark's truncates);
    // θ and the variance-reduction ratio ρ² are single
    // deterministic double chains off those integers (q276 stance).
    // Variant assignment is the q294 parity hash. Output: raw vs
    // CUPED-adjusted treatment effect + the realized variance
    // reduction in basis points.
    QuerySpec(
      "q299_cuped",
      (s, d) => {
        val per = t(s, d, "events")
          .where(col("value").isNotNull)
          .groupBy("user_id")
          .agg(
            expr("sum(CASE WHEN ts < '2024-01-15' THEN cast(floor(value * 100.0 + 0.5) as bigint) ELSE 0L END) div 100")
              .as("x"),
            expr("sum(CASE WHEN ts >= '2024-01-15' THEN cast(floor(value * 100.0 + 0.5) as bigint) ELSE 0L END) div 100")
              .as("y"))
          .select((col("user_id") % 2).as("v"), col("x"), col("y"))
        val m = per.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(when(col("v") === 0L, 1L).otherwise(0L)).as("n0"),
          sum(when(col("v") === 0L, col("y")).otherwise(0L)).as("y0"),
          sum(when(col("v") === 0L, col("x")).otherwise(0L)).as("x0"),
          sum(when(col("v") === 1L, 1L).otherwise(0L)).as("n1"),
          sum(when(col("v") === 1L, col("y")).otherwise(0L)).as("y1"),
          sum(when(col("v") === 1L, col("x")).otherwise(0L)).as("x1"))
        m.withColumn("theta_micro",
            floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
              * 1000000.0).cast("long"))
          .withColumn("var_red_bp",
            floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") *
              (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
              * 10000.0).cast("long"))
          .withColumn("diff_raw_c4",
            expr("y1 * 10000 div n1 - y0 * 10000 div n0"))
          .withColumn("dx_c4", expr("x1 * 10000 div n1 - x0 * 10000 div n0"))
          .withColumn("diff_cuped_c4",
            col("diff_raw_c4") -
              floor(col("theta_micro").cast("double") * col("dx_c4").cast("double")
                / 1000000.0).cast("long"))
          .select("n0", "n1", "theta_micro", "diff_raw_c4", "diff_cuped_c4",
            "var_red_bp")
      },
      Some("""WITH per AS (SELECT user_id % 2 AS v, sum(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END) // 100 AS x, sum(CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END) // 100 AS y FROM events WHERE value IS NOT NULL GROUP BY user_id), m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy, CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, CAST(sum(CASE WHEN v = 0 THEN y ELSE 0 END) AS BIGINT) AS y0, CAST(sum(CASE WHEN v = 0 THEN x ELSE 0 END) AS BIGINT) AS x0, CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, CAST(sum(CASE WHEN v = 1 THEN y ELSE 0 END) AS BIGINT) AS y1, CAST(sum(CASE WHEN v = 1 THEN x ELSE 0 END) AS BIGINT) AS x1 FROM per) SELECT n0, n1, CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0) AS BIGINT) AS theta_micro, CAST(y1 * 10000 // n1 - y0 * 10000 // n0 AS BIGINT) AS diff_raw_c4, CAST(y1 * 10000 // n1 - y0 * 10000 // n0 - floor(CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0) AS DOUBLE) * CAST(x1 * 10000 // n1 - x0 * 10000 // n0 AS DOUBLE) / 1000000.0) AS BIGINT) AS diff_cuped_c4, CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) * 10000.0) AS BIGINT) AS var_red_bp FROM m"""),
      "A/§2.12 ext: CUPED pre-period covariate adjustment — integer moments, deterministic theta, realized variance reduction"),

    // q300 — HYBRID-RETRIEVAL EVAL CAPSTONE: three systems — the
    // vector leg (exact cosine, q37's ranking), the lexical leg
    // (shared-5-shingle count between the query DOCUMENT and each
    // candidate document, over the memoized shingle index; doc_id and
    // vec_id are the same key space), and their RRF fusion (k=60,
    // q220's formula, micro-quantized per rank) — each scored with
    // nDCG@10 under ONE graded relevance model (q272's label
    // proximity), against ONE shared ideal. The report is three rows:
    // who wins, by how much, over the same 10 queries. Per-query work
    // is qid-keyed windows; the lexical candidates come from the
    // shingle equi-join (only overlapping docs score — absent docs
    // contribute no RRF mass, the standard treatment); the fused
    // ranking exists wherever EITHER leg ranked. The capstone claim:
    // every stage of a retrieval-quality bake-off, one declarative
    // plan, value-checked in a second engine.
    QuerySpec(
      "q300_hybrid_eval",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("label").as("ql"))
        val labels = e.select(col("vec_id").as("cid"), col("label").as("lc"))
        val wV = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("cid"))
        val vec = broadcast(q.select("qid", "qe")).crossJoin(e)
          .where(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("cid"),
            round(cosineSim(col("qe"), col("embedding")), 6).as("cos_r"))
          .withColumn("rn_v", row_number().over(wV).cast("long"))
          .select("qid", "cid", "rn_v")
        val sh = ScaleQueries.shingleRows(s, d).select("doc_id", "s")
        val wL = Window.partitionBy("qid").orderBy(col("shared").desc, col("cid"))
        val lex = sh.join(broadcast(q.select(col("qid"))),
            col("doc_id") === col("qid"))
          .select(col("qid"), col("s"))
          .join(sh.select(col("doc_id").as("cid"), col("s")), Seq("s"))
          .where(col("cid") =!= col("qid"))
          .groupBy("qid", "cid").agg(count(lit(1)).as("shared"))
          .withColumn("rn_l", row_number().over(wL).cast("long"))
          .select("qid", "cid", "rn_l")
        // fuse each leg's TOP-50 retrieved list, not full-corpus
        // rankings: production RRF fuses the lists the legs actually
        // return, deep ranks are pure noise (and at 1e9 docs a full
        // ranking doesn't exist), and bounded lists make the fusion
        // stable — a deep-rank wobble between engines can never reach
        // the fused order
        // NB: a USING full join already outputs coalesce(left, right)
        // for the join columns — re-deriving them via dataframe-
        // qualified references (vec("cid")) mis-resolves post-join and
        // silently corrupts right-only rows; plain col() is the
        // correct (and only safe) way to read them
        val fusedBase = vec.where(col("rn_v") <= 50)
          .join(lex.where(col("rn_l") <= 50), Seq("qid", "cid"), "full")
          .select(col("qid"), col("cid"), col("rn_v"), col("rn_l"))
          .withColumn("rrf_micro",
            coalesce(floor(lit(1000000.0) / (col("rn_v") + 60L)), lit(0.0))
              .cast("long") +
              coalesce(floor(lit(1000000.0) / (col("rn_l") + 60L)), lit(0.0))
                .cast("long"))
        val wF = Window.partitionBy("qid").orderBy(col("rrf_micro").desc, col("cid"))
        val fused = fusedBase
          .withColumn("rn_f", row_number().over(wF).cast("long"))
          .select("qid", "cid", "rn_f")
        // shared relevance model + shared per-query ideal
        val rel = broadcast(q.select("qid", "ql")).crossJoin(labels)
          .where(col("cid") =!= col("qid"))
          .select(col("qid"), col("cid"),
            expr("shiftleft(1L, cast(greatest(0, 3 - abs(ql - lc)) as int)) - 1")
              .cast("long").as("gain"))
        val wI = Window.partitionBy("qid").orderBy(col("gain").desc, col("cid"))
        val idcg = rel.withColumn("rn_i", row_number().over(wI).cast("long"))
          .where(col("rn_i") <= 10)
          .groupBy("qid")
          .agg(sum(col("gain") *
            floor(lit(1000000.0) / log2(col("rn_i") + 1.0)).cast("long"))
            .as("idcg_micro"))
        // a query a system fails to rank AT ALL scores 0 — dropping it
        // would inflate that system's mean (the q273 zero-hit rule)
        def ndcg(ranked: DataFrame, rnCol: String, system: String): DataFrame =
          q.select("qid")
            .join(ranked.where(col(rnCol) <= 10)
              .join(rel, Seq("qid", "cid"))
              .groupBy("qid")
              .agg(sum(col("gain") *
                floor(lit(1000000.0) / log2(col(rnCol) + 1.0)).cast("long"))
                .as("dcg_micro")), Seq("qid"), "left")
            .join(idcg, Seq("qid"))
            .select(lit(system).as("system"),
              expr("coalesce(dcg_micro, 0L) * 10000 div greatest(idcg_micro, 1)")
                .as("ndcg_bp"))
        ndcg(vec, "rn_v", "vector")
          .unionByName(ndcg(lex, "rn_l", "lexical"))
          .unionByName(ndcg(fused, "rn_f", "rrf"))
          .groupBy("system")
          .agg(count(lit(1)).as("n_queries"),
            expr("sum(ndcg_bp) div count(1)").as("mean_ndcg_bp"))
          .orderBy("system")
      },
      Some {
        val emL2 = ScaleQueries.emL2
        val cosSql =
          """round(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))]) / (q.nrm * c.nrm), 6)"""
        s"""WITH e AS (SELECT vec_id, embedding, label, $emL2 AS nrm FROM embeddings), qs AS (SELECT vec_id AS qid, embedding, label AS ql, nrm FROM e WHERE vec_id < 10), vec AS (SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, cid) AS BIGINT) AS rn_v FROM (SELECT q.qid, c.vec_id AS cid, $cosSql AS cos_r FROM qs q, e c WHERE c.vec_id <> q.qid) z), toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents), sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest([concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]) for i in generate_series(1, len(tk) - 4)]) AS s FROM toks) z), lex AS (SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid ORDER BY shared DESC, cid) AS BIGINT) AS rn_l FROM (SELECT a.doc_id AS qid, b.doc_id AS cid, count(*) AS shared FROM sh a JOIN sh b USING (s) WHERE a.doc_id < 10 AND b.doc_id <> a.doc_id GROUP BY 1, 2) z), fb AS (SELECT coalesce(v.qid, l.qid) AS qid, coalesce(v.cid, l.cid) AS cid, CAST(coalesce(floor(1000000.0 / (v.rn_v + 60)), 0) AS BIGINT) + CAST(coalesce(floor(1000000.0 / (l.rn_l + 60)), 0) AS BIGINT) AS rrf_micro FROM (SELECT * FROM vec WHERE rn_v <= 50) v FULL JOIN (SELECT * FROM lex WHERE rn_l <= 50) l ON v.qid = l.qid AND v.cid = l.cid), fused AS (SELECT qid, cid, CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, cid) AS BIGINT) AS rn_f FROM fb), rel AS (SELECT q.qid, c.vec_id AS cid, CAST((1 << greatest(0, 3 - abs(q.ql - c.label))) - 1 AS BIGINT) AS gain FROM qs q, e c WHERE c.vec_id <> q.qid), idcg AS (SELECT qid, CAST(sum(gain * CAST(floor(1000000.0 / log2(rn_i + 1.0)) AS BIGINT)) AS BIGINT) AS idcg_micro FROM (SELECT qid, gain, CAST(row_number() OVER (PARTITION BY qid ORDER BY gain DESC, cid) AS BIGINT) AS rn_i FROM rel) z WHERE rn_i <= 10 GROUP BY 1), nv AS (SELECT v.qid, CAST(sum(r.gain * CAST(floor(1000000.0 / log2(v.rn_v + 1.0)) AS BIGINT)) AS BIGINT) AS dcg FROM vec v JOIN rel r ON r.qid = v.qid AND r.cid = v.cid WHERE v.rn_v <= 10 GROUP BY 1), nl AS (SELECT l.qid, CAST(sum(r.gain * CAST(floor(1000000.0 / log2(l.rn_l + 1.0)) AS BIGINT)) AS BIGINT) AS dcg FROM lex l JOIN rel r ON r.qid = l.qid AND r.cid = l.cid WHERE l.rn_l <= 10 GROUP BY 1), nf AS (SELECT f.qid, CAST(sum(r.gain * CAST(floor(1000000.0 / log2(f.rn_f + 1.0)) AS BIGINT)) AS BIGINT) AS dcg FROM fused f JOIN rel r ON r.qid = f.qid AND r.cid = f.cid WHERE f.rn_f <= 10 GROUP BY 1), u AS (SELECT 'vector' AS system, q.qid, coalesce(nv.dcg, 0) AS dcg FROM qs q LEFT JOIN nv ON nv.qid = q.qid UNION ALL SELECT 'lexical', q.qid, coalesce(nl.dcg, 0) FROM qs q LEFT JOIN nl ON nl.qid = q.qid UNION ALL SELECT 'rrf', q.qid, coalesce(nf.dcg, 0) FROM qs q LEFT JOIN nf ON nf.qid = q.qid), nd AS (SELECT u.system, u.dcg * 10000 // greatest(i.idcg_micro, 1) AS ndcg_bp FROM u JOIN idcg i USING (qid)) SELECT system, CAST(count(*) AS BIGINT) AS n_queries, CAST(sum(ndcg_bp) // count(*) AS BIGINT) AS mean_ndcg_bp FROM nd GROUP BY 1 ORDER BY 1"""
      },
      "E3/E4/M5 capstone: vector vs lexical vs RRF retrieval bake-off, one relevance model, one shared ideal — end-to-end oracled"))
}

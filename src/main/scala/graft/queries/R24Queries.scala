package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.ops.HashOps.{md5Long, md5LongSql}

/** Round-6 widening, tenth batch: feature-engineering / classical-ML
  * infra, fully oracle-checked END-TO-END — a complete multinomial
  * Naive Bayes cycle (train on half the corpus, score the other half,
  * emit the confusion matrix: the entire algorithm as ONE declarative
  * plan, something the MLlib layer can only property-test), a
  * feature-hashing collision audit (the portability/collision story
  * behind HashingTF made measurable), and leakage-safe leave-one-out
  * target encoding (the categorical-encoding standard for GBDT
  * pipelines).
  *
  * Determinism: every ln() is quantized to a micro grid ONCE per
  * distinct (class, token) — the q256 bigram-LM convention — after
  * which scoring is exact BIGINT dot products; argmax ties break by
  * class name; LOO encodes are integer cent divisions.
  */
object R24Queries {

  val specs: Seq[QuerySpec] = Seq(

    // q296 — NAIVE BAYES, TRAIN→PREDICT→CONFUSION in one plan: train
    // multinomial NB with add-1 smoothing on even-id documents
    // (features = tokens, classes = lang), score odd-id documents, and
    // report the lang×predicted confusion matrix. The model IS a
    // table: (class, token) → floor(1e6·ln((tf+1)/(tot_c+V))) built
    // from the train-vocab × class grid (every vocab token carries all
    // |lang| rows, so a test token is either fully in-model or fully
    // OOV — per-class matched counts stay equal and the OOV mass
    // collapses to one per-class constant). Scoring is a keyed join of
    // test-token rows against the model + one integer dot product per
    // (doc, class); argmax by (score, class) total order. At 100 TB
    // the model table is |vocab|·|classes| rows — broadcast-sized for
    // any real vocabulary — and scoring is the map-side join every NB
    // serving layer runs.
    QuerySpec(
      "q296_naive_bayes",
      (s, d) => {
        val toks = graft.ops.TextOps.tokens(col("text"))
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), explode(toks).as("tk"))
        val train = docs.where(col("doc_id") % 2 === 0)
        val test = docs.where(col("doc_id") % 2 === 1)
        // classes derive from the TOKENIZED train frame (not the raw
        // documents table) so Spark and the oracle count the exact same
        // population: a NULL-text training doc yields no token rows in
        // either engine and is excluded from priors by construction.
        val classes = train
          .groupBy(col("lang").as("c")).agg(countDistinct("doc_id").as("n_docs"))
        val tf = train.groupBy(col("lang").as("c"), col("tk"))
          .agg(count(lit(1)).as("tf"))
        val totc = tf.groupBy("c").agg(sum("tf").as("tot"))
        val vocab = train.select("tk").distinct()
        val vSize = vocab.agg(count(lit(1)).as("v"))
        val grid = vocab.crossJoin(broadcast(classes.select("c")))
          .join(tf, Seq("c", "tk"), "left")
          .join(broadcast(totc), Seq("c"))
          .crossJoin(broadcast(vSize))
          .select(col("c"), col("tk"),
            floor(log((coalesce(col("tf"), lit(0L)) + 1L).cast("double") /
              (col("tot") + col("v")).cast("double")) * 1e6).cast("long")
              .as("lnw_micro"))
        val oov = totc.crossJoin(broadcast(vSize))
          .select(col("c"),
            floor(log(lit(1.0) / (col("tot") + col("v")).cast("double")) * 1e6)
              .cast("long").as("oov_micro"))
        val nTrain = classes.agg(sum("n_docs").as("nt"))
        val prior = classes.crossJoin(broadcast(nTrain))
          .select(col("c"),
            floor(log(col("n_docs").cast("double") / col("nt").cast("double")) * 1e6)
              .cast("long").as("prior_micro"))
        // per (test doc, token): occurrence count; join the model once,
        // fanning each matched token to its |classes| rows
        val dt = test.groupBy(col("doc_id"), col("lang"), col("tk"))
          .agg(count(lit(1)).as("cnt"))
        val matched = dt.join(grid, Seq("tk"))
          .groupBy(col("doc_id"), col("lang"), col("c"))
          .agg(sum(col("cnt") * col("lnw_micro")).as("m_score"),
            sum("cnt").as("m_cnt"))
        val totTok = dt.groupBy("doc_id").agg(sum("cnt").as("t_cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("c"))
        val scoredDocs = matched
          .join(totTok, Seq("doc_id"))
          .join(broadcast(oov), Seq("c"))
          .join(broadcast(prior), Seq("c"))
          .select(col("doc_id"), col("lang"), col("c"),
            (col("prior_micro") + col("m_score") +
              (col("t_cnt") - col("m_cnt")) * col("oov_micro")).as("score"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
        scoredDocs.groupBy(col("lang"), col("c").as("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred")
      },
      Some("""WITH docs AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tk FROM documents), train AS (SELECT * FROM docs WHERE doc_id % 2 = 0), test AS (SELECT * FROM docs WHERE doc_id % 2 = 1), classes AS (SELECT lang AS c, count(DISTINCT doc_id) AS n_docs FROM train GROUP BY 1), tf AS (SELECT lang AS c, tk, count(*) AS tf FROM train GROUP BY 1, 2), totc AS (SELECT c, sum(tf) AS tot FROM tf GROUP BY 1), vocab AS (SELECT DISTINCT tk FROM train), vs AS (SELECT count(*) AS v FROM vocab), grid AS (SELECT cl.c, vo.tk, CAST(floor(ln(CAST(coalesce(tf.tf, 0) + 1 AS DOUBLE) / CAST(tc.tot + vs.v AS DOUBLE)) * 1e6) AS BIGINT) AS lnw_micro FROM vocab vo CROSS JOIN (SELECT c FROM classes) cl LEFT JOIN tf ON tf.c = cl.c AND tf.tk = vo.tk JOIN totc tc ON tc.c = cl.c CROSS JOIN vs), oov AS (SELECT c, CAST(floor(ln(1.0 / CAST(tot + v AS DOUBLE)) * 1e6) AS BIGINT) AS oov_micro FROM totc, vs), nt AS (SELECT sum(n_docs) AS nt FROM classes), prior AS (SELECT c, CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(nt AS DOUBLE)) * 1e6) AS BIGINT) AS prior_micro FROM classes, nt), dt AS (SELECT doc_id, lang, tk, count(*) AS cnt FROM test GROUP BY 1, 2, 3), matched AS (SELECT dt.doc_id, dt.lang, g.c, sum(dt.cnt * g.lnw_micro) AS m_score, sum(dt.cnt) AS m_cnt FROM dt JOIN grid g ON g.tk = dt.tk GROUP BY 1, 2, 3), tt AS (SELECT doc_id, sum(cnt) AS t_cnt FROM dt GROUP BY 1), sc AS (SELECT m.doc_id, m.lang, m.c, prior_micro + m_score + (tt.t_cnt - m.m_cnt) * oov_micro AS score FROM matched m JOIN tt ON tt.doc_id = m.doc_id JOIN oov ON oov.c = m.c JOIN prior p ON p.c = m.c), best AS (SELECT doc_id, lang, c AS pred FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c) AS rn FROM sc) z WHERE rn = 1) SELECT lang, pred, CAST(count(*) AS BIGINT) AS n FROM best GROUP BY 1, 2 ORDER BY 1, 2"""),
      "M2-M5/E4 ext: Naive Bayes train->predict->confusion as one declarative plan — micro-grid log weights, integer scoring"),

    // q297 — FEATURE-HASHING COLLISION AUDIT: hash the training vocab
    // into 1024 buckets (the HashingTF shape, replayed portably via
    // md5) and measure what collisions cost: how many buckets hold ≥2
    // distinct tokens, the worst bucket, and the share of token MASS
    // sitting in collided buckets (mass is what the model actually
    // sees — a collision between two rare tokens is noise, between
    // two frequent ones is signal loss). One vocab-sized aggregation;
    // the audit any team runs before choosing numFeatures.
    QuerySpec(
      "q297_feature_hash_audit",
      (s, d) => {
        val tok = t(s, d, "documents")
          .select(explode(graft.ops.TextOps.tokens(col("text"))).as("tk"))
          .groupBy("tk").agg(count(lit(1)).as("tf"))
          .withColumn("bucket",
            md5Long(col("tk"), 15) % 1024L)
        val b = tok.groupBy("bucket")
          .agg(count(lit(1)).as("n_tokens"), sum("tf").as("mass"))
        b.agg(count(lit(1)).as("n_buckets_used"),
          sum(when(col("n_tokens") >= 2, 1L).otherwise(0L)).as("n_collided"),
          max("n_tokens").as("max_tokens_in_bucket"),
          sum("n_tokens").as("vocab_size"),
          sum(when(col("n_tokens") >= 2, col("mass")).otherwise(0L))
            .as("collided_mass"), sum("mass").as("total_mass"))
          .withColumn("collided_mass_bp",
            expr("collided_mass * 10000 div total_mass"))
          .select("vocab_size", "n_buckets_used", "n_collided",
            "max_tokens_in_bucket", "collided_mass_bp")
      },
      Some(s"""WITH tok AS (SELECT tk, count(*) AS tf FROM (SELECT unnest(string_split(lower(text), ' ')) AS tk FROM documents) GROUP BY 1), h AS (SELECT tk, tf, ${md5LongSql("tk", 15)} % 1024 AS bucket FROM tok), b AS (SELECT bucket, count(*) AS n_tokens, sum(tf) AS mass FROM h GROUP BY 1) SELECT CAST(sum(n_tokens) AS BIGINT) AS vocab_size, CAST(count(*) AS BIGINT) AS n_buckets_used, CAST(sum(CASE WHEN n_tokens >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_collided, CAST(max(n_tokens) AS BIGINT) AS max_tokens_in_bucket, CAST(sum(CASE WHEN n_tokens >= 2 THEN mass ELSE 0 END) * 10000 // sum(mass) AS BIGINT) AS collided_mass_bp FROM b"""),
      "T3/E4 ext: feature-hash collision audit — bucket occupancy + collided token-mass share"),

    // q298 — LEAVE-ONE-OUT TARGET ENCODING of customer market segment
    // against order value: encode(row) = (Σ_segment − own) / (n − 1) —
    // the leakage-safe categorical encoding (plain mean encoding leaks
    // each row's own target; LOO is the standard fix, and the
    // difference IS the point, so both are emitted with their gap).
    // Per-segment sums broadcast (|segments| rows); the encode itself
    // is a stateless map over the joined fact rows — no window, no
    // second shuffle. Exact integer cents; output aggregated back to
    // per-segment audit form (min/max/avg of the LOO encodes) so the
    // result stays bounded while still pinning the row-level formula
    // (min≠max proves the own-row subtraction varies within segment).
    QuerySpec(
      "q298_target_encoding",
      (s, d) => {
        val rows = t(s, d, "orders")
          .join(t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"),
            floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("yc"))
        val seg = rows.groupBy("segment")
          .agg(sum("yc").as("sy"), count(lit(1)).as("n"))
        rows.join(broadcast(seg), Seq("segment"))
          .withColumn("loo_c4",
            expr("(sy - yc) * 10000 div (n - 1)"))
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_rows"),
            expr("sum(sy) div count(1) * 10000 div max(n)").as("mean_enc_c4"),
            min("loo_c4").as("loo_min_c4"), max("loo_c4").as("loo_max_c4"),
            expr("sum(loo_c4) div count(1)").as("loo_avg_c4"))
          .orderBy("segment")
      },
      Some("""WITH rows_ AS (SELECT c_mktsegment AS segment, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS yc FROM orders JOIN customer ON o_custkey = c_custkey), seg AS (SELECT segment, sum(yc) AS sy, count(*) AS n FROM rows_ GROUP BY 1), enc AS (SELECT r.segment, (s.sy - r.yc) * 10000 // (s.n - 1) AS loo_c4, s.sy, s.n FROM rows_ r JOIN seg s USING (segment)) SELECT segment, CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(sy) // count(*) * 10000 // max(n) AS BIGINT) AS mean_enc_c4, CAST(min(loo_c4) AS BIGINT) AS loo_min_c4, CAST(max(loo_c4) AS BIGINT) AS loo_max_c4, CAST(sum(loo_c4) // count(*) AS BIGINT) AS loo_avg_c4 FROM enc GROUP BY 1 ORDER BY 1"""),
      "T/A ext: leave-one-out target encoding — broadcast segment stats, stateless map encode, leakage gap pinned"))
}

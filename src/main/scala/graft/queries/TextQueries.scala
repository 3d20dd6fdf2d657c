package graft.queries

import graft.{QuerySpec, Tables}
import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checkable text/feature operators (SURVEY.md §2.10 b-variants):
  * the deterministic pure-DataFrame re-expressions of the reference's
  * MLlib transformers. The MLlib a-variants live in graft.ml.
  */
object TextQueries {

  /** T5b — StringIndexer as a window: index by count desc, ties broken by
    * label asc (reference semantics, SURVEY.md §2.4 A8). The unpartitioned
    * window is safe: it runs over the label dictionary (small by
    * definition), not the data.
    */
  private def langIndex(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("cnt").desc, col("lang").asc)
    t(s, d, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("idx", (row_number().over(w) - 1).cast("long"))
  }

  val specs: Seq[QuerySpec] = Seq(

    // q25 — StringIndexer fit (T5b): label → frequency-desc index.
    QuerySpec(
      "q25_string_indexer",
      (s, d) => langIndex(s, d).select("lang", "cnt", "idx").orderBy("idx"),
      Some("""SELECT lang, count(*) AS cnt, CAST(row_number() OVER (ORDER BY count(*) DESC, lang) - 1 AS BIGINT) AS idx FROM documents GROUP BY lang ORDER BY idx"""),
      "T5b: StringIndexer as row_number window over label counts"),

    // q26 — StringIndexer transform + IndexToString inverse (T5b/T6b):
    // broadcast the tiny label map back onto the data.
    QuerySpec(
      "q26_index_to_string",
      (s, d) => {
        t(s, d, "documents")
          .join(broadcast(langIndex(s, d).select("lang", "idx")), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("idx").as("lang_idx"))
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT lang, CAST(row_number() OVER (ORDER BY count(*) DESC, lang) - 1 AS BIGINT) AS idx FROM documents GROUP BY lang) SELECT doc_id, d.lang AS lang, m.idx AS lang_idx FROM documents d JOIN m ON d.lang = m.lang ORDER BY doc_id"""),
      "T5b/T6b: label-index transform via broadcast join"),

    // q27 — Tokenizer (T1b).
    QuerySpec(
      "q27_tokenize",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        t(s, d, "documents")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tok"),
            array_join(slice(toks, 1, 5), " ").as("head5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok, array_to_string(string_split(lower(text), ' ')[1:5], ' ') AS head5 FROM documents ORDER BY doc_id"""),
      "T1b: lowercase + whitespace tokenizer"),

    // q28 — StopWordsRemover (T2b): order- and duplicate-preserving.
    QuerySpec(
      "q28_stopwords",
      (s, d) => {
        val toks = TextOps.tokens(col("text"))
        val kept = TextOps.removeStopwords(toks, TextOps.defaultStopwords)
        t(s, d, "documents")
          .select(
            col("doc_id"),
            size(toks).cast("long").as("n_tok"),
            size(kept).cast("long").as("n_kept"),
            array_join(slice(kept, 1, 5), " ").as("kept_head5"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok, CAST(len(list_filter(string_split(lower(text), ' '), tk -> NOT list_contains(${TextOps.defaultStopwords.mkString("['", "', '", "']")}, tk))) AS BIGINT) AS n_kept, array_to_string(list_filter(string_split(lower(text), ' '), tk -> NOT list_contains(${TextOps.defaultStopwords.mkString("['", "', '", "']")}, tk))[1:5], ' ') AS kept_head5 FROM documents ORDER BY doc_id"""),
      "T2b: stopword removal preserving duplicates/order"),

    // q29 — exact term frequency (T3b): the portable alternative to
    // HashingTF (MurmurHash dims don't replicate in an oracle). One
    // explode + one hash-agg shuffle keyed (doc_id, term).
    QuerySpec(
      "q29_term_freq",
      (s, d) => ScaleQueries.termFreq(s, d).orderBy("doc_id", "term"),
      Some("""SELECT doc_id, term, count(*) AS tf FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents) GROUP BY doc_id, term ORDER BY doc_id, term"""),
      "T3b: exact TF via explode + count"),

    // q30 — exact TF-IDF (T4b): idf = ln((N+1)/(df+1)), the MLlib IDF
    // formula (reference TfIdfCalculator.java:85-94). The vocabulary and
    // the corpus count are broadcast — the only big shuffle is the TF agg.
    QuerySpec(
      "q30_tfidf",
      (s, d) => {
        val docs = t(s, d, "documents")
        val tf = ScaleQueries.termFreq(s, d)
        // df(t) = #docs containing t — one row per (doc, term) in tf
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n"))
        tf.join(broadcast(dfreq), Seq("term"))
          .crossJoin(broadcast(n))
          .select(
            col("doc_id"), col("term"), col("tf"), col("df"),
            round(col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 6).as("tfidf"))
          .orderBy("doc_id", "term")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents), tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1), nn AS (SELECT count(*) AS n FROM documents) SELECT doc_id, tf.term AS term, tf, df, round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS tfidf FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nn ORDER BY doc_id, term"""),
      "T4b: exact TF-IDF with the MLlib idf formula"),

    // q31 — Normalizer p=1 (T8b) over embeddings: L1 norm + first
    // component scaled to unit L1.
    QuerySpec(
      "q31_l1_normalize",
      (s, d) => {
        val l1 = graft.ops.VectorOps.l1norm(col("embedding"))
        t(s, d, "embeddings")
          .select(
            col("vec_id"),
            round(l1, 5).as("l1"),
            round(element_at(col("embedding"), 1).cast("double") / l1, 6).as("e1_norm"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, round(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 5) AS l1, round(CAST(embedding[1] AS DOUBLE) / list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6) AS e1_norm FROM embeddings ORDER BY vec_id"""),
      "T8b: L1 normalizer over array<float>"),

    // q32 — Bucketizer (T9b) on customer balances, mirroring the
    // reference's explicit-splits age bucketing (DataCorrelator.java:41-49;
    // left-closed buckets).
    QuerySpec(
      "q32_bucketize_acctbal",
      (s, d) => {
        t(s, d, "customer")
          .withColumn("bal_bucket",
            when(col("c_acctbal") < 0, 0L).when(col("c_acctbal") < 2500, 1L)
              .when(col("c_acctbal") < 5000, 2L).when(col("c_acctbal") < 7500, 3L)
              .otherwise(4L))
          .groupBy("bal_bucket")
          .agg(
            count(lit(1)).as("cnt"),
            round(avg("c_acctbal"), 4).as("avg_bal"),
            min("c_acctbal").as("min_bal"),
            max("c_acctbal").as("max_bal"))
          .orderBy("bal_bucket")
      },
      Some("""SELECT CAST(CASE WHEN c_acctbal < 0 THEN 0 WHEN c_acctbal < 2500 THEN 1 WHEN c_acctbal < 5000 THEN 2 WHEN c_acctbal < 7500 THEN 3 ELSE 4 END AS BIGINT) AS bal_bucket, count(*) AS cnt, round(avg(c_acctbal), 4) AS avg_bal, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal FROM customer GROUP BY 1 ORDER BY bal_bucket"""),
      "T9b: explicit-splits bucketizer, left-closed"))
}

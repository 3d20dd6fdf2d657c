package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-processing column builders: the deterministic, oracle-checkable
  * re-expressions of the reference's MLlib text transformers
  * (reference: TfIdfCalculator.java:49-94, SpamClassification.java:65-83)
  * plus the shingling primitives the dedup extensions build on.
  *
  * All pure `Column => Column` built-in-function compositions: they stay
  * inside whole-stage codegen and are SQL-portable for the DuckDB oracle.
  */
object TextOps {

  /** Lowercase + whitespace split — semantics of ml.feature.Tokenizer
    * (reference: TfIdfCalculator.java:49-52). Testdata text is
    * single-space separated, so a literal-space split matches DuckDB's
    * string_split exactly.
    */
  def tokens(text: Column): Column = split(lower(text), " ")

  /** Small default stopword set (subset of the published English list used
    * by ml.feature.StopWordsRemover — reference: TfIdfCalculator.java:56-59).
    */
  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  /** Remove stopwords, preserving duplicates and order (StopWordsRemover
    * semantics — NOT array_except, which dedups).
    */
  def removeStopwords(toks: Column, stop: Seq[String]): Column = {
    val stopArr = array(stop.map(lit): _*)
    filter(toks, t => !array_contains(stopArr, t))
  }

  /** n-word shingles of a token array, e.g. n=3 word trigrams. Guarded so
    * short docs yield an empty array (Spark's `sequence(1,0)` would count
    * DOWN, not produce empty).
    */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      // one slice+join per shingle: higher-order lambdas run interpreted,
      // so a 2-node lambda body beats the n-element_at concat by ~n×
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Count of tokens that appear in `marker` (duplicates counted — this is
    * an occurrence count, not set intersection).
    */
  def markerHits(toks: Column, marker: Seq[String]): Column = {
    val arr = array(marker.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t))).cast("long")
  }

  /** Sliding-window CHUNK projection (q170's math, shared with the
    * streaming chunker so batch and stream can never drift): tokenize
    * `textCol`, emit 1 + ceil(max(0, n−window)/step) chunks per row —
    * chunk_idx, n_tok, and the md5 of the joined token window. Chunking
    * STOPS at the first window reaching the document end, so no trailing
    * chunk is a subset of its predecessor (PropertySpec pins coverage +
    * no-subset). Pure per-row array math: no shuffle, no state.
    *
    * @param df        input rows
    * @param textCol   text column name
    * @param carryCols columns to carry through unchanged (e.g. doc_id, ts)
    */
  def slidingChunks(df: org.apache.spark.sql.DataFrame, textCol: String,
      carryCols: Seq[String], window: Int = 40, step: Int = 30)
      : org.apache.spark.sql.DataFrame = {
    val carry = carryCols.map(col)
    df.select(carry :+ tokens(col(textCol)).as("tk"): _*)
      .withColumn("n", size(col("tk")))
      .withColumn("k", explode(sequence(lit(0),
        ceil(greatest(col("n") - window, lit(0)) / lit(step * 1.0)).cast("int"))))
      .withColumn("p", col("k") * step + 1)
      .select(carry :+ col("k").cast("long").as("chunk_idx") :+
        least(lit(window), col("n") - col("p") + 1).cast("long").as("n_tok") :+
        md5(array_join(slice(col("tk"), col("p"), lit(window)), " ")).as("chunk_md5"): _*)
  }
}

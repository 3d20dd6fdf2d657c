package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{BpeOps, TextOps}
import graft.queries.R33Queries

/** `BpeOps.learn` runs every merge step in one task and must equal the
  * unrolled DataFrame chain it replaced (one pairs → argmax → cross-joined
  * replace per step), kept here as the reference: on the sf0.001 word
  * table, and on crafted tables for each property the trainer takes from
  * Spark's `UTF8String` (UTF-8 tie order, spaces-only trim, literal
  * non-overlapping replace) and for the degenerate step with no pair.
  */
class BpeSpec extends SparkSpecBase {
  import spark.implicits._
  import BpeSpec._

  private def words: DataFrame = Tables.load(spark, sf001, "documents")
    .select(explode(TextOps.tokens(col("text"))).as("w"))
    .groupBy("w").agg(count(lit(1)).as("cnt"))
    .orderBy(col("cnt").desc, col("w")).limit(100)
    .select(spaced(col("w")).as("sym"), col("cnt"))

  private def rows(df: DataFrame): Seq[(Long, Long, String, Long)] =
    df.as[(Long, Long, String, Long)].collect().toSeq

  /** `learn` and the reference agree, in order; returns learn's rows. */
  private def agree(w: DataFrame, merges: Int, rest: Int): Seq[(Long, Long, String, Long)] = {
    val got = rows(BpeOps.learn(w, merges, rest))
    assert(got == rows(reference(w, merges, rest)), s"($merges, $rest)")
    got
  }

  private def table(ws: (String, Long)*): DataFrame = ws.toDF("sym", "cnt")

  test("learn equals the unrolled chain on the sf0.001 word table, whatever the input order") {
    val two = agree(words, 2, 5)
    assert(two.map(r => (r._1, r._2)) ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (3L, 2L), (3L, 3L), (3L, 4L), (3L, 5L)))
    assert(agree(words, 6, 0).map(_._1) == (1L to 6L))
    assert(rows(BpeOps.learn(words.repartition(3), 2, 5)) == two)
  }

  test("bpeEncoded equals the unrolled encoding at sf0.001") {
    val got = R33Queries.bpeEncoded(spark, sf001)
    val want = referenceEncoded(words, Tables.load(spark, sf001, "documents"))
    assert(got.columns.toSeq == Seq("w", "lang", "cnt", "n_tok"))
    def sorted(df: DataFrame) =
      df.select("lang", "w", "cnt", "n_tok").as[(String, String, Long, Long)].collect().sorted.toSeq
    val g = sorted(got)
    assert(g.nonEmpty && g == sorted(want))
    assert(g.exists { case (_, w, _, nTok) => nTok < w.length }, "no word was merged")
  }

  test("weight ties break by pair in UTF-8 byte order, not UTF-16 order") {
    val (halfwidth, script) = ("x ｱ", "x 𝒜") // U+FF71, U+1D49C
    assert(script.compareTo(halfwidth) < 0, "java.lang.String orders UTF-16 code units")
    val got = agree(table(s" $script " -> 3L, s" $halfwidth " -> 3L), 1, 5)
    assert(got == Seq((1L, 1L, halfwidth, 3L), (2L, 1L, script, 3L)))
  }

  test("a merge is a literal left-to-right non-overlapping replace") {
    // ' a a ' → ' aa ' over ' a a a a ' shares a boundary: ' aa a a '
    val got = agree(table(" a a a a " -> 1L), 2, 5)
    assert(got == Seq((1L, 1L, "a a", 3L), (2L, 1L, "a a", 1L), (3L, 1L, "aa aa", 1L)))
    agree(table(" a . b " -> 2L, " a .b " -> 1L, " * a " -> 2L), 3, 5)
  }

  test("a step with no pair ends the output: later steps and the ranking emit nothing") {
    assert(agree(table(" a b " -> 2L, " c " -> 5L), 2, 5) == Seq((1L, 1L, "a b", 2L)))
    assert(agree(table(" c " -> 5L), 1, 5).isEmpty)
    assert(agree(table(), 2, 5).isEmpty)
  }

  test("empty, one-character and null symbols hold no pair; trim removes spaces only") {
    val w = table("  " -> 7L, " a " -> 4L, (null: String) -> 9L, " q r\t " -> 2L,
      " x  y " -> 3L, " x y " -> 1L)
    val ranked = agree(w, 0, 10)
    assert(ranked.map(r => r._3 -> r._4).toMap ==
      Map(" y" -> 3L, "x " -> 3L, "q r\t" -> 2L, "x y" -> 1L))
    agree(w, 2, 5)
  }

  test("constructing q292 launches no Spark job and makes no checkpoint") {
    Tables.load(spark, sf001, "documents")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val (_, jobs) = jobsOf(SparkEntry.queries("q292_bpe_merge")(spark, sf001))
    assert(jobs == 0, s"construction launched $jobs jobs")
    assert(sc.getPersistentRDDs.size == before, "construction made a checkpoint")
  }
}

object BpeSpec {

  def spaced(c: Column): Column = concat(lit(" "), trim(regexp_replace(c, "(.)", "$1 ")), lit(" "))

  private def pairs(df: DataFrame): DataFrame = df
    .select(col("cnt"), split(trim(col("sym")), " ").as("arr"))
    .where(size(col("arr")) >= 2)
    .select(col("cnt"), explode(expr(
      "transform(sequence(1, size(arr) - 1), i -> concat_ws(' ', arr[i - 1], arr[i]))"))
      .as("pair"))
    .groupBy("pair").agg(sum("cnt").as("weight"))

  private def top1(df: DataFrame): DataFrame = df
    .orderBy(col("weight").desc, col("pair")).limit(1)

  private def applyMerge(df: DataFrame, m: DataFrame): DataFrame = df
    .crossJoin(broadcast(m.select(col("pair").as("mp"))))
    .withColumn("sym",
      expr("replace(sym, concat(' ', mp, ' '), concat(' ', replace(mp, ' ', ''), ' '))"))
    .drop("mp")

  /** The merges learned by the unrolled chain, one checkpointed argmax per
    * step, and the table they leave. */
  private def unrolled(words: DataFrame, merges: Int): (Seq[DataFrame], DataFrame) =
    (1 to merges).foldLeft((Seq.empty[DataFrame], words)) { case ((ms, w), _) =>
      val m = top1(pairs(w)).localCheckpoint(false)
      (ms :+ m, applyMerge(w, m))
    }

  /** q292's former chain, for any number of merges and ranked pairs. */
  def reference(words: DataFrame, merges: Int, rest: Int): DataFrame = {
    val (ms, w) = unrolled(words, merges)
    val steps = ms.zipWithIndex.map { case (m, i) => (m, i + 1L) } :+
      (pairs(w).orderBy(col("weight").desc, col("pair")).limit(rest), merges + 1L)
    steps.map { case (df, step) => df.select(lit(step).as("step"), col("pair"), col("weight")) }
      .reduce(_ unionByName _)
      .withColumn("rank", row_number().over(
        Window.partitionBy("step").orderBy(col("weight").desc, col("pair"))).cast("long"))
      .select("step", "rank", "pair", "weight")
      .orderBy("step", "rank")
  }

  /** bpeEncoded's former six-merge chain over the distinct vocabulary. */
  def referenceEncoded(top: DataFrame, docs: DataFrame): DataFrame = {
    val (ms, _) = unrolled(top, 6)
    val lw = docs.select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
    val vocab = ms.foldLeft(
      lw.select("w").distinct().select(col("w"), spaced(col("w")).as("sym")))(applyMerge)
    lw.join(vocab.select(col("w"),
      size(split(trim(col("sym")), " ")).cast("long").as("n_tok")), "w")
  }
}

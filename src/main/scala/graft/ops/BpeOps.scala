package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** BPE merge learning over a bounded word table of spaced symbols (`sym`,
  * e.g. `" l o w "`) with integer weights (`cnt`), all steps in one task.
  * A step merges the adjacent pair of highest summed weight (ties: lower
  * pair) by the padded literal replace `' a b '` → `' ab '`, left to
  * right; a match consumes its boundary space, so `' a a a a '` becomes
  * `' aa a a '`, not `' aa aa '`.
  *
  * The steps call `UTF8String`'s `trim`, `split`, `concatWs`, `replace`
  * and `compareTo`, the functions behind SQL `trim`, `split`, `concat_ws`,
  * `replace` and string order, so they agree with the DataFrame and DuckDB
  * chains by construction. `java.lang.String` would not: its `trim` also
  * strips tabs, its `split` drops trailing empty strings, and its
  * `compareTo` orders UTF-16 units (U+1D49C before U+FF71; UTF-8 after).
  */
object BpeOps {

  private val Space = UTF8String.fromString(" ")
  private val WordEnc = Encoders.product[(String, Long)]
  private val StepEnc = Encoders.product[(Long, Long, String, Long)]

  /** The symbols of word `w`, spaced and padded: `"low"` → `" l o w "`. */
  def spaced(w: Column): Column = concat(lit(" "), trim(regexp_replace(w, "(.)", "$1 ")), lit(" "))

  /** The 100 most frequent words of `docs`' text (ties by word) as `(sym, cnt)`. */
  def topWords(docs: DataFrame): DataFrame = docs
    .select(explode(TextOps.tokens(col("text"))).as("w"))
    .groupBy("w").agg(count(lit(1)).as("cnt"))
    .orderBy(col("cnt").desc, col("w")).limit(100)
    .select(spaced(col("w")).as("sym"), col("cnt"))

  /** `(step, rank, pair, weight)`, in order: each step's merged pair (rank
    * 1, steps `1..merges`), then the `rest` best pairs left (step
    * `merges + 1`). Nothing follows a step with no pair, a null `sym` has
    * no pair, and the order of `words` does not matter. */
  def learn(words: DataFrame, merges: Int, rest: Int): DataFrame =
    words.select(col("sym"), col("cnt")).as(WordEnc).coalesce(1)
      .mapPartitions { rows =>
        val table = rows.collect { case (sym, cnt) if sym != null => (UTF8String.fromString(sym), cnt) }
        steps(table.toVector, 1, merges, rest).iterator
      }(StepEnc)
      .toDF("step", "rank", "pair", "weight")

  private def steps(table: Vector[(UTF8String, Long)], step: Int, merges: Int,
      rest: Int): List[(Long, Long, String, Long)] = {
    val ranked = pairs(table)
    if (step > merges)
      ranked.take(rest).zipWithIndex.map { case ((p, w), i) => (step.toLong, i + 1L, p.toString, w) }.toList
    else ranked.headOption.toList.flatMap { case (pair, weight) =>
      val from = UTF8String.concat(Space, pair, Space)
      val to = UTF8String.concat(Space, pair.replace(Space, UTF8String.EMPTY_UTF8), Space)
      (step.toLong, 1L, pair.toString, weight) ::
        steps(table.map { case (sym, cnt) => (sym.replace(from, to), cnt) }, step + 1, merges, rest)
    }
  }

  /** Every adjacent pair with its summed weight, best first. */
  private def pairs(table: Vector[(UTF8String, Long)]): Seq[(UTF8String, Long)] =
    table.flatMap { case (sym, cnt) =>
      val arr = sym.trim().split(Space, -1)
      (1 until arr.length).map(i => UTF8String.concatWs(Space, arr(i - 1), arr(i)) -> cnt)
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .sortWith { case ((p, w), (q, v)) => w > v || (w == v && p.compareTo(q) < 0) }
}

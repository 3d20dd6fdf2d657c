package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** Column constructors for the native expressions. Queries build them
  * directly, so they run on any session without touching its function
  * registry; the SQL names (`cosine_sim`, `jaro_winkler`,
  * `bitmap_distinct`) come from [[GraftExtensions]], which `graft.Session`
  * installs on every session it builds.
  */
package object functions {
  /** Fused cosine similarity of two `array<float>` columns ([[CosineSimilarity]]). */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Jaro-Winkler similarity of two string columns ([[JaroWinklerSimilarity]]). */
  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinklerSimilarity(expression(a), expression(b)))

  /** Exact distinct count of a non-negative integral key ([[BitmapDistinct]]). */
  def bitmapDistinct(key: Column): Column =
    column(BitmapDistinct(expression(key)).toAggregateExpression())
}

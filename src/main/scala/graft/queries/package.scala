package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.floor

package object queries {
  /** `Tables.load`, under the short name every query file reads tables by. */
  private[queries] def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)

  /** Floor-to-cents quantizer: identical per-row double math in both
    * engines, and BIGINT cent sums are exact under any aggregation order
    * — the house answer to float-sum nondeterminism on money columns.
    */
  private[queries] def cents(c: Column): Column = floor(c * 100.0 + 0.5).cast("long")
}

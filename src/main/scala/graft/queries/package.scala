package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** `Tables.load`, under the short name every query file reads tables by. */
  private[queries] def t(s: SparkSession, d: String, n: String): DataFrame = Tables.load(s, d, n)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One harness-registered query: a Spark implementation plus (usually) a
  * DuckDB-dialect oracle SQL string the driver checks it against at sf0.01.
  *
  * Determinism rules (see SURVEY.md §5.2): every query ends in a total
  * `orderBy`, floating aggregates are rounded, integer outputs are cast to
  * BIGINT on both sides, and no raw timestamp columns are emitted (epoch
  * seconds instead) so the Spark-parquet vs DuckDB value compare is exact.
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    doc: String = "")

object Tables {
  /** All driver tables are single parquet files under the sf dir (TESTDATA.md). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else spark.read.parquet(s"$sfDir/$name.parquet")

  /** events.ts has shipped as TIMESTAMP(NANOS) (earlier testdata drops) and
    * as plain TIMESTAMP micros (current drop). Adapt on the read schema:
    * nanos arrive as long under `nanosAsLong` (set by graft.Session, not
    * here: a table read writes no session state) and need exact integer
    * division (`div`, not `/` — the nano count overflows double precision);
    * micros arrive as TIMESTAMP_NTZ and only need the NTZ→LTZ cast, which
    * is wall-clock-identity under the UTC session timezone every entry
    * point sets. DuckDB oracles mirror both with CAST(ts AS TIMESTAMP).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }
}

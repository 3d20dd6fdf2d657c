package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, lit, md5, pmod, substring}

/** The portable integer hash, as Spark/DuckDB twins: the first
  * `hexDigits` hex digits of md5, read as a BIGINT. Queries that model a
  * hash partitioner, a sketch or a sample use it because DuckDB can
  * replay md5 bit for bit, and cannot replay Spark's Murmur3 or
  * xxhash64. Each Column function here renders the same value as its
  * `…Sql` twin in the oracle. With at most 15 digits (60 bits) the hash
  * is never negative, so `%` and `pmod` agree on it. A null input gives
  * null in Spark, but the SQL twin fails on it (DuckDB's concat skips the
  * null and `CAST('0x' AS BIGINT)` is an error), so oracles hash non-null
  * keys only.
  */
object HashOps {

  def md5Long(c: Column, hexDigits: Int): Column =
    conv(substring(md5(c), 1, hexDigits), 16, 10).cast("long")

  def md5LongSql(e: String, hexDigits: Int): String =
    s"CAST(concat('0x', substr(md5($e), 1, $hexDigits)) AS BIGINT)"

  /** The 10-digit (40-bit) hash mod `buckets`. */
  def md5Bucket(c: Column, buckets: Int): Column =
    pmod(md5Long(c, 10), lit(buckets.toLong))

  def md5BucketSql(e: String, buckets: Int): String =
    s"${md5LongSql(e, 10)} % $buckets"
}

package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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

/** Every query's table reads. A parquet read infers its schema with a
  * Spark job (`mergeSchemasInParallel`), and at sf0.1 that fixed cost was
  * most of a warm read, so the schema is inferred once per file identity
  * and later reads pass it to `spark.read.schema(…)`, which runs no job.
  *
  * The memo's key is everything inference reads: the qualified path, the
  * (path, length, modification time) of every file under it (one driver
  * table file, or a Spark-written directory rewritten in place: new part
  * files, new lengths and times), and the session confs that change an
  * inferred type. A hit costs one driver-side listing. The memo holds one
  * entry per path, so a rewrite replaces it rather than adding one.
  *
  * Each call still builds a fresh relation, never a shared DataFrame:
  * fresh attribute ids are what let a self-join of two reads of one table,
  * `a("k") === b("k")`, resolve.
  */
object Tables {
  /** All driver tables are single parquet files under the sf dir (TESTDATA.md). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else read(spark, s"$sfDir/$name.parquet")

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
    val raw = read(spark, s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }

  /** Session confs that change the schema parquet inference gives a file. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Files under a path as (path, length, modification time), and the
    * values of [[inferenceConfs]]. */
  private final case class Identity(files: Seq[(String, Long, Long)], confs: Seq[String])

  /** Qualified path → the identity its schema was inferred under, and that schema. */
  private val schemas = TrieMap.empty[String, (Identity, StructType)]

  /** `spark.read.parquet(path)`, inferring the schema only on a memo miss. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val id = Identity(listing(fs, p), inferenceConfs.map(spark.conf.get))
    val key = fs.makeQualified(p).toString
    schemas.get(key) match {
      case Some((`id`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(key, (id, df.schema))
        df
    }
  }

  /** (path, length, modification time) of every file under `p`, sorted;
    * empty when `p` is missing, so the miss's inference fails as Spark's
    * own read does (PATH_NOT_FOUND). */
  private def listing(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    val files = Vector.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => }
    files.result().sorted
  }
}

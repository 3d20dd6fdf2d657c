package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.ColumnBridge
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
  * A later read in the session that resolved the file skips even that
  * (the data-source lookup, path check and file-index listing, about
  * 3.5 ms a read): it gets a new instance of that read's relation.
  *
  * The memo's key is everything inference reads: the qualified path, the
  * (path, length, modification time) of every file under it (one driver
  * table file, or a Spark-written directory rewritten in place: new part
  * files, new lengths and times), and the session confs that change an
  * inferred type. A hit costs one driver-side `listStatus` walk; it reads
  * no owner or permission, which without the native Hadoop library costs a
  * forked shell command per file. The memo holds one entry per path, so a
  * rewrite replaces it rather than adding one, and it holds the relation
  * of one session per path: a read from another session keeps the schema
  * and replaces the relation, and a stopped session's relations are
  * dropped then.
  *
  * Each call still returns a fresh relation, never a shared DataFrame:
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

  /** What a path was last read as: its identity, the schema inferred under
    * it, and the relation the last read resolved (in its own session). */
  private final case class Entry(id: Identity, schema: StructType, relation: Option[LogicalRelation])

  /** Qualified path → its [[Entry]]. */
  private val memo = TrieMap.empty[String, Entry]

  /** `spark.read.parquet(path)`, inferring the schema only on a memo miss
    * and resolving the relation only on the session's first read. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val id = Identity(listing(fs, p), inferenceConfs.map(spark.conf.get))
    val key = fs.makeQualified(p).toString
    memo.get(key).filter(_.id == id) match {
      case Some(Entry(_, _, Some(r))) if owner(r) eq spark =>
        ColumnBridge.ofRows(spark, r.newInstance())
      case hit =>
        val df = hit.fold(spark.read.parquet(path))(e => spark.read.schema(e.schema).parquet(path))
        val relation = Some(ColumnBridge.analyzed(df)).collect {
          case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] => r
        }
        memo.put(key, Entry(id, df.schema, relation))
        for ((k, e @ Entry(_, _, Some(r))) <- memo if owner(r).sparkContext.isStopped)
          memo.replace(k, e, e.copy(relation = None))
        df
    }
  }

  /** The session a resolved parquet relation reads with. */
  private def owner(r: LogicalRelation): SparkSession =
    r.relation.asInstanceOf[HadoopFsRelation].sparkSession

  /** (path, length, modification time) of every file under `p`, sorted;
    * empty when `p` is missing, so the miss's inference fails as Spark's
    * own read does (PATH_NOT_FOUND). A `listStatus` walk, not `listFiles`:
    * the latter builds `LocatedFileStatus`es, which read each file's
    * permission, owner and group. */
  private[graft] def listing(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    def walk(p: Path): Seq[(String, Long, Long)] = fs.listStatus(p).toSeq.flatMap { f =>
      if (f.isDirectory) walk(f.getPath)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    try walk(p).sorted catch { case _: java.io.FileNotFoundException => Nil }
  }
}

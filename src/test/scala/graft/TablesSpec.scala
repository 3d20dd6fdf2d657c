package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Success, Try}

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** `graft.Tables` infers each table file's schema once: a warm read runs no
  * Spark job, yet returns what a fresh `spark.read.parquet` infers, follows
  * in-place rewrites and inference confs, and still builds a fresh relation
  * per call. A warm read in the session that resolved the file reuses that
  * relation, and no other session ever gets it. The identity check reads no
  * file's permission, owner or group.
  */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** What a fresh read infers, with `Tables.events`' ts adaptation. */
  private def inferred(dir: String, name: String): StructType = {
    val s = spark.read.parquet(s"$dir/$name.parquet").schema
    if (name != "events") s
    else StructType(s.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
  }

  test("a second load of each table launches no Spark job and keeps the inferred schema") {
    tables.foreach(Tables.load(spark, sf001, _))
    for (name <- tables) {
      val (df, jobs) = jobsOf(Tables.load(spark, sf001, name))
      assert(jobs == 0, s"$name: a warm load launched $jobs jobs")
      assert(df.schema == inferred(sf001, name), name)
    }
  }

  test("a table rewritten in place with a new schema is inferred again") {
    val dir = Files.createTempDirectory("tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t")
    assert(first.schema == inferred(dir, "t"))
    assert(jobsOf(Tables.load(spark, dir, "t"))._2 == 0)
    Seq((1.5, true)).toDF("x", "y").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = Tables.load(spark, dir, "t")
    assert(second.schema == inferred(dir, "t"))
    assert(second.schema.fieldNames.toSeq == Seq("x", "y"))
    assert(second.as[(Double, Boolean)].collect().toSeq == Seq((1.5, true)))
  }

  test("two loads of one table self-join on their own keys") {
    val a = Tables.load(spark, sf001, "orders")
    val b = Tables.load(spark, sf001, "orders")
    val n = a.count()
    assert(n > 0)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == n)
  }

  test("a change of an inference conf infers again") {
    // ts as TIMESTAMP(NANOS), as earlier events drops shipped it (long under
    // graft.Session's nanosAsLong), and as pyarrow-written micros
    // (TIMESTAMP_NTZ unless NTZ inference is off)
    val dir = Files.createTempDirectory("tables").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/nanos.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1500000000123456789L))
    w.close()
    Files.copy(Paths.get(s"$sf001/events.parquet"), Paths.get(s"$dir/micros.parquet"))
    def viaTables(n: String) = Try(Tables.load(spark, dir, n).schema("ts").dataType)

    assert(viaTables("nanos") == Success(LongType))
    assert(viaTables("micros") == Success(TimestampNTZType))
    // Spark has no type for NANOS without nanosAsLong: inference fails
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      assert(viaTables("nanos").failed.get.getMessage.contains("PARQUET_TYPE_ILLEGAL"))
    }
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      assert(viaTables("micros") == Success(TimestampType))
      assert(spark.read.parquet(s"$dir/micros.parquet").schema("ts").dataType == TimestampType)
    }
    assert(viaTables("nanos") == Success(LongType))
    assert(viaTables("micros") == Success(TimestampNTZType))
  }

  test("loads from concurrent Par legs agree on the schema") {
    val dir = Files.createTempDirectory("tables").toString
    Seq((1L, "a", 2.0)).toDF("k", "v", "w").write.parquet(s"$dir/t.parquet")
    val got = Par((1 to 4).map(_ => () => Tables.load(spark, dir, "t").schema): _*)
    assert(got.distinct == Seq(inferred(dir, "t")))
    val warm = Par((1 to 4).map(_ => () => Tables.load(spark, sf001, "lineitem").schema): _*)
    assert(warm.distinct == Seq(inferred(sf001, "lineitem")))
  }

  /** The parquet relation `df` reads. */
  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }
      .get.asInstanceOf[HadoopFsRelation]

  test("a warm load is a fresh instance of the session's relation") {
    Tables.load(spark, sf001, "orders")
    val (a, b) = (Tables.load(spark, sf001, "orders"), Tables.load(spark, sf001, "orders"))
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) & ids(b)).isEmpty)
    assert(relation(a) eq relation(b))
  }

  test("a second session never gets the first session's relation") {
    val other = spark.newSession()
    def owner(s: SparkSession) = relation(Tables.load(s, sf001, "lineitem")).sparkSession
    assert(owner(spark) eq spark)
    val (theirs, jobs) = jobsOf(owner(other))
    assert(theirs eq other)
    assert(jobs == 0, s"a load in a second session launched $jobs jobs")
    assert(owner(spark) eq spark)
    assert(owner(other) eq other)
  }

  test("the identity check reads no permission, owner or group") {
    val dir = Files.createTempDirectory("tables").toString
    spark.range(3).write.parquet(s"$dir/t.parquet")
    val fs = new TablesSpec.GetterCountingFs
    fs.initialize(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val located = {
      val it = fs.listFiles(new Path(s"$dir/t.parquet"), true)
      val b = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        b += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      b.result().sorted
    }
    assert(fs.getters.get > 0, "a located listing reads them: the counter works")
    fs.getters.set(0)
    assert(Tables.listing(fs, new Path(s"$dir/t.parquet")) == located)
    assert(Tables.listing(fs, new Path(s"$dir/missing.parquet")).isEmpty)
    assert(fs.getters.get == 0)
  }
}

object TablesSpec {
  /** The local file system, counting each read of a listed file's
    * permission, owner or group. */
  final class GetterCountingFs extends RawLocalFileSystem {
    val getters = new AtomicInteger

    override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map { s =>
      new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
          s.getModificationTime, s.getPath) {
        override def getPermission: FsPermission = { getters.incrementAndGet(); super.getPermission }
        override def getOwner: String = { getters.incrementAndGet(); super.getOwner }
        override def getGroup: String = { getters.incrementAndGet(); super.getGroup }
      }
    }
  }
}
